package graft.core

import scala.collection.immutable.{SortedMap, SortedSet}
import scala.collection.mutable

/** Memoized replay cache + shelve/merge orchestration — the reference's
  * `WorkCache` (/root/reference/crates/esvc-core/src/workcache.rs:12-479).
  *
  * `sts` maps an applied-event-set to its materialized datum, seeded with
  * `{} -> init` (workcache.rs:61-65). Replay is an *ordered,
  * non-commutative* fold, which is why the distributed flavor
  * ([[graft.operators.Replay]]) is a sort-within-partition streaming fold
  * and not an `Aggregator`.
  *
  * Shelve/merge are inherently sequential per event (each shelve mutates
  * the graph — workcache.rs:419-479), so they run as driver-side
  * orchestration here; the per-round commutation tests (the parallel
  * part) are pure `Engine` calls and can fan out over executors when the
  * frontier is large.
  */
final case class IndepCase[A, D](concEvid: String, concCmd: Int, concArg: A, concBase: D)

/** One commutation-test BASE construction: the "everything except
  * `concEvid`" state, expressed as a shared prefix datum plus the pure
  * ordered suffix fold that completes it — the shippable form of the
  * replay (no graph, no memo, just (cmd, arg) pairs and a start state).
  */
final case class BaseTask[A, D](concEvid: String, start: D, suffix: Vector[(Int, A)])

/** One whole shelve ROUND in shippable form: the new event under test
  * (`cmd`/`arg`/`curSt`), the full linearization's (cmd, arg) list,
  * CHUNKED prefix states, and the fast-path conc events as
  * (evid, position) pairs. Every entry's base replay and commutation
  * test derive from the SHARED order + anchors — a fan-out broadcasts
  * them once instead of shipping a start datum and a suffix copy per
  * entry (the 480-branch soak measured that per-entry shipping as the
  * dominant remaining round cost).
  *
  * The prefix states are the datums of the round's ONE memoized walk
  * of `order` (the walk that also yields the round's base state), memo
  * hit or engine call alike; the driver never refolds the order. A
  * memo hit may hold a datum folded in another linearization of the
  * same event set, which is equal because events with no dependency
  * path between them commute — the invariant every memoized replay
  * (and so `materialize`) already rests on.
  *
  * Prefix states are carried as every `anchorStride`-th state
  * (`anchors(j)` = state before `order(j * anchorStride)`), NOT all
  * n+1 of them: a full vector is O(n * |D|) broadcast bytes per round
  * — O(n^2 * |D|) per merge, which at 480 branches with MB-scale data
  * (the wasm-engine shape) is hundreds of GB on the wire. A task
  * refolds at most `anchorStride - 1` events from its nearest anchor
  * ([[prefixAt]]); with the sqrt(n) stride the builder picks, that
  * extra work is O(sqrt(n)) against a suffix fold already averaging
  * n/2 — sub-3% per task — while broadcast bytes drop sqrt(n)-fold.
  */
final case class ShelveRound[A, D](cmd: Int, arg: A, curSt: D,
                                   order: Vector[(Int, A)],
                                   anchors: Vector[D], anchorStride: Int,
                                   entries: Vector[(String, Int)]) {
  /** The state before `order(p)`: nearest anchor at or below p, plus
    * at most `anchorStride - 1` engine folds.
    */
  def prefixAt(engine: Engine[A, D], p: Int): D = {
    var i = (p / anchorStride) * anchorStride
    var st = anchors(p / anchorStride)
    while (i < p) {
      st = engine.runEvent(order(i)._1, order(i)._2, st)
      i += 1
    }
    st
  }
}

final class WorkCache[A, D](
    val engine: Engine[A, D], initData: D,
    /** Optional batch independence tester for the OP-9 commutation
      * tests — the embarrassingly parallel part of shelve. When set
      * (e.g. [[graft.plans.ShelveSpark.tester]]), each round's tests
      * fan out over executors; results must match the sequential
      * classification exactly (property-tested).
      */
    val indepTester: Option[(Int, A, D, Seq[IndepCase[A, D]]) => Map[String, Boolean]] = None,
    /** Optional batch builder for the commutation-test BASE states —
      * the other embarrassingly parallel half of a shelve round
      * (round-11: the 480-branch soak measured these driver-side
      * replays dwarfing the tests they feed). Each [[BaseTask]] is a
      * pure fold; when set (e.g.
      * [[graft.plans.ShelveSpark.baseBuilder]]) a round's bases build
      * across executors. Must equal [[WorkCache.replayTask]] per task
      * (property-tested).
      */
    val baseBuilder: Option[Seq[BaseTask[A, D]] => Map[String, D]] = None,
    /** Optional FUSED round executor: base fold + commutation test in
      * one task per conc event, all derived from ONE shared
      * [[ShelveRound]] (order + prefix states broadcast once; entries
      * are (evid, position) pairs). A base state is consumed by
      * exactly one test, so fusing halves the per-round fan-outs,
      * never ships folded states back to the driver, and never ships
      * per-entry suffix copies out. Supersedes [[baseBuilder]] +
      * [[indepTester]] for fast-path concs; the structural-fallback
      * concs (non-delete-in-place linearizations) still materialize
      * and flow through [[indepTester]]. Must equal
      * [[WorkCache.roundVerdict]] per entry (property-tested).
      */
    val fusedTester: Option[ShelveRound[A, D] => Map[String, Boolean]] = None,
    /** Upper bound on memoized prefix states. The reference memoizes
      * every prefix forever (workcache.rs:12-15) — the classic
      * memory-for-time trade; at 100x session length that OOMs the
      * driver. Eviction is LRU, so the hot frontier states (re-read by
      * every shelve round) stay resident while deep cold prefixes age
      * out and are transparently recomputed on a miss.
      */
    val memoCap: Int = WorkCache.DefaultMemoCap) {
  require(memoCap >= 1, "memoCap must be positive")

  /** State memo: applied event set -> materialized datum, LRU-bounded
    * at [[memoCap]] entries. The empty-set seed (`{} -> init`,
    * workcache.rs:61-65) is pinned: every replay starts there, so
    * evicting it would make the cache unrecoverable.
    */
  private val sts = new java.util.LinkedHashMap[SortedSet[String], D](64, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SortedSet[String], D]): Boolean = false
  }
  sts.put(SortedSet.empty[String], initData)

  private def stGet(key: SortedSet[String]): Option[D] = Option(sts.get(key))

  private def stPut(key: SortedSet[String], d: D): Unit = {
    sts.put(key, d)
    if (sts.size() > memoCap) {
      // evict from the LRU end, skipping the pinned seed
      val it = sts.entrySet().iterator()
      while (sts.size() > memoCap && it.hasNext) {
        if (it.next().getKey.nonEmpty) it.remove()
      }
    }
  }

  /** Resident memo entries (seed included) — for tests/introspection. */
  def memoSize: Int = sts.size()

  private sealed trait DepSt
  private case object Use extends DepSt
  private case object UseSoft extends DepSt
  private case object Deny extends DepSt

  /** Ordered, memoized replay of `deps` over the cached state for `tt0`.
    * Every prefix state is cached. Mirrors `run_deps`
    * (workcache.rs:68-108).
    */
  def runDeps(graph: EventGraph[A], tt0: SortedSet[String], deps: Seq[String]): (D, SortedSet[String]) =
    walk(graph, tt0, deps)(_ => ())

  /** [[runDeps]] that also hands back every prefix datum it passes:
    * `states(i)` is the state before `deps(i)` and `states(deps.length)`
    * the result, whether each came from the memo or the engine.
    */
  private[graft] def walkPrefixes(graph: EventGraph[A], tt0: SortedSet[String],
                                 deps: Seq[String]): (Vector[D], SortedSet[String]) = {
    val states = Vector.newBuilder[D]
    val (_, tt) = walk(graph, tt0, deps)(states += _)
    (states.result(), tt)
  }

  private def walk(graph: EventGraph[A], tt0: SortedSet[String], deps: Seq[String])
                  (visit: D => Unit): (D, SortedSet[String]) = {
    var tt = tt0
    var data = stGet(tt).getOrElse(throw new DatasetNotFound)
    visit(data)
    deps.foreach { evid =>
      val evwd = graph.events.getOrElse(evid, throw new DependencyNotFound(evid))
      val key = tt + evid
      stGet(key) match {
        case Some(cached) => data = cached
        case None =>
          data = engine.runEvent(evwd.cmd, evwd.arg, data)
          stPut(key, data)
      }
      visit(data)
      tt = key
    }
    (data, tt)
  }

  /** Linearize + replay: the reference's query-execution entry point
    * (`run_foreach_recursively`, workcache.rs:110-117).
    */
  def runForeachRecursively(graph: EventGraph[A], evids: SortedMap[String, IncludeSpec]): (D, SortedSet[String]) = {
    val deps = graph.calculateDependencies(SortedSet.empty, evids)
    runDeps(graph, SortedSet.empty, deps)
  }

  def materialize(graph: EventGraph[A], state: SortedSet[String]): (D, SortedSet[String]) =
    runForeachRecursively(graph, SortedMap.from(state.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))

  private def includeAll(it: Iterable[String]): SortedMap[String, IncludeSpec] =
    SortedMap.from(it.iterator.map(_ -> (IncludeSpec.All: IncludeSpec)))

  /** Infer the minimal dependency set of a new event against the seed
    * frontier by commutation testing, then register it. Returns None iff
    * the event is a no-op. `ev.deps` is ignored (recomputed). Mirrors
    * `shelve_event` (workcache.rs:121-417): no-op elimination
    * (159-162, 208-211), the revert / equal-but-non-idempotent / general
    * independence tests (271-330), the backward dependency-minimization
    * loop, and the lost-dependency audit with soft-dep fallback (343-393).
    */
  def shelveEvent(graph: EventGraph[A], seedDeps0: SortedSet[String], cmd: Int, arg: A): Option[String] = {
    var seedDeps = seedDeps0
    val curDeps = mutable.TreeMap.empty[String, DepSt]

    // expected state after applying the new event on the full seed closure
    locally {
      val (baseSt, _) = runForeachRecursively(graph, includeAll(seedDeps))
      val curSt = engine.runEvent(cmd, arg, baseSt)
      if (curDeps.isEmpty && baseSt == curSt) return None // no-op event
    }

    var loop = seedDeps.nonEmpty
    while (loop) {
      var newSeedDeps = SortedSet.empty[String]
      seedDeps = seedDeps.filter(h => !curDeps.contains(h))

      val useDeps = curDeps.iterator.collect { case (h, Use) => h }.toVector
      // ONE memoized walk of the round's full linearization: its last
      // datum is the base state, and every datum it passes (memo hit or
      // engine call) is a prefix state the fast-path concs below start
      // from (seedDeps holds no curDeps key here, so no Deny filter)
      val fullOrder = graph.calculateDependencies(SortedSet.empty,
        includeAll(seedDeps.iterator.concat(useDeps.iterator).to(Iterable)))
      val (prefixStates, _) = walkPrefixes(graph, SortedSet.empty, fullOrder)
      val baseSt = prefixStates.last
      val curSt = engine.runEvent(cmd, arg, baseSt)
      if (curDeps.isEmpty && baseSt == curSt) return None // no-op event

      var extraNewSeedDeps = SortedSet.empty[String]

      // per concurrent frontier event: the event-set of "everything except
      // conc itself" (IncludeOnlyDeps for conc, IncludeAll for the rest).
      // The replayed datum is carried alongside the event-set — it must
      // not be re-read from the memo, which may have evicted it by now.
      //
      // PREFIX-SHARED construction: a non-deferred conc is, by the
      // deferral test itself, a dependency of nothing in the list, so
      // removing it changes no other event's Kahn depth — the "except
      // conc" linearization is the FULL linearization with conc deleted
      // in place. Its replay therefore equals the walk's prefix state
      // before conc's position + a pure fold of the suffix: the one
      // walk above replaces ~n memoized replays of ~n events each, and
      // the suffix folds are shippable [[BaseTask]]s that
      // [[baseBuilder]] fans out across executors. A structural
      // surprise (except-order NOT a delete-in-place) falls back to
      // the memoized path, so semantics cannot drift.
      val seedDeps2 = mutable.TreeMap.empty[String, D]
      val posOf = fullOrder.iterator.zipWithIndex.toMap
      val fastPath = Vector.newBuilder[(String, Int)]
      seedDeps.foreach { concEvid =>
        val incl = SortedMap.from(
          (seedDeps.iterator ++ useDeps.iterator).map { i =>
            i -> (if (i == concEvid) IncludeSpec.OnlyDeps else IncludeSpec.All: IncludeSpec)
          })
        val exceptOrder = graph.calculateDependencies(SortedSet.empty, incl)
        if (exceptOrder.contains(concEvid)) {
          // pulled in by another dependency — defer to the next seed round
          extraNewSeedDeps += concEvid
        } else {
          val p = posOf(concEvid)
          val deleteInPlace = exceptOrder.length == fullOrder.length - 1 && {
            var ok = true
            var i = 0
            while (ok && i < exceptOrder.length) {
              ok = exceptOrder(i) == fullOrder(if (i < p) i else i + 1)
              i += 1
            }
            ok
          }
          if (deleteInPlace) fastPath += ((concEvid, p))
          else
            seedDeps2.update(concEvid, runDeps(graph, SortedSet.empty, exceptOrder)._1)
        }
      }
      // resolve fast-path concs: fused (fold + test in one fan-out off
      // the round-shared order/prefixes) when available, else
      // materialize bases (parallel or sequential) into seedDeps2
      val fusedVerdicts: Map[String, Boolean] = {
        val fp = fastPath.result()
        fusedTester match {
          case Some(ft) if fp.length > 1 =>
            // sqrt(n) anchor stride: broadcast bytes per round drop
            // from (n+1)|D| to ~sqrt(n)|D| while each task refolds at
            // most stride-1 events off its anchor — noise against the
            // ~n/2-event suffix fold it already runs (see ShelveRound)
            val stride = math.max(1, math.ceil(math.sqrt(fullOrder.length + 1.0)).toInt)
            val anchors = (0 to fullOrder.length by stride)
              .map(prefixStates).toVector
            ft(ShelveRound(cmd, arg, curSt,
              fullOrder.map { id => val e = graph.events(id); (e.cmd, e.arg) },
              anchors, stride, fp))
          case _ =>
            val ts = fp.map { case (evid, p) =>
              BaseTask(evid, prefixStates(p),
                fullOrder.drop(p + 1).map { id =>
                  val e = graph.events(id); (e.cmd, e.arg)
                })
            }
            val built = baseBuilder match {
              case Some(bb) if ts.length > 1 => bb(ts)
              case _ => ts.iterator.map(t => t.concEvid -> WorkCache.replayTask(engine, t)).toMap
            }
            built.foreach { case (id, st) => seedDeps2.update(id, st) }
            Map.empty
        }
      }

      val cases = seedDeps2.iterator.map { case (concEvid, base) =>
        val concEv = graph.events(concEvid)
        IndepCase(concEvid, concEv.cmd, concEv.arg, base)
      }.toVector
      val verdicts: Map[String, Boolean] = fusedVerdicts ++ (indepTester match {
        case Some(t) if cases.length > 1 => t(cmd, arg, curSt, cases)
        case _ => cases.iterator.map(c =>
          c.concEvid -> WorkCache.isIndependent(engine, cmd, arg, curSt, c)).toMap
      })
      // every non-deferred conc, in evid order (the order curDeps
      // updates were always applied in — seedDeps2 was the sorted
      // superset before the fused path existed)
      val nonDeferred = (seedDeps2.keySet ++ fusedVerdicts.keys).toVector.sorted
      nonDeferred.foreach { concEvid =>
        val concEv = graph.events(concEvid)
        val isIndep = verdicts(concEvid)
        if (isIndep) {
          // independent -> walk backward to conc's own deps
          newSeedDeps = newSeedDeps ++ concEv.deps.keysIterator
        } else {
          // dependent -> becomes a hard dep; its hard deps are subsumed
          if (!curDeps.contains(concEvid)) curDeps.update(concEvid, Use)
          concEv.deps.foreach { case (dep, isHard) => if (isHard) curDeps.update(dep, Deny) }
        }
      }

      if (extraNewSeedDeps != seedDeps) newSeedDeps = newSeedDeps ++ extraNewSeedDeps

      // lost-dependency audit: replay with the reduced seed set and check
      // the final state still matches; fall back to soft deps if not
      val useDeps2 = curDeps.iterator.collect { case (h, Use) => h }.toVector
      val (bareSt, bareTt) = runForeachRecursively(
        graph,
        includeAll(newSeedDeps.filter(h => !curDeps.get(h).contains(Deny)) ++ useDeps2))
      var tmpSt = engine.runEvent(cmd, arg, bareSt)
      seedDeps = seedDeps.diff(bareTt)
      seedDeps.foreach { concEvid =>
        val concEv = graph.events(concEvid)
        tmpSt = engine.runEvent(concEv.cmd, concEv.arg, tmpSt)
      }
      if (curSt != tmpSt) {
        // a necessary dependency got lost: add all current seeds as soft
        require(
          !curDeps.exists { case (h, s) => (s == Deny || s == Use) && seedDeps.contains(h) },
          "soft-dep fallback would overwrite resolved deps")
        seedDeps.foreach(h => curDeps.update(h, UseSoft))
        loop = false
      } else {
        seedDeps = newSeedDeps
        loop = seedDeps.nonEmpty
      }
    }

    val deps = SortedMap.from(curDeps.iterator.collect {
      case (dep, Use) => dep -> true
      case (dep, UseSoft) => dep -> false
    })
    val (collision, evhash) = graph.ensureEvent(Ev(cmd, arg, deps))
    if (collision.isDefined) throw new HashCollision(evhash)
    Some(evhash)
  }

  /** Merge parallel branches by re-shelving every non-common event onto
    * the growing common frontier, in hash order. O(n^2) by design
    * (reference README.md:5-6). Mirrors `try_merge` (workcache.rs:419-479)
    * including the only-soft-deps-changed hash-stability exemption.
    */
  def tryMerge(graph: EventGraph[A], states: SortedSet[String]): Unit = {
    val fullSeedDeps: SortedSet[String] = SortedSet.from(
      graph.calculateDependencies(
        SortedSet.empty,
        SortedMap.from(states.iterator.map(_ -> (IncludeSpec.OnlyDeps: IncludeSpec)))))

    var seedDeps: SortedSet[String] =
      SortedSet.from(graph.foldState(SortedMap.from(fullSeedDeps.iterator.map(_ -> false)), expand = false).keysIterator)

    states.foreach { i =>
      if (!fullSeedDeps.contains(i)) {
        val ev = graph.events(i)
        shelveEvent(graph, seedDeps, ev.cmd, ev.arg) match {
          case Some(ih) =>
            if (ih != i) {
              val oldHard = graph.events(i).deps.filter(_._2)
              val newHard = graph.events(ih).deps.filter(_._2)
              if (oldHard != newHard) throw new HashChangeAtMerge(i, ih)
              // else: only soft deps changed — carry on
            }
            seedDeps = seedDeps + i
          case None => throw new NoopAtMerge(i)
        }
      }
    }
  }
}

object WorkCache {
  /** Default [[WorkCache.memoCap]]: generous enough that interactive
    * sessions never evict, small enough that a datum of a few KB keeps
    * the memo well under driver-heap scale.
    */
  val DefaultMemoCap: Int = 4096

  /** The pure suffix fold a [[BaseTask]] denotes — shared by the
    * driver fallback and every parallel base builder, so the two paths
    * are equal by construction.
    */
  def replayTask[A, D](engine: Engine[A, D], t: BaseTask[A, D]): D = {
    var st = t.start
    t.suffix.foreach { case (c, a) => st = engine.runEvent(c, a, st) }
    st
  }

  /** One fused round entry: fold the "except conc at position p" base
    * off the round's shared prefixes/order, then run the commutation
    * test — the kernel every [[WorkCache.fusedTester]] implementation
    * and the sequential fallback share.
    */
  def roundVerdict[A, D](engine: Engine[A, D], r: ShelveRound[A, D],
                         concEvid: String, p: Int): Boolean = {
    var st = r.prefixAt(engine, p)
    var i = p + 1
    while (i < r.order.length) {
      st = engine.runEvent(r.order(i)._1, r.order(i)._2, st)
      i += 1
    }
    isIndependent(engine, r.cmd, r.arg, r.curSt,
      IndepCase(concEvid, r.order(p)._1, r.order(p)._2, st))
  }

  /** The OP-9 independence classification (workcache.rs:271-330),
    * shared by the sequential path and any batch tester: revert and
    * equal-but-non-idempotent are dependent; otherwise conc is
    * independent iff applying the new event first changes state AND
    * conc still applies on top to reach the same result.
    */
  def isIndependent[A, D](engine: Engine[A, D], cmd: Int, arg: A, curSt: D,
                          c: IndepCase[A, D]): Boolean =
    if (curSt == c.concBase) false
    else if (cmd == c.concCmd && arg == c.concArg) false
    else {
      val evFirst = engine.runEvent(cmd, arg, c.concBase)
      val evFirstThen = engine.runEvent(c.concCmd, c.concArg, evFirst)
      evFirst != evFirstThen && evFirstThen == curSt
    }
}
