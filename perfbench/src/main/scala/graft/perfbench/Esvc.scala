package graft.perfbench

import graft.core._
import graft.functions.wasm.WasmEngine
import graft.plans.ShelveSpark
import graft.sources.{GraphSession, GraphStore}
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.{ArraySeq, SortedMap, SortedSet}
import scala.collection.mutable
import scala.reflect.ClassTag
import scala.util.Random

/** One step of a seeded editing script: replace `search` by `repl`. */
final case class Step(search: String, repl: String)

/** A seeded editing script over a datum of `width` fixed-size tokens.
  *
  * The session edits a window of `pool` adjacent tokens in periods of
  * `ckptEvery` steps. Every period has the same shape, so every seed
  * costs about the same: fresh edits that visit the pool in a seeded
  * order (each depends on the token's previous edit), a revert of the
  * edit just made at two fixed slots, one no-op (a search that cannot
  * match), and a closing edit over the whole window, which depends on
  * every token in it and so bounds the frontier and the dependency
  * walk-back of later shelves. The seed picks the window, the visiting
  * order and the branch tokens. Each branch edits one token outside
  * the window, so branches commute with the session and each other.
  */
final class Script(seed: Long, width: Int, pool: Int, sessionLen: Int, branches: Int, ckptEvery: Int) {
  private def tok(g: Int, i: Int): String = f"${('a' + g % 26).toChar}$i%03d"
  private val rnd = new Random(seed)
  private val lo = rnd.nextInt(width - pool - branches + 1)
  val base: String = (0 until width).map(tok(0, _)).mkString("|")
  val session: Vector[Step] = {
    val gen = Array.fill(width)(0)
    var order = Vector.empty[Int]
    var last = -1 // token of the latest fresh edit, for the next revert
    Vector.tabulate(sessionLen) { k =>
      val slot = k % ckptEvery
      if (slot == ckptEvery - 1) {
        val idx = lo until lo + pool
        val from = idx.map(i => tok(gen(i), i)).mkString("|")
        idx.foreach(i => gen(i) += 1)
        Step(from, idx.map(i => tok(gen(i), i)).mkString("|"))
      } else if (slot == 3) {
        Step(tok(25, width + k), tok(24, width + k))
      } else if ((slot == 5 || slot == ckptEvery - 2) && last >= 0) {
        val i = last
        last = -1
        gen(i) -= 1
        Step(tok(gen(i) + 1, i), tok(gen(i), i))
      } else {
        if (order.isEmpty) order = rnd.shuffle((lo until lo + pool).toVector)
        val i = order.head
        order = order.tail
        last = i
        gen(i) += 1
        Step(tok(gen(i) - 1, i), tok(gen(i), i))
      }
    }
  }
  /** Branch edits: tokens after the window's reach, untouched by the session. */
  val branchSteps: Vector[Step] = {
    val used = session.flatMap(s => s.search.split('|').map(_.drop(1).toInt)).toSet
    rnd.shuffle((0 until width).filterNot(used).toVector).take(branches)
      .map(i => Step(tok(0, i), tok(23, i)))
  }
  require(branchSteps.size == branches, s"datum too narrow for $branches branches")

  /** The reference result: every step applied in script order. */
  def sequential(): String = (session ++ branchSteps).foldLeft(base)((d, s) => d.replace(s.search, s.repl))
}

/** Engine adapter: the same script runs on the native and WASM engines. */
final class Kit[A, D](val engine: Engine[A, D], val arg: Step => A,
                      val datum: String => D, val text: D => String)

object Kit {
  def native: Kit[SearArg, String] =
    new Kit(SearEngine, s => SearArg(s.search, s.repl), identity, identity)

  /** The fixture module's mode-1 argument: search/replace with u16 lengths. */
  private def wasmArg(s: Step): ArraySeq[Byte] = {
    val sb = s.search.getBytes(UTF_8); val rb = s.repl.getBytes(UTF_8)
    val hdr = Array[Byte](1, sb.length.toByte, (sb.length >> 8).toByte, rb.length.toByte, (rb.length >> 8).toByte)
    ArraySeq.unsafeWrapArray(hdr ++ sb ++ rb)
  }

  def wasm(module: Array[Byte]): (Kit[ArraySeq[Byte], ArraySeq[Byte]], Double) = {
    val en = new WasmEngine
    val t0 = System.nanoTime()
    en.addCommands(Seq(module))
    val decodeSec = (System.nanoTime() - t0) / 1e9
    (new Kit[ArraySeq[Byte], ArraySeq[Byte]](en, wasmArg,
      s => ArraySeq.unsafeWrapArray(s.getBytes(UTF_8)), d => new String(d.toArray, UTF_8)), decodeSec)
  }
}

final class Esvc(o: Opts, wasm: Boolean) extends Workload {
  private case class Size(width: Int, pool: Int, session: Int, branches: Int, ckptEvery: Int)
  private val size = (o.size, wasm) match {
    case ("tiny", _) => Size(24, 4, 12, 3, 6)
    case (_, false) => Size(64, 8, 100, 16, 12)
    case (_, true) => Size(40, 6, 60, 4, 12)
  }
  private var spark: SparkSession = _
  private var runner: (Script, Rec) => Unit = _
  private var decodeSec = 0.0
  private var memoEntries = 0
  private var cycleNo = 0
  private val results = mutable.ArrayBuffer.empty[(Script, String)]

  private def script(k: Int): Script =
    new Script(o.seed * 1000 + k, size.width, size.pool, size.session, size.branches, size.ckptEvery)

  def prepare(s: SparkSession): Unit = {
    spark = s
    if (wasm) {
      val module = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(o.dataDir, "sear_bindgen.wasm"))
      val (k, d) = Kit.wasm(module); decodeSec = d
      runner = run(k, _, _)
    } else runner = run(Kit.native, _, _)
    results.clear()
  }

  def warmup(): Unit = {
    val r = new Rec
    runner(new Script(o.seed * 1000 - 1, size.width, size.pool, math.min(size.session, 12), math.min(size.branches, 2), size.ckptEvery), r)
    if (r.failed > 0) throw new IllegalStateException(s"warm-up failed: ${r.failures.mkString("; ")}")
  }

  def cycle(rec: Rec): Unit = { cycleNo += 1; runner(script(cycleNo), rec) }

  /** One cycle: edit session, branches, save both graphs, sync, merge. */
  private def run[A: ClassTag, D: ClassTag](k0: Kit[A, D], sc: Script, rec: Rec): Unit = {
    val kit = if (Trace.on) new Kit[A, D](new CountingEngine(k0.engine), k0.arg, k0.datum, k0.text) else k0
    val dir = s"${o.stateDir}/esvc-${System.nanoTime()}"
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuNs()
    val g = new EventGraph[A](kit.engine)
    val wc = cache(kit, sc.base)
    var frontier = SortedSet.empty[String]
    sc.session.foreach { st =>
      val s0 = System.nanoTime()
      rec.op(Trace.span("core.shelve")(wc.shelveEvent(g, frontier, 0, kit.arg(st)))).foreach {
        case Some(h) =>
          frontier = SortedSet.from(g.foldState(SortedMap.from((frontier + h).iterator.map(_ -> false)), expand = false).keysIterator)
        case None => ()
      }
      rec.ops += System.nanoTime() - s0
    }
    g.nstates.update("", frontier)
    // the branches: independent edits shelved on empty seeds, kept as
    // a foreign store
    val fg = new EventGraph[A](kit.engine)
    val fwc = cache(kit, sc.base)
    val heads = sc.branchSteps.flatMap(st => rec.op(Trace.span("core.shelve")(fwc.shelveEvent(fg, SortedSet.empty, 0, kit.arg(st)))).flatten)
    fg.nstates.update("", SortedSet.from(heads))
    rec.op(Trace.span("sources.graph.save")(GraphStore.save(spark, g, s"$dir/local")))
    rec.op(Trace.span("sources.graph.save")(GraphStore.save(spark, fg, s"$dir/foreign")))
    // sync: frames-only merge of the foreign store, then the editing graph
    val ts = System.nanoTime()
    val synced = rec.op {
      val sess = Trace.span("sources.graph.open")(GraphSession.open(spark, kit.engine, s"$dir/local"))
      val merged = Trace.span("sources.graph.merge_from")(sess.mergeFrom(s"$dir/foreign"))
      (merged, Trace.span("sources.graph.editing_graph")(sess.editingGraph()))
    }
    val tm = System.nanoTime()
    rec.sample("sync_s", (tm - ts) / 1e9)
    synced.foreach { case (merged, eg) =>
      val mc = cache(kit, sc.base)
      rec.op {
        Trace.span("core.merge")(mc.tryMerge(eg, merged))
        val minimized = SortedSet.from(eg.foldState(SortedMap.from(merged.iterator.map(_ -> false)), expand = false).keysIterator)
        val (dat, _) = Trace.span("core.materialize")(mc.materialize(eg, minimized))
        results += ((sc, kit.text(dat)))
        memoEntries = mc.memoSize
      }
    }
    val te = System.nanoTime()
    rec.sample("merge_s", (te - tm) / 1e9)
    rec.cycles += te - t0
    rec.cycleCpu += Main.cpuNs() - cpu0
    deleteTree(new java.io.File(dir))
  }

  private def cache[A: ClassTag, D: ClassTag](kit: Kit[A, D], base: String): WorkCache[A, D] = {
    val fused = ShelveSpark.fusedTester(spark, kit.engine)
    val tester = ShelveSpark.tester(spark, kit.engine)
    val bases = ShelveSpark.baseBuilder(spark, kit.engine)
    if (!Trace.on) new WorkCache[A, D](kit.engine, kit.datum(base), Some(tester), Some(bases), Some(fused))
    else {
      def counted[T](n: Int)(body: => T): T = {
        Counters.shelveRounds.incrementAndGet(); Counters.shelveTests.addAndGet(n)
        Trace.span("plans.shelve.round")(body)
      }
      new WorkCache[A, D](kit.engine, kit.datum(base),
        Some((c: Int, a: A, d: D, cs: Seq[IndepCase[A, D]]) => counted(cs.length)(tester(c, a, d, cs))),
        Some((ts: Seq[BaseTask[A, D]]) => counted(ts.length)(bases(ts))),
        Some((r: ShelveRound[A, D]) => counted(r.entries.length)(fused(r))))
    }
  }

  def verify(rec: Rec): Unit = {
    results.foreach { case (sc, got) =>
      val want = sc.sequential()
      rec.check(s"merged datum equals sequential script (seed ${o.seed})", got == want)
      if (wasm) {
        // the native engine on the same script must give the same bytes
        val native = Kit.native
        val d = (sc.session ++ sc.branchSteps).foldLeft(native.datum(sc.base))((d, s) =>
          native.engine.runEvent(0, native.arg(s), d))
        rec.check("native and wasm datums are identical", native.text(d) == got)
      }
    }
    results.clear()
  }

  def detail(rec: Rec): Seq[(String, Double, String)] = {
    val ms = rec.ops.map(_ / 1e6).toSeq
    Seq(
      ("shelve_p50_ms", Stats.median(ms), "ms"),
      ("shelve_p90_ms", Stats.quantile(ms, 0.9), "ms"),
      ("shelve_samples", ms.size.toDouble, "count"),
      ("merge_s", Stats.median(rec.samples("merge_s").toSeq), "s"),
      ("sync_s", Stats.median(rec.samples("sync_s").toSeq), "s"),
      ("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio"))
  }

  def perLayer(jobs: Map[Int, Seq[JobListener.Job]], cycles: Int): Seq[(String, Double, String)] = {
    val n = cycles.toDouble
    def jobsUnder(prefix: String): Seq[JobListener.Job] =
      jobs.iterator.filter { case (id, _) => id >= 0 && Trace.under(id, _.name.startsWith(prefix)) }.flatMap(_._2).toSeq
    val rounds = Trace.named("plans.shelve.round")
    val roundJobs = jobsUnder("plans.shelve")
    val fanned = rounds.count(s => jobs.get(s.id).exists(_.nonEmpty))
    val calls = Counters.engineCallsDriver.get + Counters.engineCallsExec.get
    val busy = Counters.engineBusyNs.get / 1e9
    val tests = Counters.shelveTests.get.toDouble
    Seq(
      ("plans.shelve.rounds", Counters.shelveRounds.get / n, "count"),
      ("plans.shelve.rounds_fanned", fanned / n, "count"),
      ("plans.shelve.tests", tests / n, "count"),
      ("plans.shelve.jobs", roundJobs.size / n, "count"),
      ("plans.shelve.wall_s", Trace.totalSec("plans.shelve") / n, "s"),
      ("plans.shelve.tests_per_job", if (roundJobs.isEmpty) 0.0 else tests / roundJobs.size, "count"),
      ("core.shelve_self_s", Trace.named("core.shelve").map(Trace.selfNs).sum / 1e9 / n, "s"),
      ("core.merge_self_s", Trace.named("core.merge").map(Trace.selfNs).sum / 1e9 / n, "s"),
      ("core.engine_calls_driver", Counters.engineCallsDriver.get / n, "count"),
      ("core.engine_calls_exec", Counters.engineCallsExec.get / n, "count"),
      ("core.engine_busy_s", busy / n, "s"),
      ("core.memo_entries", memoEntries.toDouble, "count"),
      ("functions.wasm.calls", if (wasm) calls / n else 0.0, "count"),
      ("functions.wasm.us_per_call", if (wasm && calls > 0) busy * 1e6 / calls else 0.0, "us"),
      ("functions.wasm.decode_s", if (wasm) decodeSec else 0.0, "s"),
      ("sources.graph.save_s", Trace.totalSec("sources.graph.save") / n, "s"),
      ("sources.graph.merge_from_s", Trace.totalSec("sources.graph.merge_from") / n, "s"),
      ("sources.graph.editing_graph_s", Trace.totalSec("sources.graph.editing_graph") / n, "s"),
      ("sources.graph.jobs", jobsUnder("sources.graph").size / n, "count"))
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
