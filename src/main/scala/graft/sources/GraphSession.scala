package graft.sources

import graft.core._
import graft.plans.GraphOps
import graft.sources.GraphStore.StoredEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.{SortedMap, SortedSet}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Persisted graph session — the store-backed counterpart of
  * [[GraphStore]]'s load/merge path, in two regimes chosen per call.
  *
  * [[GraphStore.load]] is faithful to the reference's
  * whole-graph-in-RAM session (crates/exvc/src/main.rs:267-275,
  * README.md:8-11): it `collect()`s the events table into a driver
  * [[EventGraph]]. That is the right shape for an interactive editing
  * session on a small branch — and the wrong one for a persisted store
  * with millions of events, where the driver must never materialize
  * the event table at all.
  *
  * The session keeps the graph WHERE IT LIVES (the `events` parquet
  * table, keyed by content hash) and the driver holds ONLY the named
  * frontiers (`nstates` — names x antichain hashes, small by the
  * reference's own data model) between operators. [[mergeFrom]] and
  * [[editingGraph]] then pick a regime from the events tables' parquet
  * footers (no job):
  *
  *  - driver regime — the tables they read hold fewer rows and fewer
  *    uncompressed bytes than the session's [[GraphSession.DriverBound]]
  *    (a heap fraction): each table is read ONCE, in one collect under
  *    [[GraphStore.eventsSchema]], and validation, closure, the
  *    dangling-dependency and collision audits and frontier compression
  *    run over the held rows, with the same kernels and refusals as the
  *    frames regime. The rows are not kept between calls: each call
  *    re-reads the store, so appends made meanwhile are seen;
  *  - frames regime — past the bound. Every operator is the
  *    corresponding [[graft.plans.GraphOps]] bulk plan, and the event
  *    tables are never materialized on the driver. A dependency closure
  *    holds its BFS state on the driver while it is small: ids only,
  *    never payloads, at most 500k ids (GraphOps' `BroadcastRows`) plus
  *    one level's distinct deps per edge-table partition; a larger
  *    closure runs distributed.
  *
  * The store-wide operators are always frames plans:
  *
  *  - `validate` — content-hash recompute on the executors (same JVM
  *    kernel as the driver path, [[Hashes.eventHash]]); returns a
  *    mismatch count, never rows.
  *  - `compress` — `fold_state(expand=false)` (graph.rs:59-83) as
  *    closure + anti-join; the driver receives the resulting
  *    antichain (and the closure's BFS state within the bound above).
  *  - `linearize` — deterministic topological rounds, returned as a
  *    DataFrame (the bulk `calculate_dependencies` analog).
  *
  * Engine-level shelve / tryMerge (dependency re-inference,
  * workcache.rs:121-479) are inherently sequential per event — each
  * shelve mutates the graph — and replay the active state's full
  * closure; they stay on the driver [[WorkCache]] by reference design.
  * [[editingGraph]] is the bridge: it materializes ONLY the active
  * state's dependency closure (other branches and dead history never
  * reach the [[EventGraph]]), with a hard cap guarding driver scale.
  */
final class GraphSession[A] private (
    val spark: SparkSession,
    val engine: Engine[A, _],
    val path: String,
    bound: GraphSession.DriverBound) {
  import GraphSession._

  /** Driver-held named frontiers — the only graph data the driver
    * keeps resident.
    */
  val states: mutable.TreeMap[String, SortedSet[String]] = mutable.TreeMap.empty

  /** The persisted event table, read under its known schema. A `def`:
    * appends made by [[mergeFrom]] are visible to every subsequent
    * operator.
    */
  def events: DataFrame = spark.read.schema(GraphStore.eventsSchema).parquet(eventsPath)

  private def eventsPath: String = s"$path/events"

  /** Dependency edge view `(id, dep)` (id depends on dep). */
  def edges: DataFrame = edgesOf(events)

  /** The event table's row count, from its parquet footers (no job). */
  def eventCount: Long = ArtifactFiles.footerRows(spark, eventsPath)

  /** True when the events tables at `tables` together fit [[bound]]. */
  private def fitsDriver(tables: String*): Boolean = {
    val sizes = tables.map(ArtifactFiles.footerSize(spark, _))
    sizes.map(_.rows).sum < bound.rows && sizes.map(_.bytes).sum < bound.bytes
  }

  private def seedsDF(hashes: Iterable[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(hashes.toSeq).toDF("id")
  }

  /** Distributed integrity check: recompute every event's content hash
    * on the executors and count mismatches (0 = valid). The kernel is
    * the same [[Hashes.eventHash]] the driver path uses, so agreement
    * is by construction.
    */
  def validate(): Long = invalidCount(events)

  /** Transitive dependency closure of `state` as a one-column (`id`)
    * DataFrame — `fold_state(expand=true)`. An id in it need not have a
    * row in [[events]]: the edge view cannot tell a root from a missing
    * event, so callers that fetch rows check for [[DependencyNotFound]].
    */
  def closureDF(state: Iterable[String]): DataFrame =
    GraphOps.closure(seedsDF(state), edges)

  /** Frontier compression — `fold_state(expand=false)`: members of
    * `union` that are transitive dependencies of other members fold
    * away. The driver receives the antichain; the closure keeps its
    * BFS state on the driver only within [[GraphOps.closure]]'s bound.
    */
  def compress(union: Iterable[String]): SortedSet[String] = {
    import spark.implicits._
    val u = seedsDF(union)
    val direct = edges.join(u, Seq("id"), "left_semi").select(col("dep").as("id"))
    val reach = GraphOps.closure(direct, edges)
    SortedSet.from(u.join(reach, Seq("id"), "left_anti").as[String].collect())
  }

  /** Deterministic topological linearization of `state`'s closure:
    * `(id, round)`; `orderBy(round, id)` is a total replay order — the
    * bulk `calculate_dependencies` (OP-4). Stays distributed.
    */
  def linearize(stateName: String = ""): DataFrame = {
    val st = states.getOrElse(stateName, SortedSet.empty[String])
    GraphOps.topoRounds(closureDF(st), edges)
  }

  /** Merge a foreign persisted graph — the exvc `m<` flow at graph
    * level. Either regime refuses before anything is written:
    *
    *  1. the foreign store is validated (hash recompute), and an
    *     invalid event throws [[EngineException]];
    *  2. import set = closure of the foreign state over foreign edges
    *     (never the whole foreign store — dead foreign branches do not
    *     travel); a closure id with no foreign row throws
    *     [[DependencyNotFound]];
    *  3. collision audit (OP-3): a local row with an imported hash but a
    *     different cmd, arg or deps throws [[HashCollision]];
    *  4. the frontier union's closure over local + imported events must
    *     have a row for every hash — a local state naming an event the
    *     store does not hold throws [[DependencyNotFound]];
    *  5. new events are appended to the events table;
    *  6. the frontier union is compressed; `nstates` is updated and
    *     persisted.
    *
    * When both events tables fit the [[GraphSession.DriverBound]], each
    * is read once and steps 1-4 and 6 run on the held rows. Past the
    * bound, every step is a frames plan (executor-side validation,
    * [[GraphOps.closure]], joins) and neither event table is
    * materialized on the driver.
    *
    * Engine-level re-shelving of divergent events (the reference's
    * workcache `try_merge`) is the [[editingGraph]] + [[WorkCache]]
    * path — it replays payloads and is sequential by design.
    *
    * @return the merged frontier stored under `stateName`
    */
  def mergeFrom(foreignPath: String, stateName: String = ""): SortedSet[String] = {
    val fst = GraphStore.readStates(spark, s"$foreignPath/nstates")
      .getOrElse(stateName, SortedSet.empty[String])
    val union = states.getOrElse(stateName, SortedSet.empty[String]) ++ fst
    if (fst.isEmpty) return union
    val minimized =
      if (fitsDriver(s"$foreignPath/events", eventsPath)) mergeOnDriver(foreignPath, fst, union)
      else mergeFrames(foreignPath, fst, union)
    if (minimized.nonEmpty) states.update(stateName, minimized)
    saveStates()
    minimized
  }

  /** [[mergeFrom]] steps 1-6 over one collect of each events table. */
  private def mergeOnDriver(foreignPath: String, fst: SortedSet[String],
                            union: SortedSet[String]): SortedSet[String] = {
    val foreign = GraphStore.readEvents(spark, s"$foreignPath/events")
    val bad = foreign.count(!_.valid)
    if (bad > 0) throw invalidForeign(foreignPath, bad)
    val fRows = byHash(foreign)
    val imports = closureOnDriver(fst, fRows)
    requireRows(imports, fRows)

    val local = byHash(GraphStore.readEvents(spark, eventsPath))
    imports.toSeq.sorted.find(h => local.get(h).exists(!_.samePayload(fRows(h))))
      .foreach(h => throw new HashCollision(h))
    val fresh = imports.iterator.filterNot(local.contains).map(fRows).toSeq
    val rows = local ++ fresh.iterator.map(e => e.hash -> e)

    requireRows(closureOnDriver(union, rows), rows)
    val reach = closureOnDriver(union.iterator.flatMap(rows(_).deps.keysIterator), rows)
    if (fresh.nonEmpty) GraphStore.writeTable(spark, fresh.map(_.row), GraphStore.eventsSchema,
      "append", eventsPath)
    union.filterNot(reach)
  }

  /** [[mergeFrom]] steps 1-6 as frames plans. */
  private def mergeFrames(foreignPath: String, fst: SortedSet[String],
                          union: SortedSet[String]): SortedSet[String] = {
    val foreign = spark.read.schema(GraphStore.eventsSchema).parquet(s"$foreignPath/events")
    val bad = invalidCount(foreign)
    if (bad > 0) throw invalidForeign(foreignPath, bad)

    val needed = GraphOps.closure(seedsDF(fst), edgesOf(foreign))
      .withColumnRenamed("id", "hash")
    val imports = foreign.join(needed, Seq("hash"), "left_semi").localCheckpoint()
    requireFound(needed, imports)

    // collision audit (graph.rs:52-53): deps compare as sorted entry
    // arrays (map equality is not a comparable SQL operation)
    val collision = imports.as("f").join(events.as("l"), "hash")
      .filter(col("f.cmd") =!= col("l.cmd") ||
        col("f.arg") =!= col("l.arg") ||
        array_sort(map_entries(col("f.deps"))) =!= array_sort(map_entries(col("l.deps"))))
      .select("hash").limit(1).collect()
    if (collision.nonEmpty) throw new HashCollision(collision.head.getString(0))

    // the edge view cannot tell a missing event from a root, so the
    // union's closure is checked against the rows it will have
    val merged = events.unionByName(imports)
    requireFound(GraphOps.closure(seedsDF(union), edgesOf(merged))
      .withColumnRenamed("id", "hash"), merged)

    imports.join(events.select("hash"), Seq("hash"), "left_anti")
      .select("hash", "cmd", "arg", "deps")
      .write.mode("append").option("compression", "zstd").parquet(eventsPath)
    graft.plans.CheckpointHygiene.free(imports)
    compress(union)
  }

  /** Persist the named frontiers (tiny: names x antichain). */
  def saveStates(): Unit = GraphStore.saveStates(spark, states, path)

  /** Driver-side editing bridge for engine-level shelve / tryMerge:
    * materialize ONLY the active state's dependency closure into an
    * [[EventGraph]] (validated through the content-addressed insert
    * path). Other branches and dead history stay in the store. `cap`
    * refuses closures beyond driver scale — editing a branch whose
    * history genuinely exceeds it means replaying that many payloads
    * sequentially, which no session shape makes cheap (the reference
    * accepts the same bound by loading everything, README.md:8-11). A
    * closure hash with no stored event throws [[DependencyNotFound]].
    *
    * When the events table fits the [[GraphSession.DriverBound]], it is
    * read once and the closure is walked over the held rows; past it,
    * the closure is a [[GraphOps.closure]] plan and only its rows reach
    * the driver. Either way the store is read afresh on every call.
    */
  def editingGraph(stateName: String = "", cap: Long = 1000000L): EventGraph[A] = {
    val st = states.getOrElse(stateName, SortedSet.empty[String])
    val g = new EventGraph[A](engine)
    if (st.isEmpty) return g
    def refuseBeyondCap(n: Long): Unit =
      if (n > cap)
        throw new EngineException(s"state '$stateName' closure has $n events, beyond driver cap $cap")
    if (fitsDriver(eventsPath)) {
      val rows = byHash(GraphStore.readEvents(spark, eventsPath))
      val need = closureOnDriver(st, rows)
      refuseBeyondCap(need.size.toLong)
      GraphStore.insertValidated(g, need.iterator.flatMap(rows.get))
      requireRows(need, rows)
    } else {
      val need = closureDF(st).withColumnRenamed("id", "hash")
      val n = need.count()
      refuseBeyondCap(n)
      // toLocalIterator: one partition in driver memory at a time —
      // halves peak driver footprint vs collect() under the same cap
      GraphStore.insertValidated(g, events.join(need, Seq("hash"), "left_semi")
        .toLocalIterator().asScala.map(StoredEvent(_)))
      if (g.events.size < n) requireFound(need, events)
    }
    g.nstates.update(stateName, st)
    g
  }
}

object GraphSession {
  /** The driver regime's bound on the events tables a call reads, summed
    * over them: fewer than `rows` rows and fewer than `bytes`
    * uncompressed column bytes, as their parquet footers state.
    */
  private[graft] final case class DriverBound(rows: Long, bytes: Long)

  private[graft] object DriverBound {
    /** 1/32 of the driver heap for the held rows, split between a byte
      * bound and a row bound. Held as [[StoredEvent]]s keyed by hash, a
      * table measured 1.05-3.0x its footers' uncompressed bytes and
      * ~440 B per row at 10 B arguments (SizeEstimator, stores of 70 to
      * 20k events with 10 B to 8 KiB arguments, 4-core VM), and the
      * collect's rows briefly coexist with the held copy. So
      * `budget / 8` uncompressed bytes peak near 3/4 of the budget, and
      * one row per KiB of budget covers the per-row cost of
      * small-argument rows twice over.
      */
    def ofHeap(): DriverBound = {
      val budget = Runtime.getRuntime.maxMemory / 32
      DriverBound(budget / 1024, budget / 8)
    }
  }

  /** Open a persisted store ([[GraphStore.save]] layout): the driver
    * reads just `nstates`.
    */
  def open[A](spark: SparkSession, engine: Engine[A, _], path: String): GraphSession[A] =
    open(spark, engine, path, DriverBound.ofHeap())

  /** [[open]] with an explicit driver-regime bound. */
  private[graft] def open[A](spark: SparkSession, engine: Engine[A, _], path: String,
                             bound: DriverBound): GraphSession[A] = {
    val s = new GraphSession[A](spark, engine, path, bound)
    s.states ++= GraphStore.readStates(spark, s"$path/nstates")
    s
  }

  private def invalidForeign(foreignPath: String, bad: Long): EngineException =
    new EngineException(s"foreign graph at $foreignPath: $bad events fail hash validation")

  private def byHash(rows: Array[StoredEvent]): Map[String, StoredEvent] =
    rows.iterator.map(e => e.hash -> e).toMap

  /** Ids reachable from `seeds` through the deps of `rows`, seeds
    * included — [[GraphOps.closure]]'s result over the held rows: an id
    * with no row is in the closure but has no deps of its own.
    */
  private def closureOnDriver(seeds: IterableOnce[String],
                              rows: Map[String, StoredEvent]): collection.Set[String] = {
    val seen = mutable.HashSet.from(seeds)
    val stack = mutable.ArrayBuffer.from(seen)
    while (stack.nonEmpty)
      rows.get(stack.remove(stack.length - 1)).foreach(_.deps.keysIterator.foreach { d =>
        if (seen.add(d)) stack += d
      })
    seen
  }

  /** Refuse a closure `ids` with an id (the least, for a stable report)
    * that `rows` holds no event for.
    */
  private def requireRows(ids: collection.Set[String], rows: Map[String, StoredEvent]): Unit =
    ids.iterator.filterNot(rows.contains).minOption.foreach(h => throw new DependencyNotFound(h))

  /** Refuse a dependency closure `need` (column `hash`) with a hash
    * (the least, as [[requireRows]] reports) that `found` has no event
    * for — the edge view counts such a hash in the closure but no row
    * backs it.
    */
  private def requireFound(need: DataFrame, found: DataFrame): Unit =
    Option(need.join(found.select("hash"), Seq("hash"), "left_anti")
        .agg(min(col("hash"))).collect()(0).getString(0))
      .foreach(h => throw new DependencyNotFound(h))

  private def edgesOf(ev: DataFrame): DataFrame =
    ev.select(col("hash").as("id"), explode(map_keys(col("deps"))).as("dep"))

  private def invalidCount(df: DataFrame): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("hash"), col("cmd"), col("arg"), col("deps"))
      .as[(String, Int, Array[Byte], Map[String, Boolean])]
      .filter { t => !StoredEvent(t._1, t._2, t._3, SortedMap.from(t._4)).valid }
      .count()
  }
}
