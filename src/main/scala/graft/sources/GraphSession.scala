package graft.sources

import graft.core._
import graft.plans.GraphOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.{SortedMap, SortedSet}
import scala.collection.mutable

/** Frames-only graph session — the 100x-scale counterpart of
  * [[GraphStore]]'s load/merge path.
  *
  * [[GraphStore.load]] is faithful to the reference's
  * whole-graph-in-RAM session (crates/exvc/src/main.rs:267-275,
  * README.md:8-11): it `collect()`s the events table into a driver
  * [[EventGraph]]. That is the right shape for an interactive editing
  * session on a small branch — and the wrong one for a persisted store
  * with millions of events, where the driver must never materialize
  * the event table at all.
  *
  * This session keeps the graph WHERE IT LIVES (the `events` parquet
  * table, keyed by content hash) and the driver holds ONLY the named
  * frontiers (`nstates` — names x antichain hashes, small by the
  * reference's own data model) between operators. A dependency closure
  * (inside `compress`, `mergeFrom` and [[editingGraph]]) holds its BFS
  * state on the driver while it is small: ids only, never payloads, at
  * most 500k ids (GraphOps' `BroadcastRows`) plus one level's distinct
  * deps per edge-table partition; a larger closure runs distributed.
  * Every operator is the corresponding
  * [[graft.plans.GraphOps]] bulk plan:
  *
  *  - `validate` — content-hash recompute on the executors (same JVM
  *    kernel as the driver path, [[Hashes.eventHash]]); returns a
  *    mismatch count, never rows.
  *  - `compress` — `fold_state(expand=false)` (graph.rs:59-83) as
  *    closure + anti-join; the driver receives the resulting
  *    antichain (and the closure's BFS state within the bound above).
  *  - `linearize` — deterministic topological rounds, returned as a
  *    DataFrame (the bulk `calculate_dependencies` analog).
  *  - `mergeFrom` — the exvc `m<` flow (main.rs:54-111) at graph
  *    level: distributed foreign validation, closure-bounded import
  *    with dangling-dependency and collision audits (OP-3), parquet
  *    append, frontier compression of the union.
  *
  * Engine-level shelve / tryMerge (dependency re-inference,
  * workcache.rs:121-479) are inherently sequential per event — each
  * shelve mutates the graph — and replay the active state's full
  * closure; they stay on the driver [[WorkCache]] by reference design.
  * [[editingGraph]] is the bridge: it materializes ONLY the active
  * state's dependency closure (other branches and dead history never
  * reach the driver), with a hard cap guarding driver scale.
  */
final class GraphSession[A] private (
    val spark: SparkSession,
    val engine: Engine[A, _],
    val path: String) {

  /** Driver-held named frontiers — the only graph data the driver
    * keeps resident.
    */
  val states: mutable.TreeMap[String, SortedSet[String]] = mutable.TreeMap.empty

  /** The persisted event table. A `def`: appends made by [[mergeFrom]]
    * are visible to every subsequent operator.
    */
  def events: DataFrame = spark.read.parquet(s"$path/events")

  /** Dependency edge view `(id, dep)` (id depends on dep). */
  def edges: DataFrame = GraphSession.edgesOf(events)

  def eventCount: Long = events.count()

  private def seedsDF(hashes: Iterable[String]): DataFrame = {
    import spark.implicits._
    spark.createDataset(hashes.toSeq).toDF("id")
  }

  /** Distributed integrity check: recompute every event's content hash
    * on the executors and count mismatches (0 = valid). The kernel is
    * the same [[Hashes.eventHash]] the driver path uses, so agreement
    * is by construction.
    */
  def validate(): Long = GraphSession.invalidCount(events)

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
    * level, never materializing either event table on the driver:
    *
    *  1. foreign store validated distributively (hash recompute);
    *  2. import set = closure of the foreign state over foreign edges
    *     (never the whole foreign store — dead foreign branches do not
    *     travel); a closure id with no foreign row throws
    *     [[DependencyNotFound]] before anything is written;
    *  3. collision audit (OP-3): same hash, different payload aborts;
    *  4. new events (anti-join on hash) appended to the events table;
    *  5. frontier union compressed distributively; `nstates` updated
    *     and persisted.
    *
    * Engine-level re-shelving of divergent events (the reference's
    * workcache `try_merge`) is the [[editingGraph]] + [[WorkCache]]
    * path — it replays payloads and is sequential by design.
    *
    * @return the merged frontier stored under `stateName`
    */
  def mergeFrom(foreignPath: String, stateName: String = ""): SortedSet[String] = {
    val foreign = spark.read.parquet(s"$foreignPath/events")
    val fStates = spark.read.parquet(s"$foreignPath/nstates").collect()
      .map(r => r.getString(0) -> SortedSet.from(r.getSeq[String](1))).toMap
    val fst = fStates.getOrElse(stateName, SortedSet.empty[String])
    if (fst.isEmpty) return states.getOrElse(stateName, SortedSet.empty[String])

    val bad = GraphSession.invalidCount(foreign)
    if (bad > 0)
      throw new EngineException(s"foreign graph at $foreignPath: $bad events fail hash validation")

    val needed = GraphOps.closure(seedsDF(fst), GraphSession.edgesOf(foreign))
      .withColumnRenamed("id", "hash")
    val imports = foreign.join(needed, Seq("hash"), "left_semi").localCheckpoint()
    GraphSession.requireFound(needed, imports)

    // collision audit (graph.rs:52-53): deps compare as sorted entry
    // arrays (map equality is not a comparable SQL operation)
    val collision = imports.as("f").join(events.as("l"), "hash")
      .filter(col("f.cmd") =!= col("l.cmd") ||
        col("f.arg") =!= col("l.arg") ||
        array_sort(map_entries(col("f.deps"))) =!= array_sort(map_entries(col("l.deps"))))
      .select("hash").limit(1).collect()
    if (collision.nonEmpty) throw new HashCollision(collision.head.getString(0))

    imports.join(events.select("hash"), Seq("hash"), "left_anti")
      .select("hash", "cmd", "arg", "deps")
      .write.mode("append").option("compression", "zstd").parquet(s"$path/events")
    graft.plans.CheckpointHygiene.free(imports)

    val union = states.getOrElse(stateName, SortedSet.empty[String]) ++ fst
    val minimized = compress(union)
    if (minimized.nonEmpty) states.update(stateName, minimized)
    saveStates()
    minimized
  }

  /** Persist the named frontiers (tiny: names x antichain). */
  def saveStates(): Unit = {
    val rows = states.iterator.map { case (n, st) => Row(n, st.toSeq) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), GraphStore.nstatesSchema)
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/nstates")
  }

  /** Driver-side editing bridge for engine-level shelve / tryMerge:
    * materialize ONLY the active state's dependency closure into an
    * [[EventGraph]] (validated through the content-addressed insert
    * path). Other branches and dead history stay in the store. `cap`
    * refuses closures beyond driver scale — editing a branch whose
    * history genuinely exceeds it means replaying that many payloads
    * sequentially, which no session shape makes cheap (the reference
    * accepts the same bound by loading everything, README.md:8-11). A
    * closure hash with no stored event throws [[DependencyNotFound]].
    */
  def editingGraph(stateName: String = "", cap: Long = 1000000L): EventGraph[A] = {
    val st = states.getOrElse(stateName, SortedSet.empty[String])
    val g = new EventGraph[A](engine)
    if (st.isEmpty) return g
    val need = closureDF(st).withColumnRenamed("id", "hash")
    val n = need.count()
    if (n > cap)
      throw new EngineException(s"state '$stateName' closure has $n events, beyond driver cap $cap")
    // toLocalIterator: one partition in driver memory at a time —
    // halves peak driver footprint vs collect() under the same cap
    events.join(need, Seq("hash"), "left_semi").toLocalIterator().forEachRemaining { r =>
      val stored = r.getAs[String]("hash")
      val ev = Ev(r.getAs[Int]("cmd"), engine.decodeArg(r.getAs[Array[Byte]]("arg")),
        SortedMap.from(r.getAs[Map[String, Boolean]]("deps")))
      val (coll, h) = g.ensureEvent(ev)
      if (coll.isDefined) throw new HashCollision(h)
      if (h != stored)
        throw new EngineException(s"stored hash $stored does not match recomputed $h")
    }
    if (g.events.size < n) GraphSession.requireFound(need, events)
    g.nstates.update(stateName, st)
    g
  }
}

object GraphSession {
  /** Open a persisted store ([[GraphStore.save]] layout) frames-only:
    * the driver reads just `nstates`.
    */
  def open[A](spark: SparkSession, engine: Engine[A, _], path: String): GraphSession[A] = {
    val s = new GraphSession[A](spark, engine, path)
    spark.read.parquet(s"$path/nstates").collect().foreach { r =>
      s.states.update(r.getString(0), SortedSet.from(r.getSeq[String](1)))
    }
    s
  }

  /** Refuse a dependency closure `need` (column `hash`) with a hash
    * that `found` has no event for — the edge view counts such a hash
    * in the closure but no row backs it.
    */
  private def requireFound(need: DataFrame, found: DataFrame): Unit =
    need.join(found.select("hash"), Seq("hash"), "left_anti").limit(1).collect()
      .headOption.foreach(r => throw new DependencyNotFound(r.getString(0)))

  private def edgesOf(ev: DataFrame): DataFrame =
    ev.select(col("hash").as("id"), explode(map_keys(col("deps"))).as("dep"))

  private def invalidCount(df: DataFrame): Long = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("hash"), col("cmd"), col("arg"), col("deps"))
      .as[(String, Int, Array[Byte], Map[String, Boolean])]
      .filter { t => Hashes.eventHash(t._2, t._3, SortedMap.from(t._4)) != t._1 }
      .count()
  }
}
