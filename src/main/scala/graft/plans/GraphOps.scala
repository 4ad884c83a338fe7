package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Distributed flavors of the reference's graph algebra
  * (/root/reference/crates/esvc-core/src/graph.rs) as DataFrame
  * operators. The event-dependency relation is a plain edge table
  * `(id, dep)`; every traversal is an equi-join, frontier compression is
  * an anti-join, topological linearization is Kahn rounds — exactly the
  * shapes Catalyst optimizes (broadcast selection, AQE, pushdown).
  *
  * Scale notes (100 TB path):
  *  - fixpoint loops carry only the *frontier* forward (BFS), never
  *    re-join the whole closure;
  *  - a small traversal pays one job per level: while [[closure]]'s
  *    visited set is below `BroadcastRows` ids, it and the frontier are
  *    driver-side id sets (ids only, never payloads; at most
  *    `BroadcastRows` ids plus one level's distinct deps per edge-table
  *    partition), and each level is one `collect()` of the frontier's
  *    deps;
  *  - past that bound every round is `localCheckpoint()`ed to cut
  *    lineage growth — the #1 driver-killer in iterative Spark jobs;
  *  - the frontier side of each join is broadcast when small (it almost
  *    always is), so rounds are map-side joins with no shuffle of the
  *    big edge table beyond the first.
  */
object GraphOps {
  private val BroadcastRows = 500000L

  /** Transitive closure (reachable set) of `seeds` over `edges(id, dep)`
    * following id -> dep, i.e. the reference's `fold_state(expand=true)`
    * (graph.rs:59-83). Returns one column `id` of the edge table's id
    * type.
    *
    * Two regimes, one result. While the visited set stays below
    * `BroadcastRows` — the size at which the frontier and the visited
    * set would be broadcast through the driver anyway — both live on the
    * driver as id sets and each level is ONE job: a `collect()` of the
    * frontier's deps, filtered on the executors by a broadcast of the
    * frontier and deduplicated per partition; the global dedup and the
    * set difference happen on the driver. Once the visited set plus the
    * level just collected reaches `BroadcastRows`, those sets seed the
    * distributed loop and no later level is collected; distinct seeds of
    * that size start there. The driver never holds payloads, and never
    * more than `BroadcastRows` ids plus one level's distinct deps per
    * edge-table partition. Termination: every level adds at least one
    * new id to a finite visited set.
    */
  def closure(seeds: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select(col("id"), col("dep"))
    val t = e.schema("id").dataType
    val s0 = seeds.select(col("id").cast(t).as("id"))
    // byte-array ids have no value equality on the driver
    val driverSeeds =
      if (t == BinaryType) None
      else Some(s0.limit(BroadcastRows.toInt).collect()).filter(_.length < BroadcastRows)
    driverSeeds match {
      case None =>
        val acc = s0.distinct().localCheckpoint()
        val n = acc.count()
        distributedClosure(e, acc, n, acc, n)
      case Some(rows) =>
        val visited = mutable.HashSet.from(rows.iterator.map(_.get(0)))
        var frontier: collection.Set[Any] = visited.toSet
        while (frontier.nonEmpty) {
          val fresh = mutable.HashSet.from(depsOf(frontier, e, t)) --= visited
          if (visited.size + fresh.size >= BroadcastRows) {
            visited ++= fresh
            // the frontier is a driver-built relation: no lineage to cut
            val acc = idFrame(visited, e).localCheckpoint()
            return distributedClosure(e, acc, visited.size, idFrame(fresh, e), fresh.size)
          }
          visited ++= fresh
          frontier = fresh
        }
        idFrame(visited, e)
    }
  }

  /** Deps of the driver-held `ids` in one job: the edge table filtered
    * by a broadcast of the id set (a null id joins nothing, as in SQL),
    * each partition deduplicated before the collect, so a fan-in level
    * ships each shared dep once per partition, not once per edge.
    */
  private[graft] def depsOf(ids: collection.Set[Any], e: DataFrame, t: DataType): Array[Any] = {
    val b = e.sparkSession.sparkContext.broadcast(ids.toSet)
    try e.filter((r: Row) => !r.isNullAt(0) && b.value.contains(r.get(0)))
      .select(col("dep").cast(t)).rdd
      .mapPartitions(_.map(_.get(0)).toSet.iterator).collect()
    finally b.destroy()
  }

  private def idFrame(ids: collection.Set[Any], e: DataFrame): DataFrame =
    e.sparkSession.createDataFrame(ids.iterator.map(Row(_)).toSeq.asJava,
      StructType(Seq(e.schema("id").copy(nullable = true))))

  /** The distributed BFS from a checkpointed visited set `acc0` and a
    * lineage-free frontier `frontier0`: carries only the frontier
    * forward and folds the visited set every four levels.
    */
  private def distributedClosure(e: DataFrame, acc0: DataFrame, acc0Count: Long,
      frontier0: DataFrame, frontier0Count: Long): DataFrame = {
    var acc = acc0
    var accCount = acc0Count
    var frontier = frontier0
    var frontierCount = frontier0Count
    var iter = 0
    // frontiers superseded since the last fold: still union leaves of
    // the unfolded acc, so they are only freeable once acc re-folds
    var lastFold = acc
    val pending = mutable.ArrayBuffer.empty[DataFrame]
    while (frontierCount > 0) {
      val f = if (frontierCount < BroadcastRows) broadcast(frontier) else frontier
      val accSide = if (accCount < BroadcastRows) broadcast(acc) else acc
      val next = e.join(f, "id").select(col("dep").as("id")).distinct()
        .join(accSide, Seq("id"), "left_anti")
        .localCheckpoint()
      frontierCount = next.count()
      if (frontierCount > 0) {
        acc = acc.union(next)
        accCount += frontierCount
        pending += frontier
        // acc is a union of checkpointed leaves; fold the plan down
        // periodically instead of paying a materialization every round,
        // then release the leaves the fold just replaced
        if (iter % 4 == 3) {
          val folded = acc.localCheckpoint()
          CheckpointHygiene.free(pending.toSeq: _*)
          CheckpointHygiene.free(lastFold)
          pending.clear()
          acc = folded
          lastFold = folded
        }
      } else CheckpointHygiene.free(next)
      frontier = next
      iter += 1
    }
    acc
  }

  /** Transitive closure for FUNCTIONAL dependency graphs (every node
    * has at most one dependency — per-entity causal chains and
    * halving-tree graphs qualify) via pointer doubling: the jump table
    * squares each round (2^k-step ancestor pointers), so a depth-d
    * graph needs ceil(log2(d)) rounds instead of BFS's d. At 100 TB
    * event-chain depth is exactly what explodes (a day of one entity's
    * events can be 1e6 deep), so this is the scale path for chains;
    * [[closure]] remains the general-DAG operator.
    */
  def closureFunctional(seeds: DataFrame, edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    // invariant after round k: acc = ancestors within distance 2^k - 1,
    // jump = the exact 2^k-step ancestor pointer (<=1 row per node)
    var jump = edges.select(col("id"), col("dep")).localCheckpoint()
    var acc = seeds.select("id").distinct().localCheckpoint()
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val stepped = acc.join(jump, "id").select(col("dep").as("id")).distinct()
        .join(acc, Seq("id"), "left_anti")
        .localCheckpoint()
      if (stepped.isEmpty) { done = true; CheckpointHygiene.free(stepped) }
      else {
        // every round re-checkpoints acc and jump, so the previous
        // round's blocks (and the consumed frontier) free immediately
        val acc2 = acc.union(stepped).localCheckpoint()
        CheckpointHygiene.free(acc, stepped)
        acc = acc2
        // square the stride: jump2(id) = jump(jump(id))
        val jump2 = jump.as("a")
          .join(jump.as("b"), col("a.dep") === col("b.id"))
          .select(col("a.id").as("id"), col("b.dep").as("dep"))
          .localCheckpoint()
        CheckpointHygiene.free(jump)
        jump = jump2
      }
      round += 1
    }
    CheckpointHygiene.free(jump) // only acc is returned
    acc
  }

  /** Frontier/antichain of a (dependency-closed) state: members that are
    * no other member's dependency — `fold_state(expand=false)`'s retain
    * step (graph.rs:78-81) as a single anti-join.
    */
  def frontier(state: DataFrame, edges: DataFrame): DataFrame = {
    val members = state.select("id")
    val depsOfMembers = edges.join(members, "id").select(col("dep").as("id"))
    members.join(depsOfMembers, Seq("id"), "left_anti")
  }

  /** Deterministic topological linearization by Kahn rounds —
    * `calculate_dependencies` (graph.rs:85-129) re-expressed for bulk
    * evaluation: every node gets a `round` (its dependency depth);
    * `orderBy(round, id)` reproduces a deterministic total order.
    * Throws on dependency cycles (non-empty remainder, no progress).
    */
  def topoRounds(nodes: DataFrame, edges: DataFrame, maxIter: Int = 10000): DataFrame = {
    val n0 = nodes.select("id").distinct()
    // only edges internal to the node set constrain the sort
    val e0 = edges.join(n0, Seq("id"), "left_semi")
      .join(n0.withColumnRenamed("id", "dep"), Seq("dep"), "left_semi")
      .select("id", "dep")

    var remaining = n0.localCheckpoint()
    var remEdges = e0.localCheckpoint()
    // the checkpoint leaves currently backing remaining/remEdges —
    // freeable as soon as a later fold supersedes them ("ready" rounds
    // are returned via out, so those stay)
    var remLeaf = remaining
    var edgeLeaf = remEdges
    var out: DataFrame = null
    var round = 0
    var remainingCount = remaining.count()
    while (remainingCount > 0) {
      if (round >= maxIter) throw new IllegalStateException(s"topoRounds: no fixpoint after $maxIter rounds")
      val ready = remaining.join(remEdges.select("id"), Seq("id"), "left_anti")
        .withColumn("round", lit(round)).localCheckpoint()
      val readyCount = ready.count()
      if (readyCount == 0)
        throw new IllegalStateException(s"dependency circuit: $remainingCount nodes unsortable")
      val readyIds = ready.select("id")
      val b = if (readyCount < BroadcastRows) broadcast(readyIds) else readyIds
      out = if (out == null) ready else out.union(ready)
      remaining = remaining.join(b, Seq("id"), "left_anti")
      remEdges = remEdges.join(b.withColumnRenamed("id", "dep"), Seq("dep"), "left_anti")
      // fold lineage down every few rounds rather than every round
      if (round % 3 == 2) {
        remaining = remaining.localCheckpoint()
        remEdges = remEdges.localCheckpoint()
        CheckpointHygiene.free(remLeaf, edgeLeaf)
        remLeaf = remaining
        edgeLeaf = remEdges
      }
      remainingCount = remainingCount - readyCount
      round += 1
    }
    CheckpointHygiene.free(remLeaf, edgeLeaf) // out carries its own leaves
    if (out == null) n0.withColumn("round", lit(0)) else out
  }

  /** Dependency depth (= Kahn round, deterministic topo key) for
    * FUNCTIONAL dependency graphs via pointer doubling — ceil(log2(d))
    * rounds instead of [[topoRounds]]'s d Kahn rounds. Returns
    * `(id, round)` identical to [[topoRounds]] on such graphs.
    */
  def topoDepthFunctional(nodes: DataFrame, edges: DataFrame, maxRounds: Int = 64): DataFrame = {
    val n0 = nodes.select("id").distinct()
    val e0 = edges.join(n0, Seq("id"), "left_semi")
      .join(n0.withColumnRenamed("id", "dep"), Seq("dep"), "left_semi")
      .select("id", "dep").localCheckpoint()
    // build the 2^k-step pointer levels by repeated squaring, then
    // binary-decompose each node's depth with a DESCENDING-stride sweep
    // (greedy MSB-first — ascending strides strand non-power depths)
    val levels = scala.collection.mutable.ArrayBuffer(
      e0.select(col("id"), col("dep").as("anc"), lit(1).as("d")).localCheckpoint())
    var growing = !levels.last.isEmpty
    while (growing && levels.size < maxRounds) {
      val prev = levels.last
      val sq = prev.as("a").join(prev.as("b"), col("a.anc") === col("b.id"))
        .select(col("a.id").as("id"), col("b.anc").as("anc"), (col("a.d") + col("b.d")).as("d"))
        .localCheckpoint()
      if (sq.isEmpty) growing = false else levels += sq
    }
    var cur = n0.select(col("id"), col("id").as("anc"), lit(0).as("d"))
    levels.reverseIterator.foreach { jump =>
      val j = jump.select(col("id").as("anc"), col("anc").as("janc"), col("d").as("jd"))
      val cur2 = cur.join(j, Seq("anc"), "left")
        .select(col("id"),
          coalesce(col("janc"), col("anc")).as("anc"),
          (col("d") + coalesce(col("jd"), lit(0))).as("d"))
        .localCheckpoint()
      CheckpointHygiene.free(cur) // superseded sweep step (no-op round 1)
      cur = cur2
    }
    // the jump levels fed only the (materialized) sweep steps
    CheckpointHygiene.free(levels.toSeq: _*)
    CheckpointHygiene.free(e0)
    // roots never appear as a jump source, so their d stays 0 — the
    // sweep already yields depth for every node
    cur.select(col("id"), col("d").as("round"))
  }

  /** Content-addressed dedup insert — `ensure_event` (graph.rs:136-154)
    * in bulk: of `incoming`, keep one representative per content hash
    * (smallest `tieBreak`) that does not already exist in `existing`.
    * At scale this is exactly hash-partitioned `dropDuplicates` + an
    * anti-join; no driver-side state.
    *
    * @param hashCol content-hash column present in both frames
    */
  def dedupInsert(existing: DataFrame, incoming: DataFrame, hashCol: String, tieBreak: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(hashCol)).orderBy(col(tieBreak))
    incoming
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(existing.select(hashCol), Seq(hashCol), "left_anti")
  }

  /** Hash-collision audit — same hash, different payload
    * (graph.rs:52-53): inner join on the hash with payload inequality.
    */
  def collisionAudit(a: DataFrame, b: DataFrame, hashCol: String, payloadCols: Seq[String]): DataFrame = {
    val bb = payloadCols.foldLeft(b.withColumnRenamed(hashCol, hashCol)) { (d, c) =>
      d.withColumnRenamed(c, c + "_b")
    }
    val cond: Column = payloadCols.map(c => col(c) =!= col(c + "_b")).reduce(_ || _)
    a.join(bb, hashCol).filter(cond)
  }

  /** Connected components of an undirected edge list `(a, b)`: returns
    * `(id, comp)` where `comp` is the smallest member id of the node's
    * component — the canonical cluster representative for web-scale
    * dedup (near-dup PAIRS are only half the job; transitively-linked
    * duplicate GROUPS must collapse to one survivor, and the link
    * relation is not transitive so groups can chain far beyond any
    * single pair).
    *
    * Algorithm: star contraction — per outer round (1) min-hook every
    * current component node to the smallest of itself and its
    * neighbors, (2) flatten the resulting parent forest to its roots by
    * pointer doubling (each inner step composes the parent map with
    * itself, so a depth-d tree flattens in ceil(log2 d) joins), then
    * (3) contract: relabel the edge list by root and drop self-loops.
    * Components shrink to a point in O(log n) outer rounds — the
    * MapReduce CC bound (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — vs O(diameter) for naive min-label
    * propagation, which matters when duplicate groups chain (mirror
    * farms produce exactly such chains). Every intermediate is
    * localCheckpoint'd and freed; the edge table shrinks monotonically
    * under contraction, so late rounds are cheap.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 64): DataFrame =
    connectedComponentsWithRounds(edges, maxRounds)._1

  /** [[connectedComponents]] plus the number of outer contraction
    * rounds actually run. The O(log n) round bound is the property
    * that makes star contraction viable at 100 TB (each round is a
    * full shuffle of the shrinking pair table); exposing the count
    * makes it soak-testable instead of assumed.
    */
  def connectedComponentsWithRounds(edges: DataFrame, maxRounds: Int = 64): (DataFrame, Int) = {
    val sym = edges.toDF("a", "b")
      .union(edges.toDF("b", "a").select(col("a"), col("b")))
      .filter(col("a") =!= col("b")).distinct()
    var labels = sym.select(col("a").as("id"))
      .distinct().withColumn("comp", col("id")).localCheckpoint()
    var e = sym.localCheckpoint()
    var round = 0
    while (round < maxRounds && !e.isEmpty) {
      // (1) min-hook: parent(c) = min(c, min neighbor) on the contracted graph
      var parent = e.groupBy(col("a").as("c")).agg(min(col("b")).as("p"))
        .select(col("c"), least(col("c"), col("p")).as("p"))
        .localCheckpoint()
      // (2) pointer-double the parent forest flat: p := p o p until
      // fixpoint. Full flattening pays for itself (a partially-flat
      // forest relabels edges to intermediate ancestors and costs
      // extra OUTER rounds — measured ~30% slower end to end with a
      // fixed hop count); the fixpoint test rides along as a flag
      // column on the already-materialized hop frame, so it costs a
      // cheap scan, not an extra join.
      var flat = false
      while (!flat) {
        val hop = parent.as("x")
          .join(parent.as("y"), col("x.p") === col("y.c"), "left")
          .select(col("x.c").as("c"), coalesce(col("y.p"), col("x.p")).as("p"),
            (col("y.p").isNotNull && col("y.p") =!= col("x.p")).as("chg"))
          .localCheckpoint()
        flat = hop.filter(col("chg")).isEmpty
        CheckpointHygiene.free(parent)
        parent = hop
      }
      // (3) contract: relabel components and edges by root, drop self-loops
      val newLabels = labels.as("l")
        .join(parent.as("r"), col("l.comp") === col("r.c"), "left")
        .select(col("l.id").as("id"), coalesce(col("r.p"), col("l.comp")).as("comp"))
        .localCheckpoint()
      val newE = e.as("e")
        .join(parent.as("pa"), col("e.a") === col("pa.c"))
        .join(parent.as("pb"), col("e.b") === col("pb.c"))
        .select(col("pa.p").as("a"), col("pb.p").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
      CheckpointHygiene.free(labels, e, parent)
      labels = newLabels
      e = newE
      round += 1
    }
    CheckpointHygiene.free(e)
    (labels, round)
  }
}
