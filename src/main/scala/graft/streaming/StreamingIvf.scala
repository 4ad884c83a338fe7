package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming IVF index maintenance: as new embeddings arrive, assign
  * each to its (deterministic) nearest IVF centroid and fold it into
  * per-list index state — list cardinality plus a bounded member
  * sample — with `mapGroupsWithState`. The batch index
  * ([[Similarity.annIvf]]) and this maintainer share one assignment
  * function, so a vector lands in the same list whether it arrived in
  * a bulk build or on a stream; an ANN probe against the maintained
  * index sees exactly the batch index's lists.
  *
  * Scale shape: assignment is stateless per row (the centroid table is
  * a closure constant, k x dim doubles), so the only stateful work is
  * one keyed fold over `lists` keys — state is O(lists x cap), bounded
  * regardless of stream length, and the shuffle per micro-batch
  * carries (list_id, vec_id) pairs only, never the vectors. Centroid
  * RE-learning (full Lloyd's rounds) stays a periodic batch job —
  * since round 13 an EXECUTABLE one: [[retrainAudit]] (or the
  * artifact-side `annNeedsRebuild`) decides, and
  * [[Similarity.annRebuildIfNeeded]] retrains/re-encodes/swaps with
  * the header re-stamped, after which ingest resumes through the
  * header-driven `annAppendAt` (the same two verbs serve SQ8 and
  * PCA/OPQ artifacts, whose kinds add bounds saturation and basis
  * capture as staleness signals). Streaming only maintains
  * membership — the standard split for production vector indexes.
  */
object StreamingIvf {
  final case class EmbRecord(vec_id: Long, embedding: Seq[Float])
  final case class IvfListState(list_id: Int, n: Long, members: Seq[Long])

  /** Stateless nearest-centroid assignment (batch or streaming). */
  def assignments(emb: DataFrame, dim: Int = 64, lists: Int = 16): DataFrame =
    emb.withColumn("list_id", Similarity.ivfAssignUdf(dim, lists)(col("embedding")))

  /** The periodic RE-TRAINING decision this maintainer's Scaladoc
    * promises, computed from the maintained state rows alone: per-list
    * load vs the uniform share and the rebuild flag
    * ([[Similarity.listBalanceFromCounts]] — the same audit
    * `ivfPqListBalance`/`annNeedsRebuild` run over persisted
    * IVF-PQ artifacts). Frozen centroids drift out from under a
    * growing stream; when any list trips, schedule the batch
    * kmeans re-learn.
    */
  def retrainAudit(states: Dataset[IvfListState], lists: Int = 16,
                   rebuildPm: Long = 3000L): DataFrame =
    Similarity.listBalanceFromCounts(
      states.toDF().select(col("list_id").cast("long").as("list_id"),
        col("n").as("n_vectors")),
      lists, rebuildPm)

  /** Keyed fold maintaining per-list state: total count and the `cap`
    * smallest member ids (a deterministic bounded sample, so the final
    * state is independent of batch boundaries and arrival order).
    */
  def maintain(emb: Dataset[EmbRecord], dim: Int = 64, lists: Int = 16,
               cap: Int = 64): Dataset[IvfListState] = {
    val spark = emb.sparkSession
    import spark.implicits._
    assignments(emb.toDF(), dim, lists)
      .select(col("list_id"), col("vec_id")).as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (listId: Int, rows: Iterator[(Int, Long)], state: GroupState[IvfListState]) =>
          val prev = state.getOption.getOrElse(IvfListState(listId, 0L, Vector.empty))
          val ids = rows.map(_._2).toVector
          val next = IvfListState(listId, prev.n + ids.size,
            (prev.members ++ ids).sorted.take(cap))
          state.update(next)
          next
      }
  }
}
