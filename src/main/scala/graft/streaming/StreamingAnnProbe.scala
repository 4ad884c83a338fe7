package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming ANN search over the PERSISTED IVF-PQ index artifact —
  * the streaming face of [[graft.operators.Similarity.annIvfPqProbe]],
  * pairing round-11's artifact work the way [[StreamingNearDup]] pairs
  * the band index: the index artifact IS the state. Arriving query
  * vectors probe the `(vec_id, list_id, codes)` table as a
  * stream-static join; no state store, no watermark — a crashed
  * stream resumes from the artifact as written, and the batch
  * pipeline that owns the index can re-build/append it independently.
  *
  * The per-query top-k is a rank window, which an append-mode
  * streaming plan rejects — so the whole probe runs through
  * foreachBatch, where each completed micro-batch is plain batch data
  * and the full [[Similarity.annIvfPqProbe]] operator is legal
  * UNCHANGED (the [[StreamingSubstringDedup]] posture). Queries are
  * independent rows, so any micro-batch slicing yields exactly the
  * batch operator's verdicts for those queries.
  */
object StreamingAnnProbe {
  final case class VecRecord(vec_id: Long, embedding: Seq[Float])

  /** Run the stream: per micro-batch, probe the artifact at
    * `indexPath` with the batch's query vectors and hand the ranked
    * (query_id, rank, neighbor_id, score_e6) frame to `sink`.
    * `centroids`/`codebooks` must be the index's build parameters
    * (salted defaults otherwise), exactly as in the batch operator.
    */
  def probeStream(vecs: Dataset[VecRecord], indexPath: String,
                  sink: DataFrame => Unit,
                  k: Int, dim: Int, lists: Int = 16, nprobe: Int = 4,
                  m: Int = 8, codes: Int = 16,
                  centroids: Option[Array[Array[Double]]] = None,
                  codebooks: Option[Array[Array[Array[Double]]]] = None)
  : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          sink(Similarity.annIvfPqProbe(
            spark.read.parquet(indexPath), batch, k, dim, lists, nprobe,
            m, codes, centroids = centroids, codebooks = codebooks))
        }
      }
      .start()

  /** [[probeStream]] trusted through the artifact's round-12 header:
    * every shape param and both quantizer arrays come FROM the index
    * ([[Similarity.annProbeAt]] per micro-batch), so a stream
    * probing a header-stamped artifact cannot drift from its build —
    * and keeps answering correctly across an
    * [[graft.operators.Similarity.ivfPqIndexAppend]] growth or an
    * [[graft.sources.ArtifactCompaction]] rewrite, both of which
    * preserve the header.
    */
  def probeStreamAt(vecs: Dataset[VecRecord], indexPath: String,
                    sink: DataFrame => Unit, k: Int, nprobe: Int = 4)
  : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(Similarity.annProbeAt(batch.sparkSession, indexPath, batch,
            k, nprobe))
      }
      .start()
}
