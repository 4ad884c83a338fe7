package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}

/** Streaming ANN search over a PERSISTED ANN artifact of any kind —
  * the streaming face of [[graft.operators.Similarity.annProbeAt]],
  * pairing round-11's artifact work the way [[StreamingNearDup]] pairs
  * the band index: the index artifact IS the state. Arriving query
  * vectors probe the stored `(id, list_id, codes)` table as a
  * stream-static join; no state store, no watermark — a crashed
  * stream resumes from the artifact as written, and the batch
  * pipeline that owns the index can re-build/append it independently.
  *
  * The per-query top-k is a rank window, which an append-mode
  * streaming plan rejects — so the whole probe runs through
  * foreachBatch, where each completed micro-batch is plain batch data
  * and the full [[Similarity.annProbeAt]] operator is legal
  * UNCHANGED (the [[StreamingSubstringDedup]] posture). Queries are
  * independent rows, so any micro-batch slicing yields exactly the
  * batch operator's verdicts for those queries.
  */
object StreamingAnnProbe {
  final case class VecRecord(vec_id: Long, embedding: Seq[Float])

  /** Run the stream: per micro-batch, probe the artifact at
    * `indexPath` with the batch's query vectors and hand the ranked
    * frame to `sink`. Trusted through the artifact's headers: every
    * shape param and quantizer array comes FROM the index
    * ([[Similarity.annProbeAt]] per micro-batch), so a stream probing a
    * stamped artifact cannot drift from its build — and keeps answering
    * correctly across an [[Similarity.annAppendAt]] growth or an
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
