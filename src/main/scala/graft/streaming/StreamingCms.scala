package graft.streaming

import graft.operators.{Dedup, Sketches}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the count-min sketch artifact
  * ([[graft.operators.Sketches.cmsBuild]]): each micro-batch appends
  * its OWN batch-local (row, col, c) counter table as delta rows —
  * append-only, never rewritten, like the HLL register log and the MV
  * delta log. CMS counters merge by ADDITION (sum is associative and
  * commutative), so a reader summing c per (row, col) over any number
  * of delta rows gets exactly the counters one batch build over the
  * union would produce — bit-for-bit, and so are all downstream
  * estimates (point frequency, join size). The d x w shape bounds
  * every batch's delta to d*w rows regardless of batch size.
  */
object StreamingCms {
  final case class DocRecord(doc_id: Long, text: String)

  /** `checkpointDir` is a REQUIREMENT of the batch_id stamp in any
    * deployment that can restart — see
    * [[StreamingStarters.checkpointed]] for the contract.
    */
  def start(docs: Dataset[DocRecord], cmsPath: String,
            d: Int = 4, w: Int = 4096,
            checkpointDir: Option[String] = None): StreamingQuery =
    StreamingStarters.checkpointed(docs.writeStream.outputMode("append"), checkpointDir)
      .foreachBatch { (batch: Dataset[DocRecord], batchId: Long) =>
        // the artifact carries its own (d, w): counters are only
        // meaningful under the hash shape they were built with —
        // estimating (or appending) at a different w maps words to
        // different columns and silently returns wrong frequencies
        graft.sources.ArtifactHeader.validateOrStamp(batch.sparkSession, cmsPath,
          "cms", cmsParams(d, w))
        // batch_id stamp: counters merge by SUM, so an at-least-once
        // foreachBatch retry re-appending this batch would otherwise
        // double-count — readers dedupe on (batch_id, row, col), and
        // appendStamped closes the replay-after-fold seam the read-side
        // dedupe cannot see (plus the monotone-stamp refusals)
        graft.sources.DeltaLogCompaction.appendStamped(
          Sketches.cmsBuildBatch(
            batch.toDF().select(explode(Dedup.tokens(col("text"))).as("word")), d, w),
          cmsPath, batchId)
        ()
      }
      .start()

  def cmsParams(d: Int, w: Int): Seq[(String, String)] =
    Seq("d" -> d.toString, "w" -> w.toString)

  /** Current counters: sum-merge the delta log, with foreachBatch
    * retry duplicates removed first (exactly-once on an
    * at-least-once log — [[graft.sources.DeltaLogCompaction.dedupeRetries]]).
    */
  def readSketch(spark: SparkSession, cmsPath: String): DataFrame =
    graft.sources.DeltaLogCompaction.dedupeRetries(
        spark.read.parquet(cmsPath), Seq("row", "col"))
      .groupBy("row", "col").agg(sum(col("c")).as("c"))

  /** Rights-removal WITHOUT rebuild: subtract the removed docs' own
    * cell counts ([[graft.sources.DeltaLogCompaction.retractStamped]])
    * under a negative per-request-unique stamp. (d, w) come FROM the
    * artifact's header, so the retraction cannot run under a foreign
    * hash shape — the same trust convention as [[estimateFrom]].
    * O(removed docs' text); crash-retries are no-ops even across
    * folds (retraction rows survive compaction verbatim).
    */
  def retract(removedDocs: DataFrame, cmsPath: String,
              removalStamp: Long, textCol: String = "text"): Long = {
    val spark = removedDocs.sparkSession
    val hdr = graft.sources.ArtifactHeader.required(spark, cmsPath, "cms")
    graft.sources.DeltaLogCompaction.retractStamped(
      Sketches.cmsBuildBatch(
        removedDocs.select(explode(Dedup.tokens(col(textCol))).as("word")),
        hdr("d").toInt, hdr("w").toInt),
      cmsPath, removalStamp, negate = Seq("c"))
  }

  /** Point-frequency estimates straight from the PERSISTED delta log,
    * trusted through its header: (d, w) come FROM the artifact, so an
    * estimate cannot run under a foreign hash shape — the
    * [[graft.operators.Similarity.annProbeAt]] convention for
    * the sketch family.
    */
  def estimateFrom(spark: SparkSession, cmsPath: String,
                   candidates: DataFrame): DataFrame = {
    val hdr = graft.sources.ArtifactHeader.required(spark, cmsPath, "cms")
    Sketches.cmsEstimate(readSketch(spark, cmsPath), candidates,
      hdr("d").toInt, hdr("w").toInt)
  }
}
