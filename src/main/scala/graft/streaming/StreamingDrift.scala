package graft.streaming

import graft.operators.Drift
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming distribution-drift monitor: every micro-batch's binned
  * metric histogram is compared (PSI, [[graft.operators.Drift]])
  * against a PERSISTED reference histogram, and the per-stratum PSI
  * rows are appended to a monitor log — the alarm feed a sustained
  * ingest watches so a shifted length/quality/language mix is caught
  * while it happens, not at the next full-corpus audit.
  *
  * The reference is the artifact, built ONCE from the reference
  * corpus ([[writeReference]]) and read as kilobytes per batch —
  * per-batch cost is the batch's own aggregate, independent of
  * reference-corpus size. `n_bins` is a BINDING parameter (PSI over a
  * mis-matched grid mis-scores every bin), so the reference carries
  * it in an [[graft.sources.ArtifactHeader]] and the monitor takes it
  * FROM the artifact: a monitor restarted against a foreign-grid
  * reference refuses loudly instead of silently drifting the drift
  * detector. The stored histogram uses canonical column names
  * (source, bin, n); the header's content hash covers the grid shape.
  */
object StreamingDrift {
  final case class BinRecord(source: String, bin: Long)

  def psiRefParams(nBins: Int): Seq[(String, String)] =
    Seq("n_bins" -> nBins.toString)

  /** Aggregate `ref` (raw rows) into the stored reference histogram
    * and stamp its grid header. Overwrites any previous reference at
    * the path — re-baselining is an explicit, atomic-per-deployment
    * act, unlike the append-only delta logs.
    */
  def writeReference(ref: DataFrame, stratum: String, bin: String,
                     nBins: Int, refPath: String): Unit = {
    Drift.binCounts(ref, stratum, bin)
      .select(col(stratum).as("source"), col(bin).as("bin"), col("n"))
      .coalesce(1).write.mode("overwrite").parquet(refPath)
    graft.sources.ArtifactHeader.write(ref.sparkSession, refPath, "psi_ref",
      psiRefParams(nBins))
  }

  /** The stored histogram plus its stamped grid size; refuses a
    * headerless path (no way to verify the grid it was built on).
    */
  def referenceCounts(spark: SparkSession, refPath: String): (DataFrame, Int) = {
    val hdr = graft.sources.ArtifactHeader.required(spark, refPath, "psi_ref")
    (spark.read.parquet(refPath), hdr("n_bins").toInt)
  }

  /** Start the monitor: per micro-batch, one PSI row per stratum
    * appended to `monitorPath` as (batch_id, source, psi_fp, n_a,
    * n_b) — n_a is the reference total, n_b the batch total.
    */
  def start(vals: Dataset[BinRecord], refPath: String,
            monitorPath: String,
            checkpointDir: Option[String] = None): StreamingQuery =
    StreamingStarters.checkpointed(vals.writeStream.outputMode("append"), checkpointDir)
      .foreachBatch { (batch: Dataset[BinRecord], batchId: Long) =>
        // watermark eviction fires extra NO-DATA micro-batches; PSI
        // against n_b=0 would smooth every stratum to a loud false
        // alarm, so empty batches append nothing (the
        // StreamingCurationFull guard)
        if (!batch.isEmpty) {
        val spark = batch.sparkSession
        // a crashed layout-compaction swap leaves monitorPath missing;
        // the raw append below would recreate the monitor log empty
        graft.sources.SwapRecovery.repair(spark, monitorPath)
        val (ref, nBins) = referenceCounts(spark, refPath)
        Drift.psiFromCounts(ref,
            Drift.binCounts(batch.toDF(), "source", "bin"), "source", "bin", nBins)
          .withColumn("batch_id", lit(batchId))
          .select(col("batch_id"), col("source"), col("psi_fp"),
            col("n_a"), col("n_b"))
          .coalesce(1).write.mode("append").parquet(monitorPath)
        }
        ()
      }
      .start()
}
