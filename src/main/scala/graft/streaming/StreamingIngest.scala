package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import graft.operators.EventReplay
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming ingest: file source -> ordered per-user replay
  * in `flatMapGroupsWithState` -> durable parquet sink — the full
  * Structured Streaming pipeline over the event log, not just the
  * in-memory [[StreamingReplay.replay]] kernel.
  *
  * The event table is staged into time-ranged files (a stand-in for an
  * arriving log: at 100 TB this is the object-store prefix a log
  * shipper appends to), consumed one file per micro-batch with
  * `Trigger.AvailableNow` (process-everything-then-stop — the batch
  * parity mode), and every micro-batch's updated user states are
  * appended to the sink with their batch id. The final state per user
  * must equal the batch replay's — asserted by [[main]] and the
  * stream-parity test.
  *
  * Chronological staging matters: replay is an ordered NON-COMMUTATIVE
  * fold (workcache.rs:68-108), so the source must deliver a user's
  * events across micro-batches in causal order. Time-ranged file
  * slices + oldest-first file listing give exactly that; within a
  * batch, [[StreamingReplay.replay]] sorts by `(ts, event_id)`.
  */
object StreamingIngest {
  /** Stage the events table as `slices` chronological parquet files
    * under `inDir`, with ascending modification times so the file
    * source lists them oldest-first.
    */
  def stageEventLog(spark: SparkSession, sfDir: String, inDir: String, slices: Int): Unit = {
    val ev = EventReplay.loadEvents(spark, sfDir)
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
    // global chronological ntile: staging-only (a log shipper would
    // write time-ranged files natively); fine at demo/test scale
    val sliced = ev.withColumn("slice",
      ntile(slices).over(Window.orderBy(col("ts"), col("event_id"))))
    Files.createDirectories(Paths.get(inDir))
    (1 to slices).foreach { i =>
      val tmp = s"$inDir/_tmp_slice"
      sliced.filter(col("slice") === i).drop("slice")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = Paths.get(inDir, f"slice_$i%03d.parquet")
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(1000000L + i * 10000L))
    }
    // clear the staging dir so the stream only sees slice files
    val tmp = new File(s"$inDir/_tmp_slice")
    Option(tmp.listFiles()).foreach(_.foreach(_.delete()))
    tmp.delete()
  }

  /** Run the staged pipeline: one file per micro-batch, replay with
    * keyed state, append each batch's updates to `outDir`. Returns the
    * number of non-empty micro-batches the sink received.
    */
  def runPipeline(spark: SparkSession, inDir: String, outDir: String, ckptDir: String): Long = {
    import spark.implicits._
    val schema = spark.read.parquet(inDir).schema
    val source = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .as[EventRecord]
    val replayed = StreamingReplay.replay(source)
    val query = replayed.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[UserState], batchId: Long) =>
        batch.toDF().withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(outDir)
      }
      .start()
    query.awaitTermination()
    spark.read.parquet(outDir).agg(countDistinct(col("batch_id"))).head().getLong(0)
  }

  /** Final per-user state from the sink: the row with the highest
    * cumulative event count (ties to the latest batch), cast to the
    * same decimal(18,2)->double surface as the batch replay.
    */
  def finalStates(spark: SparkSession, outDir: String): Map[Long, Double] = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n_events").desc, col("batch_id").desc)
    spark.read.parquet(outDir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("state").cast("decimal(18,2)").cast("double").as("state"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** Stage + stream + compare against the batch replay. Distinct
    * `runId` keys the work dirs so test and main runs don't collide.
    */
  def runAndCompare(spark: SparkSession, sfDir: String, workDir: String,
                    slices: Int = 4): (Long, Int, Int) = {
    def rm(p: File): Unit = {
      Option(p.listFiles()).foreach(_.foreach(rm)); p.delete()
    }
    rm(new File(workDir))
    val inDir = s"$workDir/in"
    val outDir = s"$workDir/out"
    stageEventLog(spark, sfDir, inDir, slices)
    val nBatches = runPipeline(spark, inDir, outDir, s"$workDir/ckpt")
    val streamed = finalStates(spark, outDir)
    val batch = EventReplay.replayPerUser(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val missing = (batch.keySet diff streamed.keySet).size +
      (streamed.keySet diff batch.keySet).size
    val mismatched = batch.count { case (uid, exp) =>
      streamed.get(uid).forall(got => math.abs(got - exp) > 1e-9)
    }
    (nBatches, missing, mismatched)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_stream_ingest"
    val spark = graft.GraftSession.local()
    val (nBatches, missing, mismatched) = runAndCompare(spark, sfDir, workDir)
    if (missing == 0 && mismatched == 0 && nBatches >= 2)
      println(s"STREAM-INGEST-OK batches=$nBatches")
    else {
      println(s"STREAM-INGEST-FAIL batches=$nBatches missing=$missing mismatched=$mismatched")
      sys.exit(1)
    }
    spark.stop()
  }
}
