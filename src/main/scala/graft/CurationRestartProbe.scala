package graft

import graft.streaming.{StreamingCuration, StreamingCurationFull,
  StreamingDecontaminate, StreamingSemDecontaminate}
import org.apache.spark.sql.functions._

/** Restart-under-checkpoint soak of the COUNTED curation chain — the
  * graduation evidence for `countedGrams = true`: a deployment's
  * stream STOPS mid-soak (deploy, crash, rebalance) and a fresh
  * process resumes from the checkpoint. The counted gram index's
  * whole safety story rides on micro-batch-id stamps staying MONOTONE
  * across that boundary, so this probe proves, on a real
  * FileStreamSource + checkpoint (not MemoryStream, which cannot
  * resume across a restart):
  *
  *   - stamp continuity: the first post-restart data batch's id
  *     continues above everything the first generation logged (read
  *     back from the `gramsc_ingest` watermark header), with zero
  *     stamp refusals — live removals keep landing across the seam;
  *   - the DueCheck floor relearn: a fresh process recreates its
  *     `countedGramCompactDue` with the remembered fold floor LOST —
  *     at most ONE extra (possibly no-op) fold is allowed while the
  *     floor relearns, then the poll goes quiet again;
  *   - zero leaks at close-out: the live counted gram set equals the
  *     grams re-derived from (survivors minus deleted) — the truth a
  *     full rebuild would install — and a band probe of the deleted
  *     docs' own texts surfaces zero deleted priors.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.CurationRestartProbe 12 6 64"
  *   (nBatches, stopAfter, delRate)
  */
object CurationRestartProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.nonEmpty) args(0).toInt else 12
    val stopAfter = if (args.length > 1) args(1).toInt else nBatches / 2
    val delRate = if (args.length > 2) args(2).toInt else 64
    require(stopAfter > 2 && stopAfter < nBatches,
      s"stopAfter must split the soak (2 < $stopAfter < $nBatches)")
    val spark = GraftSession.local()
    import spark.implicits._

    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet").localCheckpoint()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").localCheckpoint()
    val grams = StreamingDecontaminate.benchGrams(spark,
      docs.filter(col("doc_id") % 500 === 3), "text", n = 3)
    val benchIdx = StreamingSemDecontaminate.benchIndex(
      emb.filter(col("vec_id") % 50 === 3), dim = 64)

    val root = java.nio.file.Files.createTempDirectory("cur_restart").toString
    val (spool, stateDir, ckpt) = (s"$root/spool", s"$root/state", s"$root/state/ckpt")
    new java.io.File(spool).mkdirs()
    val gramsPath = s"$stateDir/grams"
    val metrics = scala.collection.mutable.ArrayBuffer
      .empty[StreamingCurationFull.BatchMetrics]

    // a REAL restartable source: each soak batch is one spool file
    // (maxFilesPerTrigger=1), the checkpoint's file log carries the
    // read position across generations — the deployment shape
    val docSchema = org.apache.spark.sql.Encoders
      .product[StreamingCuration.DocRecord].schema
    def startChain() = StreamingCurationFull.start(
      spark.readStream.schema(docSchema).option("maxFilesPerTrigger", "1")
        .parquet(spool).as[StreamingCuration.DocRecord],
      docs, emb, grams, benchIdx, stateDir, minOverlap = 8,
      onBatch = metrics += _, checkpointDir = Some(ckpt),
      countedGrams = true)

    val all = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, t) =>
        StreamingCuration.DocRecord(id, t, 1700000000000000L + id * 1000L) }
    val per = math.max(1, all.length / nBatches)
    val slices = all.grouped(per).take(nBatches).toArray
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var decremented = 0L
    val folds = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]

    def ingestWaveOf(i: Int): Long = {
      slices(i).toSeq.toDF("doc_id", "text", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(spool)
      0L
    }
    def removalsFor(i: Int): Unit = if (i >= 2 && delRate > 0) {
      val src = slices(i - 2).map(_.doc_id)
      val stride = math.max(1, src.length / delRate)
      val ids = src.grouped(stride).map(_.head).take(delRate).toSeq
      val delTexts = graft.sources.DeltaLogCompaction.dedupeRetries(
          spark.read.parquet(s"$stateDir/winners"), Seq("doc_id"))
        .filter(col("doc_id").isin(ids.map(java.lang.Long.valueOf): _*))
        .select("doc_id", "text")
      decremented += graft.streaming.StreamingSubstringDedup
        .decrementCounted(delTexts, "text", "doc_id", gramsPath,
          stampId = -(i + 1L))
      graft.operators.Dedup.neardupIndexDeleteAt(spark, s"$stateDir/bands", ids)
      deleted ++= ids
    }
    def ingestMax(): Long =
      graft.sources.ArtifactHeader.read(spark, gramsPath, "gramsc_ingest")
        .flatMap(_.get("max_stamp")).map(_.toLong).getOrElse(-1L)

    // ---------------- generation 1 ----------------
    var check = Option.empty[graft.sources.ArtifactMaintainer.DueCheck]
    var foldBudget = 256L
    def pollFold(i: Int, gen: String): Unit = {
      val maint = new graft.sources.ArtifactMaintainer()
      check.foreach { c =>
        maint.maintainIfDue(Seq(c)).foreach(r =>
          folds += ((i, s"$gen ${r.tasks.map(_.summary).mkString(";")}")))
      }
    }
    val q1 = startChain()
    (0 until stopAfter).foreach { i =>
      ingestWaveOf(i); q1.processAllAvailable()
      removalsFor(i)
      if (i == 0) {
        val rows0 =
          if (graft.sources.ArtifactFiles.hasDataFiles(spark, gramsPath))
            spark.read.parquet(gramsPath).count()
          else 0L
        foldBudget = math.max(256L, rows0 * 3L)
        check = Some(graft.sources.ArtifactMaintainer
          .countedGramCompactDue(spark, gramsPath, maxRows = foldBudget))
      }
      pollFold(i, "gen1")
    }
    q1.stop() // mid-soak shutdown — deploy/crash/rebalance
    val stampAtStop = ingestMax()
    val lastBatchGen1 = metrics.map(_.batch).max
    require(stampAtStop >= 0L, "gen1 never stamped the ingest watermark")

    // ---------------- generation 2 (fresh process semantics) ---------
    // a new process recreates its due-check: the remembered fold floor
    // is LOST — exactly the relearn window the graduation doc budgets
    check = Some(graft.sources.ArtifactMaintainer
      .countedGramCompactDue(spark, gramsPath, maxRows = foldBudget))
    val foldsBefore = folds.size
    val q2 = startChain()
    (stopAfter until nBatches).foreach { i =>
      ingestWaveOf(i); q2.processAllAvailable()
      removalsFor(i)
      pollFold(i, "gen2")
    }
    q2.stop()

    // stamp continuity: batch ids resumed above everything gen1 logged
    val gen2Batches = metrics.map(_.batch).filter(_ > lastBatchGen1)
    require(gen2Batches.nonEmpty,
      "gen2 processed no data batches — the restart never resumed")
    require(gen2Batches.min > lastBatchGen1,
      s"batch ids did not resume monotone: gen1 max $lastBatchGen1, " +
        s"gen2 min ${gen2Batches.min}")
    val stampAtEnd = ingestMax()
    require(stampAtEnd > stampAtStop,
      s"ingest watermark did not advance across the restart " +
        s"($stampAtStop -> $stampAtEnd)")
    val allBatches = metrics.map(_.batch)
    require(allBatches == allBatches.sorted && allBatches.distinct == allBatches,
      s"batch ids not strictly increasing: $allBatches")
    // floor relearn: at most ONE extra fold right after the restart
    val gen2Folds = folds.size - foldsBefore
    require(gen2Folds <= 1 + folds.take(foldsBefore).size.min(1),
      s"gen2 folded $gen2Folds times — the relearn budget is one")

    // ---------------- zero-leak close-out ----------------
    val delArr = deleted.map(java.lang.Long.valueOf).toSeq
    val keptIds = graft.sources.DeltaLogCompaction.dedupeRetries(
        spark.read.parquet(s"$stateDir/survivors"), Seq("doc_id"))
      .select("doc_id").filter(!col("doc_id").isin(delArr: _*))
    val keptTexts = graft.sources.DeltaLogCompaction.dedupeRetries(
        spark.read.parquet(s"$stateDir/winners"), Seq("doc_id"))
      .select("doc_id", "text").join(keptIds, Seq("doc_id"), "left_semi")
    val expected = graft.operators.Curation
      .gramTable(keptTexts, "text", "doc_id", 8)._2.select("h").distinct()
    val live = graft.streaming.StreamingSubstringDedup
      .countedLive(spark, gramsPath)
    val diff = expected.join(live, Seq("h"), "left_anti")
      .unionByName(live.join(expected, Seq("h"), "left_anti")).count()
    require(diff == 0L,
      s"RESTART-SOAK VIOLATION: live gram set diverges from the " +
        s"surviving-corpus derivation by $diff hashes")
    val probeDocs = docs.filter(col("doc_id").isin(delArr: _*))
      .select("doc_id", "text").limit(64)
    val store = graft.sources.DeltaLogCompaction.dedupeRetries(
      spark.read.parquet(s"$stateDir/winners"), Seq("doc_id"))
      .select("doc_id", "text")
    val hits = graft.operators.Dedup.nearDupAgainstIndexAt(spark, store,
        probeDocs, s"$stateDir/bands", "text", "doc_id", threshold = 0.4)
      .filter(col("doc_prior").isin(delArr: _*)).count()
    require(hits == 0L,
      s"RESTART-SOAK VIOLATION: $hits deleted priors surfaced post-restart")

    folds.foreach { case (i, s) =>
      println(s"""{"fold":{"after_batch":$i,"summary":"$s"}}""") }
    println(s"""{"metric":"curation_restart_soak","dir":"$dir",""" +
      s""""batches":$nBatches,"stop_after":$stopAfter,""" +
      s""""gen1_max_batch":$lastBatchGen1,"gen2_min_batch":${gen2Batches.min},""" +
      s""""stamp_at_stop":$stampAtStop,"stamp_at_end":$stampAtEnd,""" +
      s""""deleted_total":${deleted.size},"live_decrements":$decremented,""" +
      s""""gen2_relearn_folds":$gen2Folds,""" +
      s""""live_set_equals_surviving_derivation":true,""" +
      s""""deleted_prior_hits":$hits}""")
    println("RESTART-SOAK-OK")
    spark.stop()
  }
}
