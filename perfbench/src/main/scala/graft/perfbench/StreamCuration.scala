package graft.perfbench

import graft.operators.{Curation, Dedup, Forget}
import graft.sources.{ArtifactMaintainer, DeltaLogCompaction}
import graft.streaming.{StreamingCuration, StreamingCurationFull, StreamingDecontaminate,
  StreamingSemDecontaminate, StreamingSubstringDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.util.Random

/** The counted-gram curation chain under closed-loop micro-batches with
  * a delete round, the maintainer's due-poll after every batch, and a
  * close-out `forgetDocuments`. Each cycle starts from an empty state
  * directory and feeds the corpus in a seeded order; ingest timestamps
  * follow feed order, so nothing arrives late.
  */
final class StreamCuration(o: Opts) extends Workload {
  // the corpus holds exactly one cycle's batches; the second batch is
  // followed by the one delete round, of ids the first batch fed. Two
  // batches (not more) keep a run inside the comparison's time budget.
  private val nBatches = 2
  private val batchDocs = if (o.size == "tiny") 45 else 110
  private val delRate = 8
  private val delLag = 1 // deletions take ids fed this many batches earlier
  private var spark: SparkSession = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var grams: org.apache.spark.broadcast.Broadcast[Set[String]] = _
  private var benchIdx: StreamingSemDecontaminate.BenchIndex = _
  private var corpus: Array[(Long, String)] = _
  private var cycleNo = 0
  private val stageSec = mutable.LinkedHashMap.empty[String, Double]
  private var batchesSeen = 0
  private val cycleStats = mutable.ArrayBuffer.empty[(Double, Double, Long)] // (pause s, MB, files)
  private val windows = mutable.ArrayBuffer.empty[ArtifactMaintainer.Report]

  def prepare(s: SparkSession): Unit = {
    spark = s
    docs = spark.read.parquet(s"${o.dataDir}/documents.parquet").localCheckpoint()
    emb = spark.read.parquet(s"${o.dataDir}/embeddings.parquet").localCheckpoint()
    // static decontamination assets from a held-out slice of the corpus
    grams = StreamingDecontaminate.benchGrams(spark, docs.filter(col("doc_id") % 500 === 3), "text", n = 3)
    benchIdx = StreamingSemDecontaminate.benchIndex(emb.filter(col("vec_id") % 50 === 3), dim = 64)
    val session = spark
    import session.implicits._
    corpus = docs.select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
  }

  def warmup(): Unit = {
    val r = new Rec
    // one small batch through every stage of the chain
    runCycle(r, new Random(o.seed - 1), batches = 1, batchDocs = 45)
    if (r.failed > 0) throw new IllegalStateException(s"warm-up failed: ${r.failures.mkString("; ")}")
    resetLayer()
  }

  override def resetLayer(): Unit = { stageSec.clear(); batchesSeen = 0; cycleStats.clear(); windows.clear() }

  def cycle(rec: Rec): Unit = {
    cycleNo += 1
    runCycle(rec, new Random(o.seed * 104729 + cycleNo), nBatches, batchDocs)
  }

  private def winners(dir: String): DataFrame =
    DeltaLogCompaction.dedupeRetries(spark.read.parquet(s"$dir/winners"), Seq("doc_id"))

  /** One cycle of `batches` micro-batches of `batchDocs` documents. */
  private def runCycle(rec: Rec, rnd: Random, batches: Int, batchDocs: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val session = spark
    import session.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = s"${o.stateDir}/curation-${System.nanoTime()}"
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[StreamingCurationFull.BatchMetrics]
    val stream = MemoryStream[StreamingCuration.DocRecord]
    val maint = new ArtifactMaintainer(owner = Some(() => Trace.span("streaming.start")(
      StreamingCurationFull.start(stream.toDS(), docs, emb, grams, benchIdx, dir, minOverlap = 8,
        onBatch = m => metrics.add(m), checkpointDir = Some(s"$dir/ckpt"), countedGrams = true))))
    var countedCheck = Option.empty[ArtifactMaintainer.DueCheck]
    // budgets sized so that every cycle's last poll opens a window under
    // live history: the tombstone fold, the gram delta-log fold and file
    // compaction all trip once the deletes and the last batch are in
    def dueChecks: Seq[ArtifactMaintainer.DueCheck] =
      Seq(ArtifactMaintainer.neardupTombstoneFoldDue(spark, s"$dir/bands", Some(s"$dir/winners"),
        maxIds = delRate - 1L)) ++ countedCheck.toSeq ++
        Seq("winners", "bands", "grams").map(a => ArtifactMaintainer.compactDue(spark, s"$dir/$a",
          maxSmallFiles = batches - 1, clusterBy = if (a == "winners") Seq("doc_id") else Nil))

    val order = rnd.shuffle(corpus.toIndexedSeq)
    val fed = mutable.ArrayBuffer.empty[Array[Long]]
    val deleted = mutable.ArrayBuffer.empty[Long]
    var pos = 0
    val timer = new Timer(rec)
    import timer.timedPart
    var pause = 0.0
    var present = 0L // deleted ids that held a winner row when deleted
    timedPart("start_s")(maint.start())
    try {
      (0 until batches).foreach { i =>
        val b = order.slice(pos, pos + batchDocs).zipWithIndex.map { case ((id, text), k) =>
          StreamingCuration.DocRecord(id, text, 1700000000000000L + (pos + k) * 1000L)
        }
        pos += batchDocs
        fed += b.map(_.doc_id).toArray
        timedPart("batch")(Trace.span("streaming.batch") { stream.addData(b); maint.drain() })
        if (i >= delLag) {
          // steady removal from settled history: half the ids held a
          // winner row (when the batch has that many), the rest did not
          val src = fed(i - delLag)
          val won = Trace.untimed(maint.withAccess(winners(dir).filter(col("doc_id").isin(src.map(java.lang.Long.valueOf): _*))
            .select("doc_id").as[Long].collect().toSet))
          val (w, other) = rnd.shuffle(src.toSeq).partition(won)
          val ids = (w.take(delRate / 2) ++ other).take(delRate)
          present += ids.count(won)
          timedPart("delete_s")(maint.withAccess {
            Trace.span("sources.delete.tombstone")(Dedup.neardupIndexDeleteAt(spark, s"$dir/bands", ids))
            Trace.span("sources.delete.decrement") {
              val texts = winners(dir).filter(col("doc_id").isin(ids.map(java.lang.Long.valueOf): _*))
                .select("doc_id", "text")
              StreamingSubstringDedup.decrementCounted(texts, "text", "doc_id", s"$dir/grams", stampId = -(i + 1L))
            }
          })
          deleted ++= ids
        }
        if (i == 0) {
          // the delta-log fold budget is paced off the first batch's log
          val rows0 =
            if (graft.sources.ArtifactFiles.hasDataFiles(spark, s"$dir/grams")) spark.read.parquet(s"$dir/grams").count()
            else 0L
          countedCheck = Some(ArtifactMaintainer.countedGramCompactDue(spark, s"$dir/grams",
            maxRows = math.max(256L, rows0 * 3L / 2)))
        }
        timedPart("poll_s")(Trace.span("sources.maint.poll")(maint.maintainIfDue(dueChecks))).flatten.foreach { r =>
          pause += r.pauseSec; windows += r
        }
      }
      if (deleted.nonEmpty) closeOut(rec, timer, dir, deleted.toSeq, present)
      rec.check("every fed batch was processed", metrics.size >= batches)
    } finally maint.stop()
    metrics.forEach { m =>
      m.stageSec.foreach { case (k, v) => stageSec(k) = stageSec.getOrElse(k, 0.0) + v }
      batchesSeen += 1
    }
    val files = listFiles(new java.io.File(dir)).filterNot(_.getName.startsWith("."))
    cycleStats += ((pause, files.map(_.length()).sum / 1048576.0, files.count(f => !f.getPath.contains("/ckpt/"))))
    rec.sample("docs", pos)
    rec.cycles += timer.timed
    rec.cycleCpu += timer.cpu
    deleteTree(new java.io.File(dir))
  }

  /** Checks with tombstones live, the timed close-out forget, then the
    * checks of the forgotten state.
    */
  private def closeOut(rec: Rec, timer: Timer, dir: String, deleted: Seq[Long], present: Long): Unit = {
    val delArr = deleted.map(java.lang.Long.valueOf)
    // while tombstones may be live, a probe with the deleted documents'
    // own texts must surface none of them as a prior
    rec.check("deleted docs get zero prior hits", {
      val probe = docs.filter(col("doc_id").isin(delArr: _*)).select("doc_id", "text")
      Dedup.nearDupAgainstIndexAt(spark, winners(dir).select("doc_id", "text"), probe, s"$dir/bands",
        "text", "doc_id", threshold = 0.4).filter(col("doc_prior").isin(delArr: _*)).count() == 0L
    })
    rec.check("some deleted doc held a winner row", present > 0L)
    val report = timer.timedPart("forget_s")(Trace.span("operators.forget")(Forget.forgetDocuments(spark, deleted,
      Forget.Targets(bandIndexPath = Some(s"$dir/bands"), winnerStorePath = Some(s"$dir/winners"),
        gramIndexPath = Some(s"$dir/grams"), survivingDocs = Some(() => {
          val surv = DeltaLogCompaction.dedupeRetries(spark.read.parquet(s"$dir/survivors"), Seq("doc_id")).select("doc_id")
          winners(dir).select("doc_id", "text").join(surv, Seq("doc_id"), "left_semi")
        })))))
    rec.check("close-out forget decrements the counted grams, never rebuilds",
      report.exists(r => r.gramRebuild.isEmpty && r.gramDecrement.isDefined))
    rec.check("live counted gram set equals the surviving-corpus derivation", {
      val kept = DeltaLogCompaction.dedupeRetries(spark.read.parquet(s"$dir/survivors"), Seq("doc_id"))
        .select("doc_id").filter(!col("doc_id").isin(delArr: _*))
      val texts = winners(dir).select("doc_id", "text").join(kept, Seq("doc_id"), "left_semi")
      val expected = Curation.gramTable(texts, "text", "doc_id", 8)._2.select("h").distinct()
      val live = StreamingSubstringDedup.countedLive(spark, s"$dir/grams")
      expected.join(live, Seq("h"), "left_anti").unionByName(live.join(expected, Seq("h"), "left_anti")).count() == 0L
    })
    rec.check("no deleted row survives the forget",
      spark.read.parquet(s"$dir/winners").filter(col("doc_id").isin(delArr: _*)).count() == 0L &&
        spark.read.parquet(s"$dir/bands").filter(col("doc_id").isin(delArr: _*)).count() == 0L)
  }

  /** Times the parts of a cycle that count towards its wall. */
  private final class Timer(rec: Rec) {
    var timed = 0L
    var cpu = 0L
    def timedPart[T](sample: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val c0 = Main.cpuNs()
      val r = rec.op(body)
      val dt = System.nanoTime() - t0
      timed += dt
      cpu += Main.cpuNs() - c0
      if (sample == "batch") rec.ops += dt else rec.sample(sample, dt / 1e9)
      r
    }
  }

  def verify(rec: Rec): Unit = ()

  def detail(rec: Rec): Seq[(String, Double, String)] = {
    val batchS = rec.ops.map(_ / 1e9).toSeq
    Seq(
      ("batch_p50_s", Stats.median(batchS), "s"),
      ("ingest_docs_per_s", rec.samples("docs").sum / batchS.sum, "1/s"),
      ("delete_p50_s", Stats.median(rec.samples("delete_s").toSeq), "s"),
      ("forget_s", Stats.median(rec.samples("forget_s").toSeq), "s"),
      ("maint_pause_s", Stats.median(cycleStats.map(_._1).toSeq), "s"),
      ("artifact_mb", Stats.median(cycleStats.map(_._2).toSeq), "MB"),
      ("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio"))
  }

  def perLayer(jobs: Map[Int, Seq[JobListener.Job]], cycles: Int): Seq[(String, Double, String)] = {
    val n = cycles.toDouble
    def jobsUnder(name: String): Seq[JobListener.Job] =
      jobs.iterator.filter { case (id, _) => id >= 0 && Trace.under(id, _.name == name) }.flatMap(_._2).toSeq
    val nb = math.max(1, batchesSeen).toDouble
    val batchJobs = jobsUnder("streaming.batch")
    val tasks = windows.flatMap(_.tasks)
    val forgetJobs = jobsUnder("operators.forget")
    val forgetNs = Trace.named("operators.forget").map(_.wallNs).sum
    val forgetSpark = SparkTotals("operators.forget", forgetJobs, forgetNs, n)
    Seq("winners", "neardup", "admit", "gram_decontam", "semantic", "substring").map(k =>
      (s"streaming.stage.${k}_s", stageSec.getOrElse(k, 0.0) / nb, "s")) ++ Seq(
      ("streaming.batch_jobs", batchJobs.size / nb, "count"),
      ("streaming.batch_shuffle_mb", batchJobs.map(_.shuffleWriteBytes).sum / 1048576.0 / nb, "MB"),
      ("sources.delete.tombstone_s", Trace.totalSec("sources.delete.tombstone") / n, "s"),
      ("sources.delete.decrement_s", Trace.totalSec("sources.delete.decrement") / n, "s"),
      ("sources.maint.windows", windows.size / n, "count"),
      ("sources.maint.fold_s", tasks.filter(t => t.name.contains("fold") || t.name.startsWith("delta_compact")).map(_.sec).sum / n, "s"),
      ("sources.maint.compact_s", tasks.filter(_.name.startsWith("compact:")).map(_.sec).sum / n, "s"),
      ("sources.forget.jobs", forgetJobs.size / n, "count"),
      ("operators.forget.wall_s", forgetNs / 1e9 / n, "s"),
      forgetSpark.find(_._1 == "operators.forget.driver_only_s").get,
      ("sources.artifact_files", Stats.median(cycleStats.map(_._3.toDouble).toSeq), "count"))
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
