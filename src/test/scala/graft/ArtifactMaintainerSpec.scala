package graft

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}

import graft.operators.AnnLifecycle.{IvfPqSpec, IvfSqSpec}
import graft.operators.Similarity
import graft.sources.ArtifactMaintainer
import graft.streaming.{StreamingCuration, StreamingCurationFull,
  StreamingDecontaminate, StreamingSemDecontaminate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The maintenance window as a CODEPATH: live ingest + a concurrent
  * probe loop run straight across a maintain() window with zero
  * refused reads, batch ids resuming from the checkpoint, and the
  * append/rebuild generation backstop never firing.
  */
class ArtifactMaintainerSpec extends AnyFunSuite with SharedSpark {

  test("curation ingest + concurrent probe loop across a compaction window: zero refused reads, ids resume, rows intact") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
    val benchDocs = docsDf.filter(col("doc_id") % 50 === 3)
    val grams = StreamingDecontaminate.benchGrams(spark, benchDocs, "text", n = 3)
    val benchIdx = StreamingSemDecontaminate.benchIndex(
      embDf.filter(col("vec_id") % 50 === 3), dim = 64)

    val root = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val stateDir = s"$root/state"
    val winnersPath = s"$stateDir/winners"
    val bandsPath = s"$stateDir/bands"
    val gramsPath = s"$stateDir/grams"

    // three id-sliced micro-batches delivered as files (one batch per
    // file); the third arrives AFTER the maintenance window
    val all = docsDf.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
    val slices = all.grouped(math.max(1, all.length / 3)).take(3).toSeq
    def writeSlice(i: Int): Unit =
      slices(i).toSeq.map { case (id, t) => (id, t, 1700000000000000L + id * 1000L) }
        .toDF("doc_id", "text", "ingest_ts").coalesce(1)
        .write.mode("overwrite").parquet(s"$root/src/f$i")

    def mkStream() = spark.readStream
      .schema("doc_id BIGINT, text STRING, ingest_ts BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src/*")
      .as[StreamingCuration.DocRecord]

    val maint = new ArtifactMaintainer(owner = Some(() =>
      StreamingCurationFull.start(mkStream(), docsDf, embDf, grams, benchIdx,
        stateDir, minOverlap = 8, checkpointDir = Some(s"$root/ckpt"))))

    writeSlice(0)
    maint.start()
    maint.drain()
    val winnersAfterB0 = spark.read.parquet(winnersPath).count()
    assert(winnersAfterB0 > 0)

    // concurrent probe loop: every artifact read goes through the
    // shared side of the maintenance lock, so the compaction swap's
    // path-missing instant is invisible to it
    val running = new AtomicBoolean(true)
    val probes = new AtomicInteger(0)
    val probeErr = new AtomicReference[Throwable](null)
    val prober = new Thread(() => {
      try {
        while (running.get()) {
          maint.withAccess {
            assert(spark.read.parquet(winnersPath).count() >= winnersAfterB0)
            assert(spark.read.parquet(bandsPath).count() > 0)
            assert(spark.read.parquet(gramsPath).count() > 0)
          }
          probes.incrementAndGet()
        }
      } catch { case e: Throwable => probeErr.set(e) }
    })
    prober.start()

    writeSlice(1)
    maint.drain()
    val idsBeforeWindow = spark.read.parquet(winnersPath).select("batch_id")
      .distinct().collect().map(_.getLong(0)).toSet

    // the window: quiesce the chain, compact all three history
    // artifacts, restart from the checkpoint — probes keep looping
    val report = maint.maintain(Seq(
      ArtifactMaintainer.compactTask(spark, winnersPath, targetFiles = 1),
      ArtifactMaintainer.compactTask(spark, bandsPath, targetFiles = 1),
      ArtifactMaintainer.compactTask(spark, gramsPath, targetFiles = 1)))
    assert(report.tasks.size == 3 && report.tasks.forall(_.summary.contains("->")))
    assert(report.pauseSec > 0.0 && report.windowSec >= report.pauseSec)

    // ingest RESUMES from the checkpoint: the post-window batch lands
    // under the NEXT id, not a reused one
    writeSlice(2)
    maint.drain()
    // a couple more probe iterations strictly after the window
    val probesAfterWindow = probes.get()
    while (probes.get() < probesAfterWindow + 2 && probeErr.get() == null)
      Thread.sleep(20)
    running.set(false)
    prober.join(30000)
    maint.stop()
    assert(probeErr.get() == null, s"refused read in probe loop: ${probeErr.get()}")
    assert(probes.get() > 0)

    // data batches interleave with the watermark's no-data eviction
    // batches, so ids are not dense — the restart property is that the
    // post-window batch landed under a FRESH id above everything the
    // checkpoint had seen, never a reused one (the stamped-dedupe
    // precondition)
    val ids = spark.read.parquet(winnersPath).select("batch_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(idsBeforeWindow.size == 2 && ids.size == 3, s"ids $idsBeforeWindow -> $ids")
    assert(idsBeforeWindow.subsetOf(ids) &&
      (ids -- idsBeforeWindow).forall(_ > idsBeforeWindow.max),
      s"batch ids after restart: $idsBeforeWindow -> $ids")
    // compaction changed layout only: every batch-0/1 winner is still
    // there next to batch 2's
    assert(spark.read.parquet(winnersPath).count() > winnersAfterB0)
    assert(spark.read.parquet(winnersPath)
      .filter(col("batch_id") < 2).count() >= winnersAfterB0)
  }

  test("maintenance window serializes append vs rebuild: the mixed-generation backstop never fires") {
    import spark.implicits._
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_maint_ann").toFile, "idx").getPath
    val rnd = new scala.util.Random(1307)
    val day1 = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val day2 = (1000 until 1256).map { i =>
      (i.toLong, Seq.fill(8)((0.85 + rnd.nextDouble() * 0.1).toFloat))
    }
    Similarity.annIndexWrite(
      day1.toDF("vec_id", "embedding"), dir, IvfPqSpec(8, lists = 4, m = 8))

    val maint = new ArtifactMaintainer() // no owning stream: batch appenders only
    val appended = new java.util.concurrent.CopyOnWriteArrayList[Seq[(Long, Seq[Float])]]()
    val appendErr = new AtomicReference[Throwable](null)
    val chunks = day2.grouped(64).toSeq
    // the corpus thunk runs INSIDE the window (appends quiesced by the
    // exclusive lock), so it sees exactly the vectors the artifact
    // holds — the shrink guard stays quiet by construction
    import scala.jdk.CollectionConverters._
    def corpus(): DataFrame =
      (day1 ++ appended.asScala.flatten).toDF("vec_id", "embedding")

    val appender = new Thread(() => {
      try chunks.foreach { c =>
        maint.withAccess {
          assert(Similarity.annAppendAt(
            c.toDF("vec_id", "embedding"), dir) == c.size.toLong)
          appended.add(c)
        }
      } catch { case e: Throwable => appendErr.set(e) }
    })
    appender.start()
    // wait until the drifted region dominates (>= 2 chunks landed),
    // then take the window mid-ingest
    while (appended.size() < 2 && appendErr.get() == null) Thread.sleep(20)
    val report = maint.maintain(Seq(ArtifactMaintainer.annRebuildTask(dir, () => corpus(),
      Similarity.RebuildPolicy(rebuildPm = 2500L))))
    appender.join(120000)
    assert(appendErr.get() == null,
      s"append hit the generation backstop: ${appendErr.get()}")
    // the rebuild EXECUTED inside the window...
    assert(report.tasks.head.summary.contains("rebuilt"), report.tasks.head.summary)
    // ...and every append (before AND after the swap) is in the
    // artifact exactly once, under the current quantizer generation
    val idx = spark.read.parquet(dir)
    assert(idx.count() == 320L)
    assert(idx.select("vec_id").distinct().count() == 320L)
    assert(Similarity.annProbeAt(spark, dir,
      day2.take(4).toDF("vec_id", "embedding"), k = 3).count() > 0)
  }

  test("maintainIfDue: healthy artifacts never open a window; tripped budgets run only the due tasks") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_due").toString
    val a = s"$root/store_a"
    val b = s"$root/store_b"
    // store_a: one file (healthy). store_b: 5 single-file appends
    // (small-file debt past a budget of 3).
    (0L until 50L).map(i => (i, s"row $i")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(a)
    (0 until 5).foreach { j =>
      (0L until 10L).map(i => (j * 10L + i, s"row $j/$i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(b)
    }
    val maint = new ArtifactMaintainer(owner = Some(() =>
      throw new IllegalStateException("no window may start ingest here")))
    def checks = Seq(
      ArtifactMaintainer.compactDue(spark, a, maxSmallFiles = 3),
      ArtifactMaintainer.compactDue(spark, b, maxSmallFiles = 3,
        clusterBy = Seq("doc_id")))

    val rep = maint.maintainIfDue(checks)
    assert(rep.isDefined)
    // only store_b's task ran, with the trigger reason in the summary
    assert(rep.get.tasks.map(_.name) == Seq("compact:store_b"))
    assert(rep.get.tasks.head.summary.startsWith("[small_files=5 > budget 3]"),
      rep.get.tasks.head.summary)
    assert(graft.sources.ArtifactCompaction.dataFileCount(spark, b) == 1L)
    assert(spark.read.parquet(b).count() == 50L)
    // debt folded: the same poll is now quiet — no window, no report
    assert(maint.maintainIfDue(checks).isEmpty)
    // auto-sizing algebra: ~targetBytes of payload per rewritten file,
    // so a grown store never funnels through one writer/file
    import graft.sources.ArtifactCompaction.autoTargetFiles
    assert(autoTargetFiles(spark, b) == 1) // small store -> one file
    val p = new org.apache.hadoop.fs.Path(b)
    val totalBytes = p.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(p).filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getLen).sum
    assert(autoTargetFiles(spark, b, targetBytes = totalBytes / 2 + 1) == 2)
  }

  test("deltaCompactDue: raw-row growth trips the merge-algebra fold; the folded log is quiet") {
    import spark.implicits._
    val path = s"${java.nio.file.Files.createTempDirectory("graft_due_delta")}/cms_log"
    // 3 stamped batches over the same 4 cells: raw 12 rows, folds to 4
    (0 until 3).foreach { b =>
      Seq((0, 0, 1L, b.toLong), (0, 1, 2L, b.toLong),
          (1, 0, 3L, b.toLong), (1, 1, 4L, b.toLong))
        .toDF("row", "col", "c", "batch_id")
        .coalesce(1).write.mode("append").parquet(path)
    }
    val maint = new ArtifactMaintainer()
    def check = ArtifactMaintainer.deltaCompactDue(spark, path,
      Seq("row", "col"), Map("c" -> (sum(_))), maxRows = 8L)
    val rep = maint.maintainIfDue(Seq(check))
    assert(rep.isDefined, "12 raw rows did not trip a budget of 8")
    assert(rep.get.tasks.head.summary.contains("rows 12 -> 4"),
      rep.get.tasks.head.summary)
    val m = spark.read.parquet(path).collect()
      .map(r => ((r.getAs[Int]("row"), r.getAs[Int]("col")), r.getAs[Long]("c")))
      .toMap
    assert(m == Map((0, 0) -> 3L, (0, 1) -> 6L, (1, 0) -> 9L, (1, 1) -> 12L))
    assert(maint.maintainIfDue(Seq(check)).isEmpty)
  }

  test("annRebuildDue: balanced index stays quiet; drifted index trips and the window rebuilds it") {
    import spark.implicits._
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_due_ann").toFile, "idx").getPath
    // the Round13OpsSpec drift fixture (seed + id ranges included):
    // data-seeded retraining provably restores balance on it
    val rnd = new scala.util.Random(1307)
    val base = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    Similarity.annIndexWrite(
      base.toDF("vec_id", "embedding"), dir, IvfPqSpec(8, lists = 4, m = 8))
    val maint = new ArtifactMaintainer()
    var corpusRows = base
    def check = ArtifactMaintainer.annRebuildDue(spark, dir,
      () => corpusRows.toDF("vec_id", "embedding"), Similarity.RebuildPolicy(rebuildPm = 2500L))

    assert(maint.maintainIfDue(Seq(check)).isEmpty, "balanced index tripped the audit")

    // drift: a dense cluster lands in one list and blows the balance
    val drift = (1000 until 1256).map { i =>
      (i.toLong, Seq.fill(8)((0.85 + rnd.nextDouble() * 0.1).toFloat))
    }
    Similarity.annAppendAt(drift.toDF("vec_id", "embedding"), dir)
    corpusRows = base ++ drift
    val rep = maint.maintainIfDue(Seq(check))
    assert(rep.isDefined, "drifted index did not trip the audit")
    assert(rep.get.tasks.head.summary.contains("rebuilt rows 320 -> 320"),
      rep.get.tasks.head.summary)
    // rebuilt artifact is live and balanced again: the poll is quiet
    assert(maint.maintainIfDue(Seq(check)).isEmpty)
  }

  test("sqRebuildDue: bounds saturation trips the SQ window and names the signal; rebuild calms it") {
    import spark.implicits._
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_due_sq").toFile, "idx").getPath
    val rnd = new scala.util.Random(1413)
    val base = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    Similarity.annIndexWrite(base.toDF("vec_id", "embedding"), dir, IvfSqSpec(8, lists = 4))
    val maint = new ArtifactMaintainer()
    var corpusRows = base
    def check = ArtifactMaintainer.annRebuildDue(spark, dir,
      () => corpusRows.toDF("vec_id", "embedding"))
    assert(maint.maintainIfDue(Seq(check)).isEmpty, "fresh index tripped the audit")

    // out-of-span ingest rail-clamps under the stored bounds — the
    // due probe must trip on SATURATION (and say so), not balance
    val drift = (1000 until 1064).map(i =>
      (i.toLong, Seq.fill(8)((1.5 + rnd.nextDouble()).toFloat)))
    Similarity.annAppendAt(drift.toDF("vec_id", "embedding"), dir)
    corpusRows = base ++ drift
    val due = check.check()
    assert(due.exists(_.contains("saturation")), s"due reason: $due")
    val rep = maint.maintainIfDue(Seq(check))
    assert(rep.isDefined)
    assert(rep.get.tasks.head.summary.contains("rebuilt rows 128 -> 128"),
      rep.get.tasks.head.summary)
    // retrained bounds unclamp: the poll is quiet again
    assert(maint.maintainIfDue(Seq(check)).isEmpty)
  }

  test("annRebuildDue: a healthy poll of a legacy SQ8 artifact computes each signal once and never reads the corpus") {
    import spark.implicits._
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_due_sq_legacy").toFile, "idx").getPath
    val rnd = new scala.util.Random(1414)
    Similarity.annIndexWrite((0 until 64).map(i =>
        (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding"), dir, IvfSqSpec(8, lists = 4))
    // forge a pre-stats artifact: every saturation poll scans the codes
    assert(new java.io.File(dir,
      graft.sources.ArtifactHeader.sidecarName("ivfsq_stats")).delete())
    val (_, balance) = jobs(Similarity.ivfPqListBalance(spark.read.parquet(dir), 4)
      .agg(max(col("rebuild"))).collect())
    val (_, saturation) = jobs(Similarity.ivfSqSaturation(spark, dir)
      .agg(max(col("sat_pm"))).collect())
    // health signals never trip, so the legacy heal is the due reason
    val due = ArtifactMaintainer.annRebuildDue(spark, dir,
      () => fail("the SQ8 audit read the corpus"),
      Similarity.RebuildPolicy(rebuildPm = 100000L, satPm = 1000000L))
    val (why, poll) = jobs(due.check())
    assert(why.exists(_.startsWith("legacy stats-less artifact")), s"$why")
    assert(poll <= balance + saturation,
      s"poll ran $poll jobs; one balance aggregate is $balance, one codes scan $saturation")
  }

  test("start()/stop() park behind an open maintenance window — the restart cannot race lifecycle calls into a double writer") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val starts = new AtomicInteger(0)
    val maint = new ArtifactMaintainer(owner = Some(() => {
      starts.incrementAndGet()
      val ms = MemoryStream[Int]
      ms.addData(1)
      ms.toDF().writeStream.format("noop").start()
    }))
    maint.start(); maint.drain()
    assert(starts.get() == 1)
    val inWindow = new java.util.concurrent.CountDownLatch(1)
    val unblock = new java.util.concurrent.CountDownLatch(1)
    val windowT = new Thread(() => {
      maint.maintain(Seq(ArtifactMaintainer.Task("block") { () =>
        inWindow.countDown()
        unblock.await(30, TimeUnit.SECONDS); "ok"
      }))
      ()
    })
    windowT.start()
    assert(inWindow.await(30, TimeUnit.SECONDS))
    // a lifecycle start() during the window PARKS on the artifact
    // lock instead of launching a second query mid-window (the
    // check-then-act race: without the lock it would see the quiesced
    // handle as inactive and start a new writer the window's own
    // restart then doubles)
    val started = new java.util.concurrent.CountDownLatch(1)
    val startT = new Thread(() => { maint.start(); started.countDown() })
    startT.start()
    assert(!started.await(1, TimeUnit.SECONDS), "start() did not park")
    assert(starts.get() == 1, "a second query was launched mid-window")
    unblock.countDown()
    windowT.join(30000)
    assert(started.await(30, TimeUnit.SECONDS), "parked start() never resumed")
    startT.join(30000)
    // exactly one restart — the window's own; the parked start()
    // adopted the restarted handle instead of invoking the owner again
    assert(starts.get() == 2)
    maint.stop()
  }

  test("maintain() on un-started ingest is a pure batch window: the owner thunk is never invoked") {
    // owner is configured but the caller never start()ed it (or
    // deliberately stop()ped it): the window must run its tasks and
    // NOT resurrect ingest behind the caller's back
    val started = new AtomicInteger(0)
    val maint = new ArtifactMaintainer(owner = Some(() => {
      started.incrementAndGet()
      throw new IllegalStateException("maintain() must not start ingest")
    }))
    val ran = new AtomicInteger(0)
    val report = maint.maintain(Seq(
      ArtifactMaintainer.Task("noop") { () => ran.incrementAndGet(); "ok" }))
    assert(ran.get() == 1 && report.tasks.head.summary == "ok")
    assert(started.get() == 0, "maintain() invoked the owner thunk without start()")
  }
}
