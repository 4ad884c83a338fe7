package graft

import graft.operators.Similarity
import graft.sources.{ArtifactMaintainer, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The deletion lifecycle (round 15): ids tombstone into a bounded
  * content-hashed sidecar, every probe excludes them before the rank
  * cut, appends that would shadow a deleted id refuse, rebuilds
  * refuse a live set (a retrain would resurrect deleted rows), and
  * the maintenance-window fold makes the removal physical — verified
  * row accounting, sidecars carried, SQ8 stats re-seeded, sidecar
  * cleared. The probe-result algebra itself is oracle-gated
  * (q_ann_delete / q_ann_delete_fold / q_ann_sq_delete /
  * q_sql_ann_delete); this spec holds the lifecycle seams.
  */
class TombstoneSpec extends AnyFunSuite with SharedSpark {

  private def tmpIdx(prefix: String): String =
    new java.io.File(
      java.nio.file.Files.createTempDirectory(prefix).toFile, "idx").getPath

  private def corpusAndProbes(seed: Int = 1510, n: Int = 48, dim: Int = 8) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    def vec() = Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val corpus = (0 until n).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
    val probes = (100 until 104).map(i => (i.toLong, vec()))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
    (corpus, probes)
  }

  private def resultSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("query_id").cast("long"), col("rank").cast("long"),
        col("neighbor_id").cast("long"), col("score_e6").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("deleted ids leave the PQ probe before the rank cut; tombstone-live == built-without-them (salted quantizers)") {
    val (corpus, probes) = corpusAndProbes()
    val dir = tmpIdx("tomb_pq")
    Similarity.ivfPqIndexWrite(corpus, dir, dim = 8, lists = 2, m = 2, codes = 4)
    val full = Similarity.annProbeAt(spark, dir, probes, k = 5, nprobe = 2)
    val victims = full.select(col("neighbor_id").cast("long"))
      .limit(2).collect().map(_.getLong(0)).distinct
    assert(victims.nonEmpty)
    assert(Similarity.annIndexDeleteAt(spark, dir, victims.toSeq) == victims.length)
    val after = Similarity.annProbeAt(spark, dir, probes, k = 5, nprobe = 2)
    val got = resultSet(after)
    assert(!got.exists(r => victims.contains(r._3)),
      s"tombstoned ids surfaced: $got")
    // the quantizers are salted constants, so an artifact BUILT on the
    // filtered corpus is the same index — exclusion must be bit-equal
    val dir2 = tmpIdx("tomb_pq_ref")
    Similarity.ivfPqIndexWrite(
      corpus.filter(!col("vec_id").isin(victims.map(java.lang.Long.valueOf): _*)),
      dir2, dim = 8, lists = 2, m = 2, codes = 4)
    assert(got == resultSet(
      Similarity.annProbeAt(spark, dir2, probes, k = 5, nprobe = 2)))
  }

  test("delete is idempotent, merges batches, admits unknown ids; non-artifact paths refuse; the sidecar bound refuses past MaxIds") {
    val (corpus, _) = corpusAndProbes(seed = 1511)
    val dir = tmpIdx("tomb_merge")
    Similarity.ivfPqIndexWrite(corpus, dir, dim = 8, lists = 2, m = 2, codes = 4)
    assert(Similarity.annIndexDeleteAt(spark, dir, Seq(1L, 2L)) == 2L)
    // overlap + an id the artifact never held (admitted; folds as 0 rows)
    assert(Similarity.annIndexDeleteAt(spark, dir, Seq(2L, 3L, 999L)) == 4L)
    assert(Similarity.annIndexDeleteAt(spark, dir, Seq(1L, 2L)) == 4L)
    assert(Tombstones.count(spark, dir) == 4L)
    assert(Tombstones.read(spark, dir).toSeq == Seq(1L, 2L, 3L, 999L))
    // empty delete is a no-op count read
    assert(Similarity.annIndexDeleteAt(spark, dir, Seq.empty[Long]) == 4L)
    val ex = intercept[IllegalArgumentException] {
      Similarity.annIndexDeleteAt(spark, tmpIdx("not_an_artifact"), Seq(1L))
    }
    assert(ex.getMessage.contains("not a stamped ANN artifact"), ex.getMessage)
    // the hard bound refuses with fold guidance before writing
    val ex2 = intercept[IllegalArgumentException] {
      Tombstones.add(spark, dir, 10000L until (10001L + Tombstones.MaxIds))
    }
    assert(ex2.getMessage.contains("fold"), ex2.getMessage)
    assert(Tombstones.count(spark, dir) == 4L) // untouched by the refusal
  }

  test("appending a tombstoned id refuses by name on both encodings; fresh ids keep appending") {
    import spark.implicits._
    val (corpus, _) = corpusAndProbes(seed = 1512)
    val pq = tmpIdx("tomb_app_pq"); val sq = tmpIdx("tomb_app_sq")
    Similarity.ivfPqIndexWrite(corpus, pq, dim = 8, lists = 2, m = 2, codes = 4)
    Similarity.ivfSqIndexWrite(corpus, sq, dim = 8, lists = 2)
    Similarity.annIndexDeleteAt(spark, pq, Seq(7L))
    Similarity.annIndexDeleteAt(spark, sq, Seq(7L))
    val batch = Seq((7L, Seq.fill(8)(0.5f)), (200L, Seq.fill(8)(0.25f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[RuntimeException] {
      Similarity.annAppendAt(batch, pq)
    }
    assert(e1.getMessage.contains("tombstoned"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      Similarity.annAppendAt(batch, sq)
    }
    assert(e2.getMessage.contains("tombstoned"), e2.getMessage)
    // the fresh-id remainder of the batch appends fine
    assert(Similarity.annAppendAt(batch.filter(col("vec_id") =!= 7L), pq) == 1L)
    assert(Similarity.annAppendAt(batch.filter(col("vec_id") =!= 7L), sq) == 1L)
  }

  test("fold makes the removal physical: verified row accounting, sidecar cleared, headers survive, SQ8 stats re-seeded, re-append admitted") {
    import spark.implicits._
    val (corpus, probes) = corpusAndProbes(seed = 1513)
    val dir = tmpIdx("tomb_fold_sq")
    Similarity.ivfSqIndexWrite(corpus, dir, dim = 8, lists = 2)
    Similarity.annIndexDeleteAt(spark, dir, Seq(3L, 5L, 999L)) // 999 not present
    val before = resultSet(Similarity.annProbeAt(spark, dir, probes, k = 5, nprobe = 2)
      .withColumnRenamed("score", "score_e6")
      .withColumn("score_e6", (col("score_e6") * 1e6).cast("long")))
    val (b, a) = Similarity.annTombstoneFold(spark, dir)
    assert(b == 48L && a == 46L, s"accounting: $b -> $a") // only present ids drop
    assert(Tombstones.count(spark, dir) == 0L)
    assert(spark.read.parquet(dir).filter(col("neighbor_id").isin(3L, 5L)).count() == 0L)
    // the artifact stays self-describing and probe-identical
    val after = resultSet(Similarity.annProbeAt(spark, dir, probes, k = 5, nprobe = 2)
      .withColumnRenamed("score", "score_e6")
      .withColumn("score_e6", (col("score_e6") * 1e6).cast("long")))
    assert(after == before, "fold must be result-invariant")
    // stats re-seeded from the surviving rows: increment == scan
    val fromStats = Similarity.ivfSqSaturationFromStats(spark, dir).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromScan = Similarity.ivfSqSaturation(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromStats == fromScan)
    // a folded id is legitimately appendable again
    assert(Similarity.annAppendAt(
      Seq((3L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding"), dir) == 1L)
    // an empty set folds as a sidecar-only no-op (never scans rows)
    assert(Similarity.annTombstoneFold(spark, dir) == (0L, 0L))
  }

  test("rebuilds refuse a live tombstone set by name (PQ, SQ, PCA); the maintainer task folds first instead") {
    val (corpus, _) = corpusAndProbes(seed = 1514)
    val pq = tmpIdx("tomb_reb_pq"); val sq = tmpIdx("tomb_reb_sq")
    val pca = tmpIdx("tomb_reb_pca")
    Similarity.ivfPqIndexWrite(corpus, pq, dim = 8, lists = 2, m = 2, codes = 4)
    Similarity.ivfSqIndexWrite(corpus, sq, dim = 8, lists = 2)
    Similarity.pcaIvfPqIndexWrite(corpus, pca, dim = 8, outDim = 4,
      lists = 2, m = 2, codes = 4)
    Seq(pq, sq, pca).foreach(Similarity.annIndexDeleteAt(spark, _, Seq(11L)))
    // the projecting probe excludes too (the exclusion sits under the
    // shared trusted probe body)
    val (_, probes) = corpusAndProbes(seed = 1515)
    assert(!resultSet(Similarity.annProbeAt(spark, pca, probes, k = 5,
        nprobe = 2)).exists(_._3 == 11L))
    def refusal(body: => Any): String =
      intercept[IllegalArgumentException](body).getMessage
    assert(refusal(Similarity.annRebuildAt(corpus, pq)).contains("Fold first"))
    assert(refusal(Similarity.annRebuildAt(corpus, sq)).contains("Fold first"))
    assert(refusal(Similarity.annRebuildAt(corpus, pca,
      Similarity.RebuildPolicy(trainSample = 64))).contains("Fold first"))
    // the maintainer rebuild task folds inside its window instead of
    // failing it (the due check may have tripped for balance alone)
    val summary = ArtifactMaintainer.annRebuildTask(pq,
      () => corpus.filter(col("vec_id") =!= 11L)).run()
    assert(summary.contains("folded 1 tombstoned rows"), summary)
    assert(Tombstones.count(spark, pq) == 0L)
  }

  test("a maintainer rebuild never resurrects deleted rows: the window folds AND excludes them from the retrain corpus") {
    val (corpus, _) = corpusAndProbes(seed = 1519)
    val pq = tmpIdx("tomb_resurrect")
    Similarity.ivfPqIndexWrite(corpus, pq, dim = 8, lists = 2, m = 2, codes = 4)
    Similarity.annIndexDeleteAt(spark, pq, Seq(11L))
    // the corpus thunk STILL CONTAINS the deleted doc (it predates the
    // delete — the realistic hazard), and rebuildPm = 1 forces the
    // retrain to actually execute (any non-empty list is > 0.001 of
    // the uniform share)
    val summary = ArtifactMaintainer.annRebuildTask(pq,
      () => corpus, Similarity.RebuildPolicy(rebuildPm = 1L)).run()
    assert(summary.contains("folded 1 tombstoned rows"), summary)
    assert(summary.contains("rebuilt"), summary)
    assert(spark.read.parquet(pq).filter(col("vec_id") === 11L).count() == 0L,
      "the retrain re-encoded a deleted row (silent resurrection)")
    assert(Tombstones.count(spark, pq) == 0L)
    assert(spark.read.parquet(pq).count() == 47L)
  }

  test("tombstoneFoldDue: O(1) sidecar poll trips past the budget, the window folds, the next poll is quiet") {
    val (corpus, _) = corpusAndProbes(seed = 1516)
    val dir = tmpIdx("tomb_due")
    Similarity.ivfPqIndexWrite(corpus, dir, dim = 8, lists = 2, m = 2, codes = 4)
    val m = new ArtifactMaintainer()
    val due = ArtifactMaintainer.tombstoneFoldDue(spark, dir, maxIds = 2L)
    assert(m.maintainIfDue(Seq(due)).isEmpty) // nothing deleted yet
    Similarity.annIndexDeleteAt(spark, dir, Seq(1L, 2L))
    assert(m.maintainIfDue(Seq(due)).isEmpty) // at budget, not past it
    Similarity.annIndexDeleteAt(spark, dir, Seq(4L))
    val rep = m.maintainIfDue(Seq(due))
    assert(rep.isDefined)
    val task = rep.get.tasks.head
    assert(task.summary.contains("tombstones=3 > budget 2"), task.summary)
    assert(task.summary.contains("rows 48 -> 45"), task.summary)
    assert(Tombstones.count(spark, dir) == 0L)
    assert(m.maintainIfDue(Seq(due)).isEmpty) // folded -> quiet
  }

  test("deletion under live ingest: probes never see a deleted id once the delete lands; the fold window preserves every fresh append") {
    import spark.implicits._
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
    val (corpus, probes) = corpusAndProbes(seed = 1517)
    val dir = tmpIdx("tomb_live")
    Similarity.ivfPqIndexWrite(corpus, dir, dim = 8, lists = 2, m = 2, codes = 4)
    val victims = Similarity.annProbeAt(spark, dir, probes, k = 5, nprobe = 2)
      .select(col("neighbor_id").cast("long")).limit(2).collect()
      .map(_.getLong(0)).distinct
    assert(victims.nonEmpty)
    val maint = new graft.sources.ArtifactMaintainer()
    val rnd = new scala.util.Random(1518)
    val chunks = (0 until 4).map(c => (0 until 16).map(i =>
      ((1000 + c * 16 + i).toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat))))
    val appended = new AtomicInteger(0)
    val err = new AtomicReference[Throwable](null)
    val deleteDone = new AtomicBoolean(false)
    val stop = new AtomicBoolean(false)
    val violations = new AtomicInteger(0)
    val appender = new Thread(() => {
      try chunks.foreach { c =>
        maint.withAccess {
          assert(Similarity.annAppendAt(
            c.toDF("vec_id", "embedding"), dir) == c.size.toLong)
          appended.addAndGet(c.size)
        }
        Thread.sleep(30)
      } catch { case e: Throwable => err.set(e) }
    })
    val prober = new Thread(() => {
      try while (!stop.get()) {
        val flagged = deleteDone.get() // read BEFORE the probe starts
        val got = maint.withAccess {
          Similarity.annProbeAt(spark, dir, probes, k = 5, nprobe = 2)
            .select(col("neighbor_id").cast("long")).collect().map(_.getLong(0)).toSet
        }
        if (flagged && victims.exists(got.contains)) violations.incrementAndGet()
      } catch { case e: Throwable => err.set(e) }
    })
    appender.start(); prober.start()
    while (appended.get() < 16 && err.get() == null) Thread.sleep(10)
    // the delete is a writer-class access, like an append
    maint.withAccess {
      Similarity.annIndexDeleteAt(spark, dir, victims.toSeq)
    }
    deleteDone.set(true)
    // debt past budget -> the window folds mid-ingest
    val rep = maint.maintainIfDue(Seq(
      graft.sources.ArtifactMaintainer.tombstoneFoldDue(spark, dir,
        maxIds = victims.length - 1L)))
    assert(rep.isDefined, "fold window must open past the budget")
    appender.join(120000)
    stop.set(true); prober.join(120000)
    assert(err.get() == null, s"concurrent access failed: ${err.get()}")
    assert(violations.get() == 0,
      s"${violations.get()} probes saw a deleted id after the delete landed")
    // accounting: initial minus victims plus every fresh append, once
    val idx = spark.read.parquet(dir)
    assert(idx.filter(col("vec_id").isin(
      victims.map(java.lang.Long.valueOf): _*)).count() == 0L)
    assert(graft.sources.Tombstones.count(spark, dir) == 0L)
    assert(idx.count() == 48L - victims.length + 64L)
    assert(idx.select("vec_id").distinct().count() == idx.count())
  }

  // ------------------------------------------------------------------
  // the near-dup family's deletion twin (band index + winner store)
  // ------------------------------------------------------------------

  private def docsFixture() = {
    import spark.implicits._
    // three shared-text groups so near-dup pairs exist across the
    // prior/probe split, plus unique fillers
    val rows = (0 until 30).map { i =>
      val text =
        if (i % 5 == 0) "the quick brown fox jumps over the lazy dog again"
        else if (i % 5 == 1) "pack my box with five dozen liquor jugs tonight"
        else s"unique document number $i with its own words entirely " +
          s"nothing shared here ${i * 31}"
      (i.toLong, text)
    }
    rows.toDF("doc_id", "text").coalesce(1).localCheckpoint()
  }

  private def buildBandIndex(docs: DataFrame, path: String): Unit =
    graft.streaming.StreamingNearDup.appendToIndex(
      graft.operators.Dedup.capBucket(
        graft.operators.Dedup.bandKeys(
          docs.select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128),
      path, bucketCap = 128, stampParams = Some((3, 6, 2)))

  test("near-dup deletion: tombstoned priors leave the candidate set; append refuses; fold rewrites winner store AND index, clears the set") {
    val Dedup = graft.operators.Dedup
    val docs = docsFixture()
    val prior = docs.filter(col("doc_id") % 3 =!= 0)
    val probe = docs.filter(col("doc_id") % 3 === 0)
    val idxPath = tmpIdx("tomb_band")
    val storePath = tmpIdx("tomb_winners")
    buildBandIndex(prior, idxPath)
    prior.write.mode("overwrite").parquet(storePath)
    val before = Dedup.nearDupAgainstIndexAt(spark, prior, probe, idxPath,
      "text", "doc_id", threshold = 0.4)
    val victims = before.select(col("doc_prior").cast("long"))
      .limit(2).collect().map(_.getLong(0)).distinct
    assert(victims.nonEmpty, "fixture must produce near-dup pairs")
    assert(Dedup.neardupIndexDeleteAt(spark, idxPath, victims.toSeq) == victims.length)
    // probe-side exclusion: deleted priors can no longer match
    val live = Dedup.nearDupAgainstIndexAt(spark, prior, probe, idxPath,
      "text", "doc_id", threshold = 0.4)
    assert(live.filter(col("doc_prior").isin(
      victims.map(java.lang.Long.valueOf): _*)).count() == 0L)
    // a non-artifact path refuses the delete
    intercept[IllegalArgumentException] {
      Dedup.neardupIndexDeleteAt(spark, tmpIdx("not_bands"), Seq(1L))
    }
    // appending a tombstoned doc refuses by name
    val reBands = Dedup.capBucket(
      Dedup.bandKeys(prior.filter(col("doc_id") === victims.head)
        .select(col("doc_id"), col("text").as("__text")),
        shingleN = 3, bands = 6, rows = 2),
      "band_key", "doc_id", 128)
    val e = intercept[RuntimeException] {
      graft.streaming.StreamingNearDup.appendToIndex(reBands, idxPath)
    }
    assert(e.getMessage.contains("tombstoned"), e.getMessage)
    // fold: BOTH artifacts rewritten with verified accounting, the
    // text physically gone from the store, sidecar cleared, probe
    // result-invariant
    val idxRows = spark.read.parquet(idxPath).count()
    val idxTombRows = spark.read.parquet(idxPath)
      .filter(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*)).count()
    val ((sb, sa), (ib, ia)) =
      Dedup.neardupTombstoneFold(spark, idxPath, Some(storePath))
    assert(sb - sa == victims.length, s"store accounting: $sb -> $sa")
    assert(ib == idxRows && ib - ia == idxTombRows, s"index accounting: $ib -> $ia")
    assert(spark.read.parquet(storePath)
      .filter(col("doc_id").isin(victims.map(java.lang.Long.valueOf): _*)).count() == 0L)
    assert(graft.sources.Tombstones.count(spark, idxPath) == 0L)
    val folded = Dedup.nearDupAgainstIndexAt(spark, prior, probe, idxPath,
      "text", "doc_id", threshold = 0.4)
    def pairSet(df: DataFrame) = df.select(col("doc_new").cast("long"),
        col("doc_prior").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(folded) == pairSet(live), "fold must be result-invariant")
    // the header survived the swap: a fresh append is admitted again
    assert(graft.streaming.StreamingNearDup.appendToIndex(reBands, idxPath) > 0L)
    // maintainer twin: due trips past budget, the window folds both
    Dedup.neardupIndexDeleteAt(spark, idxPath, victims.toSeq)
    val m = new ArtifactMaintainer()
    val due = ArtifactMaintainer.neardupTombstoneFoldDue(spark, idxPath,
      Some(storePath), maxIds = 0L)
    val rep = m.maintainIfDue(Seq(due))
    assert(rep.isDefined)
    assert(rep.get.tasks.head.summary.contains("index rows"),
      rep.get.tasks.head.summary)
    assert(graft.sources.Tombstones.count(spark, idxPath) == 0L)
    assert(m.maintainIfDue(Seq(due)).isEmpty)
  }

  test("audits between a heavy skewed delete and its fold count PHYSICAL rows; a rebuild decision in the same window never fires on dead-row counts") {
    import spark.implicits._
    // explicit centroids make list assignment deterministic: 40 rows
    // cluster at (+10,...) -> list 0, 10 at (-10,...) -> list 1
    val dim = 4
    val cents = Array(Array.fill(dim)(10.0), Array.fill(dim)(-10.0))
    val rnd = new scala.util.Random(1601)
    def near(c: Double) = Seq.fill(dim)((c + rnd.nextDouble() - 0.5).toFloat)
    val hot = (0 until 40).map(i => (i.toLong, near(10.0)))
    val cold = (100 until 110).map(i => (i.toLong, near(-10.0)))
    val corpus = (hot ++ cold).toDF("vec_id", "embedding")
      .coalesce(1).localCheckpoint()
    val dir = tmpIdx("tomb_audit")
    Similarity.ivfPqIndexWrite(corpus, dir, dim = dim, lists = 2, m = 2,
      codes = 4, centroids = Some(cents))

    // delete 30 of the 40 hot rows: list 0 is imbalanced ONLY through
    // rows that are already tombstoned
    val victims = (0L until 30L)
    assert(Similarity.annIndexDeleteAt(spark, dir, victims) == 30L)

    // between delete and fold the balance audit reads PHYSICAL rows,
    // tombstoned included: 40/50 in list 0 = 1600pm of uniform share,
    // identical to the pre-delete audit
    def loadPm(): Map[Long, Long] =
      Similarity.ivfPqListBalance(spark.read.parquet(dir), lists = 2,
        rebuildPm = 1500L)
        .select(col("list_id"), col("load_pm"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loadPm() == Map(0L -> 1600L, 1L -> 400L),
      "balance must reflect storage truth (dead rows included) until the fold")
    assert(Similarity.annNeedsRebuild(spark, dir, corpus,
      Similarity.RebuildPolicy(rebuildPm = 1500L)).isDefined,
      "the physical audit trips on dead-row imbalance — by design")

    // one maintainIfDue poll with the documented order (fold check
    // AHEAD of the rebuild check): both trip, tasks run in check
    // order inside one window, and the rebuild's in-window re-audit
    // runs AFTER the fold — on live counts (10/10 = balanced), so no
    // retrain fires on dead rows
    val m = new ArtifactMaintainer()
    val rep = m.maintainIfDue(Seq(
      ArtifactMaintainer.tombstoneFoldDue(spark, dir, maxIds = 0L),
      ArtifactMaintainer.annRebuildDue(spark, dir,
        () => corpus, Similarity.RebuildPolicy(rebuildPm = 1500L))))
    assert(rep.isDefined)
    val tasks = rep.get.tasks
    assert(tasks.map(_.name).exists(_.startsWith("tomb_fold")) &&
      tasks.head.name.startsWith("tomb_fold"),
      s"fold must run first in the window: ${tasks.map(_.name)}")
    val rebuildSummary = tasks.find(_.name.startsWith("ann_rebuild")).get.summary
    assert(rebuildSummary.contains("balanced — no rebuild"),
      s"rebuild decision must re-audit post-fold live counts: $rebuildSummary")
    assert(loadPm() == Map(0L -> 1000L, 1L -> 1000L))
    assert(Similarity.annNeedsRebuild(spark, dir, corpus,
      Similarity.RebuildPolicy(rebuildPm = 1500L)).isEmpty)
    assert(spark.read.parquet(dir).count() == 20L,
      "no retrain ran — the folded artifact is the live generation")

    // SQ twin: between delete and fold the saturation audit reports
    // the stored codes' truth, deleted rows included (bit-identical
    // to pre-delete); the fold's stats re-seed is spec-held above
    val sqDir = tmpIdx("tomb_audit_sq")
    Similarity.ivfSqIndexWrite(corpus, sqDir, dim = dim, lists = 2)
    def satRows() = Similarity.ivfSqSaturation(spark, sqDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val satBefore = satRows()
    Similarity.annIndexDeleteAt(spark, sqDir, victims)
    assert(satRows() == satBefore,
      "saturation must reflect storage truth until the fold")
  }

  test("tombstoneExclude/tombstoneMatches: the pushdown and anti/semi-join branches agree and tile the frame") {
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, i * 10)).toDF("vec_id", "payload")
    val ids = Array(3L, 7L, 15L, 999L)
    val exPush = Similarity.tombstoneExclude(df, ids, "vec_id", pushdownMax = 100)
    val exJoin = Similarity.tombstoneExclude(df, ids, "vec_id", pushdownMax = 1)
    val mPush = Similarity.tombstoneMatches(df, ids, "vec_id", pushdownMax = 100)
    val mJoin = Similarity.tombstoneMatches(df, ids, "vec_id", pushdownMax = 1)
    def setOf(d: DataFrame) = d.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(setOf(exPush) == setOf(exJoin))
    assert(setOf(mPush) == setOf(mJoin))
    assert(setOf(mPush) == Set(3L, 7L, 15L))
    assert(setOf(exPush) ++ setOf(mPush) == (0L until 20L).toSet)
  }
}
