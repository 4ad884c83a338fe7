package graft

import graft.operators.AnnLifecycle.{IvfPqSpec, IvfSqSpec, Pca, RotatedSpec}
import graft.operators.{Curation, Dedup, Forget, Similarity}
import graft.sources.{ArtifactMaintainer, Tombstones}
import graft.streaming.{StreamingNearDup, StreamingSubstringDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rights-removal end-to-end: ONE forgetDocuments call makes a
  * document unreachable from EVERY probe surface — the ANN probe, the
  * near-dup candidate set, the substring-incremental gram probe, and
  * the winner-store text — with each artifact physically clean after
  * the call (the per-surface result algebra is oracle-gated by
  * q_forget / q_forget_ann / q_forget_grams / q_sql_forget).
  */
class ForgetSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A sentence of 12 nonsense tokens no testdata doc contains — the
    * forgotten document's unique content, planted in one probe doc so
    * every surface has an observable before/after.
    */
  private val uniq = "zqxbv wfjkp mthrn ylcdg qpzow vbnkt xsfra gjhlm" +
    " dwcye uoipn rtkbs azmvq"

  private case class Fx(prior: DataFrame, probe: DataFrame,
                        victimId: Long, probeId: Long,
                        bandPath: String, storePath: String, gramPath: String,
                        annPath: String, vecVictims: Seq[Long])

  private def fixture(tag: String): Fx = {
    import spark.implicits._
    val dir = tmpDir(s"forget_$tag")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val victimId = 1001L // % 3 == 2 -> prior side
    val probeId = 3000L  // % 3 == 0 -> probe side
    val prior = docs.filter(col("doc_id") % 3 =!= 0)
      .union(Seq((victimId, uniq)).toDF("doc_id", "text"))
      .coalesce(1).localCheckpoint()
    val probe = docs.filter(col("doc_id") % 3 === 0)
      .union(Seq((probeId, uniq)).toDF("doc_id", "text"))
      .coalesce(1).localCheckpoint()

    val bandPath = s"$dir/band_index"
    val storePath = s"$dir/winners"
    val gramPath = s"$dir/gram_index"
    val annPath = s"$dir/ann_index"
    StreamingNearDup.appendToIndex(
      Dedup.capBucket(
        Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128),
      bandPath, bucketCap = 128, stampParams = Some((3, 6, 2)))
    prior.write.mode("overwrite").parquet(storePath)
    StreamingSubstringDedup.appendToIndex(prior, "text", "doc_id", gramPath, k = 8)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), annPath, IvfPqSpec(64))
    val vecVictims = emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    Fx(prior, probe, victimId, probeId, bandPath, storePath, gramPath,
      annPath, vecVictims)
  }

  private def annNeighbors(fx: Fx): Set[Long] = {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    Similarity.annProbeAt(spark, fx.annPath,
      emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
      .select(col("neighbor_id").cast("long"))
      .collect().map(_.getLong(0)).toSet
  }

  private def neardupPriors(fx: Fx): Set[Long] =
    Dedup.nearDupAgainstIndexAt(spark,
      spark.read.parquet(fx.storePath), fx.probe, fx.bandPath,
      "text", "doc_id", threshold = 0.4)
      .select(col("doc_prior").cast("long"))
      .collect().map(_.getLong(0)).toSet

  private def gramRemovedFor(fx: Fx, id: Long): Long =
    Curation.substringDedupAgainstIndex(
      StreamingSubstringDedup.indexFor(spark, fx.gramPath, 8),
      fx.probe.filter(col("doc_id") === id), "text", "doc_id", k = 8)
      .select(col("n_removed").cast("long")).collect().head.getLong(0)

  test("one forgetDocuments call: unreachable from ANN probe, near-dup candidates, gram probe, and winner text; artifacts physically clean") {
    val fx = fixture("all")

    // BEFORE: the victim is reachable on every surface
    assert(neardupPriors(fx).contains(fx.victimId),
      "fixture: planted near-dup pair must surface")
    assert(gramRemovedFor(fx, fx.probeId) > 0L,
      "fixture: probe doc must dedup against the victim's grams")
    val annBefore = annNeighbors(fx)
    assert(fx.vecVictims.exists(annBefore.contains),
      "fixture: some vec victim must be a top-5 neighbor before the forget")

    // THE one call
    val report = Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        annIndexPaths = Seq(fx.annPath),
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        gramIndexPath = Some(fx.gramPath)),
      annIds = Some(fx.vecVictims))

    // AFTER: every surface
    assert(!neardupPriors(fx).contains(fx.victimId),
      "near-dup candidates still reach the forgotten doc")
    assert(gramRemovedFor(fx, fx.probeId) === 0L,
      "the gram probe still dedups against the forgotten doc's grams")
    val annAfter = annNeighbors(fx)
    assert(!fx.vecVictims.exists(annAfter.contains),
      "the ANN probe still returns a forgotten vector")
    assert(spark.read.parquet(fx.storePath)
      .filter(col("doc_id") === fx.victimId).count() === 0L,
      "winner text not physically removed")
    assert(spark.read.parquet(fx.bandPath)
      .filter(col("doc_id") === fx.victimId).count() === 0L,
      "band rows not physically removed")
    assert(spark.read.parquet(fx.annPath)
      .filter(col("vec_id").isin(fx.vecVictims.map(java.lang.Long.valueOf): _*))
      .count() === 0L, "ANN rows not physically removed")
    // tombstone sidecars consumed — re-appends admitted again
    assert(Tombstones.count(spark, fx.bandPath) === 0L)
    assert(Tombstones.count(spark, fx.annPath) === 0L)
    // the gram index IS the surviving corpus's index (content equality)
    val expectIdx = Curation.gramTable(
      spark.read.parquet(fx.storePath), "text", "doc_id", 8)
      ._2.select("h").distinct().collect().map(_.getLong(0)).toSet
    val gotIdx = StreamingSubstringDedup.indexFor(spark, fx.gramPath, 8)
      .collect().map(_.getLong(0)).toSet
    assert(gotIdx === expectIdx, "gram index != index of surviving corpus")
    // report accounting
    assert(report.storeFold.exists { case (b, a) => b - a == 1 })
    assert(report.gramRebuild.isDefined)
    assert(report.annFolds(fx.annPath)._1 - report.annFolds(fx.annPath)._2 ==
      fx.vecVictims.length)

    // idempotent re-run: same call, no-op accounting, surfaces unchanged
    val again = Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        annIndexPaths = Seq(fx.annPath),
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        gramIndexPath = Some(fx.gramPath)),
      annIds = Some(fx.vecVictims))
    assert(again.storeFold.exists { case (b, a) => b == a })
    assert(annNeighbors(fx) === annAfter)
  }

  test("auditDocuments tracks the removal lifecycle: reachable before, tombstoned-unreachable after delete, physically gone after forget") {
    val fx = fixture("audit")
    def audit(): Map[String, (Long, Long, Long)] =
      Forget.auditDocuments(spark, Seq(fx.victimId),
        Forget.Targets(
          annIndexPaths = Seq(fx.annPath),
          bandIndexPath = Some(fx.bandPath),
          winnerStorePath = Some(fx.storePath)),
        annIds = Some(fx.vecVictims))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

    // BEFORE any delete: everything reachable, nothing tombstoned
    val before = audit()
    assert(before("store") == ((1L, 0L, 1L)))
    assert(before("band")._1 > 0L && before("band")._2 == 0L &&
      before("band")._3 == before("band")._1)
    assert(before("ann")._1 == fx.vecVictims.length.toLong &&
      before("ann")._2 == 0L && before("ann")._3 == before("ann")._1)

    // tombstone only (no fold): physical unchanged, reachable ZERO —
    // the instant a removal request is honored
    graft.operators.Dedup.neardupIndexDeleteAt(spark, fx.bandPath,
      Seq(fx.victimId))
    Similarity.annIndexDeleteAt(spark, fx.annPath, fx.vecVictims)
    val live = audit()
    assert(live("store") == ((1L, 1L, 0L)))
    assert(live("band") == ((before("band")._1, 1L, 0L)))
    assert(live("ann") ==
      ((before("ann")._1, fx.vecVictims.length.toLong, 0L)))

    // after the full forget: physically gone everywhere, sidecars
    // consumed (tombstoned 0 — nothing left to shadow)
    Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        annIndexPaths = Seq(fx.annPath),
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath)),
      annIds = Some(fx.vecVictims))
    val after = audit()
    assert(after("store") == ((0L, 0L, 0L)))
    assert(after("band") == ((0L, 0L, 0L)))
    assert(after("ann") == ((0L, 0L, 0L)))
  }

  test("counted gram index: live set == plain index of the same corpus; removal decrements ONLY the deleted docs' ownership; idempotent; fold nets the log") {
    import spark.implicits._
    val S = StreamingSubstringDedup
    val dir = s"${tmpDir("gramsc")}/idx"
    // shared sentence owned by docs 1 AND 2; doc 2 also owns a unique one
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val d1 = (1L, shared)
    val d2 = (2L, shared + " " + uniq)
    val b1 = Seq(d1).toDF("doc_id", "text")
    val b2 = Seq(d2).toDF("doc_id", "text")
    assert(S.appendToIndexCounted(b1, "text", "doc_id", dir, k = 8, stampId = 0L) > 0L)
    assert(S.appendToIndexCounted(b2, "text", "doc_id", dir, k = 8, stampId = 1L) > 0L)
    // retry of batch 1 (same stamp): read-time no-op
    S.appendToIndexCounted(b1, "text", "doc_id", dir, k = 8, stampId = 0L)

    def live(): Set[Long] =
      S.countedLiveFor(spark, dir, 8).collect().map(_.getLong(0)).toSet
    def plainOf(docs: org.apache.spark.sql.DataFrame): Set[Long] =
      graft.operators.Curation.gramTable(docs, "text", "doc_id", 8)
        ._2.select("h").distinct().collect().map(_.getLong(0)).toSet
    val both = Seq(d1, d2).toDF("doc_id", "text")
    assert(live() == plainOf(both), "counted live set != plain index content")

    // remove doc 2: its unique grams die, the shared grams survive
    // through doc 1's ownership
    assert(S.decrementCounted(b2, "text", "doc_id", dir, stampId = -7L) > 0L)
    assert(live() == plainOf(b1),
      "after removal the live set must equal the surviving corpus's index")
    // idempotent re-run (same stamp): nothing changes
    S.decrementCounted(b2, "text", "doc_id", dir, stampId = -7L)
    assert(live() == plainOf(b1))
    // stamp-space guards
    intercept[IllegalArgumentException] {
      S.appendToIndexCounted(b1, "text", "doc_id", dir, k = 8, stampId = -1L)
    }
    intercept[IllegalArgumentException] {
      S.decrementCounted(b2, "text", "doc_id", dir, stampId = 3L)
    }
    // fold: ingest side netted to one row per gram, REMOVAL rows
    // preserved verbatim (a crash-retry must still find its stamp to
    // dedupe against), header carried, live set unchanged
    val (before, after) = S.compactCounted(spark, dir)
    assert(after < before, s"fold must shrink the log ($before -> $after)")
    assert(live() == plainOf(b1))
    assert(graft.sources.ArtifactHeader.read(spark, dir, "gramsc").isDefined,
      "header must survive the fold")
    // the finding the preservation exists for: a decrement RETRY with
    // the same stamp AFTER a compaction must still dedupe to a no-op
    // — netting the stamp rows away would double-apply and kill grams
    // the surviving doc still owns
    S.decrementCounted(b2, "text", "doc_id", dir, stampId = -7L)
    assert(live() == plainOf(b1),
      "retry after compaction double-applied the decrement")
    // a decrement of a doc that was never admitted (unregistered) is
    // a no-op — a store superset of the gram corpus cannot
    // over-decrement shared grams
    assert(S.decrementCounted(
      Seq((777L, shared)).toDF("doc_id", "text"),
      "text", "doc_id", dir, stampId = -8L) == 0L)
    assert(live() == plainOf(b1))
    // cross-batch re-delivery of an already-admitted doc (different
    // stamp — an at-least-once upstream) contributes nothing: the doc
    // registry admits each doc once, so a later forget fully removes
    // it (no under-decrement leak)
    assert(S.appendToIndexCounted(b1, "text", "doc_id", dir, k = 8,
      stampId = 33L) == 0L)
    assert(live() == plainOf(b1))
    S.decrementCounted(b1, "text", "doc_id", dir, stampId = -9L)
    assert(live().isEmpty,
      "forget after a cross-batch re-delivery left grams live")
    // ...and the unregistered doc becomes admissible again
    assert(S.appendToIndexCounted(b1, "text", "doc_id", dir, k = 8,
      stampId = 34L) > 0L)
    assert(live() == plainOf(b1))
  }

  test("forgetDocuments on a COUNTED gram index decrements instead of rebuilding — same end state as the rebuild path, O(deleted docs)") {
    import spark.implicits._
    val fx = fixture("counted")
    // a counted twin of the fixture's gram index, over the same prior
    val countedPath = s"${tmpDir("gramsc_fx")}/idx"
    StreamingSubstringDedup.appendToIndexCounted(
      fx.prior, "text", "doc_id", countedPath, k = 8, stampId = 0L)
    val report = Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        gramIndexPath = Some(countedPath)))
    assert(report.gramDecrement.exists(_ > 0L),
      "counted path must report decremented grams")
    assert(report.gramRebuild.isEmpty, "counted path must NOT rebuild")
    // gram surface forgot the victim: the probe doc sharing only the
    // victim's unique grams no longer dedups
    val removed = graft.operators.Curation.substringDedupAgainstIndex(
        StreamingSubstringDedup.countedLiveFor(spark, countedPath, 8),
        fx.probe.filter(col("doc_id") === fx.probeId), "text", "doc_id", k = 8)
      .select(col("n_removed").cast("long")).collect().head.getLong(0)
    assert(removed === 0L)
    // and the live set equals the surviving corpus's plain index
    val expect = graft.operators.Curation.gramTable(
        spark.read.parquet(fx.storePath), "text", "doc_id", 8)
      ._2.select("h").distinct().collect().map(_.getLong(0)).toSet
    val got = StreamingSubstringDedup.countedLiveFor(spark, countedPath, 8)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)
    // counted without a winner store refuses by name (the texts to
    // decrement from are gone after a fold)
    intercept[IllegalArgumentException] {
      Forget.forgetDocuments(spark, Seq(fx.victimId),
        Forget.Targets(
          bandIndexPath = Some(fx.bandPath),
          gramIndexPath = Some(countedPath),
          survivingDocs = Some(() => fx.prior)))
    }

    // forget RE-RUN after a crash simulation (same ids, store already
    // folded): matches zero rows, appends nothing, live set unchanged
    val liveAfter = StreamingSubstringDedup.countedLiveFor(spark, countedPath, 8)
      .collect().map(_.getLong(0)).toSet
    Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        gramIndexPath = Some(countedPath)))
    assert(StreamingSubstringDedup.countedLiveFor(spark, countedPath, 8)
      .collect().map(_.getLong(0)).toSet == liveAfter)

    // RE-INGEST the victim (folded ids are appendable again) with
    // byte-identical content — the one case a content-derived stamp
    // on a batch_id-LESS store cannot distinguish from a retry — then
    // a SECOND forget carrying the removal REQUEST's own stamp: it
    // must decrement again, not dedupe against the first removal
    val reDoc = Seq((fx.victimId, uniq)).toDF("doc_id", "text")
    reDoc.write.mode("append").parquet(fx.storePath)
    graft.streaming.StreamingNearDup.appendToIndex(
      graft.operators.Dedup.capBucket(
        graft.operators.Dedup.bandKeys(
          reDoc.select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128),
      fx.bandPath, bucketCap = 128)
    StreamingSubstringDedup.appendToIndexCounted(
      reDoc, "text", "doc_id", countedPath, k = 8, stampId = 99L)
    val uniqGrams = graft.operators.Curation.gramTable(
        reDoc, "text", "doc_id", 8)
      ._2.select("h").distinct().collect().map(_.getLong(0)).toSet
    assert(uniqGrams.subsetOf(
      StreamingSubstringDedup.countedLiveFor(spark, countedPath, 8)
        .collect().map(_.getLong(0)).toSet),
      "re-ingested grams must be live again")
    Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        gramIndexPath = Some(countedPath),
        removalStamp = Some(20260816L)))
    val finalLive = StreamingSubstringDedup.countedLiveFor(spark, countedPath, 8)
      .collect().map(_.getLong(0)).toSet
    assert(uniqGrams.intersect(finalLive).isEmpty,
      "second forget must decrement the re-ingested ownership, not dedupe " +
        "against the first removal's stamp")
  }

  test("forgetDocuments RETRACTS sum-merged sketch logs in phase 2.5 — " +
    "O(deleted docs), no rebuild — and a post-fold re-run no-ops") {
    import spark.implicits._
    val fx = fixture("retract")
    // a stamped CMS artifact maintained over the same prior corpus
    val cmsPath = s"${tmpDir("cms_fx")}/cms"
    graft.sources.ArtifactHeader.validateOrStamp(spark, cmsPath, "cms",
      graft.streaming.StreamingCms.cmsParams(4, 1024))
    graft.sources.DeltaLogCompaction.appendStamped(
      graft.operators.Sketches.cmsBuild(
        fx.prior.select(explode(Dedup.tokens(col("text"))).as("word")), 4, 1024),
      cmsPath, 0L)
    def estUniq(): Long = graft.streaming.StreamingCms
      .estimateFrom(spark, cmsPath, Seq("zqxbv").toDF("word"))
      .collect().head.getLong(1)
    val before = estUniq()
    assert(before >= 1L)

    val report = Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        retractions = Seq(Forget.SumLogRetraction("cms", cmsPath,
          (docs, stamp) =>
            graft.streaming.StreamingCms.retract(docs, cmsPath, stamp)))))
    assert(report.retracted.exists { case (n, r) => n == "cms" && r > 0L },
      report.summary)
    // every one of the victim's cells dropped by exactly its ownership
    assert(estUniq() === before - 1L)
    // cell-exact: the retracted sketch == a fresh build over the FOLDED
    // winner store (the surviving corpus of record)
    val after = graft.streaming.StreamingCms.readSketch(spark, cmsPath)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
      .filter(_._2 != 0L)
    val expect = graft.operators.Sketches.cmsBuild(
        spark.read.parquet(fx.storePath)
          .select(explode(Dedup.tokens(col("text"))).as("word")), 4, 1024)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    assert(after === expect)

    // crash re-run: the store already folded, zero deleted docs match,
    // the retraction no-ops on the empty delta — counters unchanged
    val rerun = Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        retractions = Seq(Forget.SumLogRetraction("cms", cmsPath,
          (docs, stamp) =>
            graft.streaming.StreamingCms.retract(docs, cmsPath, stamp)))))
    assert(rerun.retracted.exists { case (n, r) => n == "cms" && r === 0L })
    assert(estUniq() === before - 1L)

    // retraction targets validate BEFORE any tombstone lands
    intercept[IllegalArgumentException] {
      Forget.forgetDocuments(spark, Seq(fx.probeId),
        Forget.Targets(
          bandIndexPath = Some(fx.bandPath),
          winnerStorePath = Some(fx.storePath),
          retractions = Seq(Forget.SumLogRetraction("typo",
            s"${tmpDir("absent")}/none", (_, _) => 0L))))
    }
    // and a retraction without the winner store refuses at Targets
    intercept[IllegalArgumentException] {
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        retractions = Seq(Forget.SumLogRetraction("cms", cmsPath, (_, _) => 0L)))
    }
  }

  test("counted stamps on a batch_id-carrying store: re-ingest under a new batch id gets a fresh content-derived stamp, no removalStamp needed") {
    import spark.implicits._
    val S = StreamingSubstringDedup
    val base = tmpDir("counted_gen")
    val storePath = s"$base/store"
    val bandPath = s"$base/bands"
    val gramPath = s"$base/grams"
    val doc = Seq((5001L, uniq, 0L)).toDF("doc_id", "text", "batch_id")
    doc.write.parquet(storePath)
    StreamingNearDup.appendToIndex(
      graft.operators.Dedup.capBucket(
        graft.operators.Dedup.bandKeys(
          doc.select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128),
      bandPath, bucketCap = 128, stampParams = Some((3, 6, 2)))
    S.appendToIndexCounted(doc, "text", "doc_id", gramPath, k = 8, stampId = 0L)
    def forgetOnce(): Unit =
      Forget.forgetDocuments(spark, Seq(5001L),
        Forget.Targets(
          bandIndexPath = Some(bandPath),
          winnerStorePath = Some(storePath),
          gramIndexPath = Some(gramPath)))
    forgetOnce()
    def live() = S.countedLiveFor(spark, gramPath, 8)
      .collect().map(_.getLong(0)).toSet
    assert(live().isEmpty)
    // byte-identical re-ingest under ingest batch 1: the generation
    // column alone makes the second forget's stamp fresh
    val re = Seq((5001L, uniq, 1L)).toDF("doc_id", "text", "batch_id")
    re.write.mode("append").parquet(storePath)
    graft.streaming.StreamingNearDup.appendToIndex(
      graft.operators.Dedup.capBucket(
        graft.operators.Dedup.bandKeys(
          re.select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128),
      bandPath, bucketCap = 128)
    S.appendToIndexCounted(re, "text", "doc_id", gramPath, k = 8, stampId = 1L)
    assert(live().nonEmpty)
    forgetOnce()
    assert(live().isEmpty,
      "batch_id-aware stamp must treat the re-ingest as a new removal")
  }

  test("forget + audit dispatch on the SQ8 encoding too (neighbor_id rows, stats re-seeded by the fold)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1604)
    val corpus = (0 until 48).map(i =>
        (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
    val dir = s"${tmpDir("forget_sq")}/idx"
    Similarity.annIndexWrite(corpus, dir, IvfSqSpec(8, lists = 2))
    val victims = Seq(3L, 17L, 31L)
    def audit() = Forget.auditDocuments(spark, victims,
        Forget.Targets(annIndexPaths = Seq(dir)))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).head
    assert(audit() == ((3L, 0L, 3L)))
    val report = Forget.forgetDocuments(spark, victims,
      Forget.Targets(annIndexPaths = Seq(dir)))
    assert(report.annFolds(dir) == ((48L, 45L)))
    assert(audit() == ((0L, 0L, 0L)))
    // the SQ stats sidecar was re-seeded by the fold: the saturation
    // audit's incremental form still agrees with the codes scan
    val fromStats = Similarity.ivfSqSaturationFromStats(spark, dir)
    assert(fromStats.isDefined)
    val scan = Similarity.ivfSqSaturation(spark, dir)
      .collect().map(_.toSeq).toSet
    assert(fromStats.get.collect().map(_.toSeq).toSet == scan)
  }

  test("extraRebuilds hooks run AFTER the folds — they observe the already-clean corpus — and report their summaries") {
    val fx = fixture("hooks")
    var storeCleanInsideHook = false
    val report = Forget.forgetDocuments(spark, Seq(fx.victimId),
      Forget.Targets(
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        extraRebuilds = Seq("sketch_rebuild" -> { () =>
          // the hook's contract: the winner store it re-derives from
          // is already folded when the hook fires
          val left = spark.read.parquet(fx.storePath)
            .filter(col("doc_id") === fx.victimId).count()
          storeCleanInsideHook = left == 0L
          s"rebuilt from ${spark.read.parquet(fx.storePath).count()} surviving docs"
        })))
    assert(storeCleanInsideHook,
      "extraRebuilds must fire after the winner-store fold")
    assert(report.extras.size === 1 &&
      report.extras.head._2.contains("surviving docs"))
    assert(report.summary.contains("sketch_rebuild"), report.summary)
  }

  test("validation is all-or-nothing: a bad path refuses BEFORE any tombstone lands") {
    val fx = fixture("val")
    val bogus = s"${tmpDir("forget_bogus")}/nothing"
    intercept[IllegalArgumentException] {
      Forget.forgetDocuments(spark, Seq(fx.victimId),
        Forget.Targets(
          annIndexPaths = Seq(fx.annPath),
          bandIndexPath = Some(fx.bandPath),
          winnerStorePath = Some(fx.storePath),
          gramIndexPath = Some(bogus))) // typo'd gram path
    }
    // nothing was tombstoned anywhere — no half-forget
    assert(Tombstones.count(spark, fx.annPath) === 0L)
    assert(Tombstones.count(spark, fx.bandPath) === 0L)
    // target combinations that cannot work refuse at construction
    intercept[IllegalArgumentException] { Forget.Targets() }
    intercept[IllegalArgumentException] {
      Forget.Targets(winnerStorePath = Some(fx.storePath))
    }
    intercept[IllegalArgumentException] {
      Forget.Targets(gramIndexPath = Some(fx.gramPath))
    }
  }

  test("forgetTask runs the composition inside one owned maintenance window") {
    val fx = fixture("task")
    val m = new ArtifactMaintainer()
    val rep = m.maintain(Seq(ArtifactMaintainer.forgetTask(spark,
      Seq(fx.victimId),
      Forget.Targets(
        annIndexPaths = Seq(fx.annPath),
        bandIndexPath = Some(fx.bandPath),
        winnerStorePath = Some(fx.storePath),
        gramIndexPath = Some(fx.gramPath)),
      annIds = Some(fx.vecVictims))))
    assert(rep.tasks.size === 1)
    val s = rep.tasks.head.summary
    assert(s.contains("store") && s.contains("band") && s.contains("grams"), s)
    assert(!neardupPriors(fx).contains(fx.victimId))
    assert(Tombstones.count(spark, fx.bandPath) === 0L)
  }

  test("FORGET DOCUMENTS SQL verb: predicate over the documents table drives the full composition") {
    val fx = fixture("sql")
    // victim 1001 is not in the testdata documents table, so the SQL
    // predicate targets a real testdata doc on the prior side instead
    val sqlVictim = 7L // % 3 == 1 -> prior side
    val out = spark.sql(
      s"FORGET DOCUMENTS FROM '/root/testdata/sf0.001' WHERE doc_id = $sqlVictim " +
        s"IN ANN INDEX '${fx.annPath}' " +
        s"IN BAND INDEX '${fx.bandPath}' WITH WINNER STORE '${fx.storePath}' " +
        s"IN GRAM INDEX '${fx.gramPath}'").collect()
    assert(out.length === 1)
    assert(out.head.getLong(0) === 1L)
    assert(out.head.getString(1).contains("grams"), out.head.getString(1))
    assert(spark.read.parquet(fx.storePath)
      .filter(col("doc_id") === sqlVictim).count() === 0L)
    assert(spark.read.parquet(fx.bandPath)
      .filter(col("doc_id") === sqlVictim).count() === 0L)
    // the ANN artifact folded the same id (doc_id == vec_id linkage)
    assert(spark.read.parquet(fx.annPath)
      .filter(col("vec_id") === sqlVictim).count() === 0L)
    // no-clause and empty-predicate forms refuse loudly
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"FORGET DOCUMENTS FROM '/root/testdata/sf0.001' WHERE doc_id = 1")
    }
    assert(e.getMessage.contains("names no artifacts"), e.getMessage)
  }

  test("FORGET DOCUMENTS ... WITH REMOVAL STAMP reaches the counted gram " +
    "decrement, and IS the SQL remedy for the byte-identical re-ingest refusal") {
    import spark.implicits._
    val dir = tmpDir("sql_stamp")
    val bandPath = s"$dir/band"
    val storePath = s"$dir/winners"
    val gramPath = s"$dir/gramsc"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val victim = 7L // % 3 == 1 -> prior side of the usual split
    val prior = docs.filter(col("doc_id") < 60 && col("doc_id") % 3 =!= 0)
      .coalesce(1).localCheckpoint()
    def ingest(batch: DataFrame, stamp: Long): Unit = {
      StreamingNearDup.appendToIndex(
        Dedup.capBucket(
          Dedup.bandKeys(batch.select(col("doc_id"), col("text").as("__text")),
            shingleN = 3, bands = 6, rows = 2),
          "band_key", "doc_id", 128),
        bandPath, bucketCap = 128, stampParams = Some((3, 6, 2)))
      batch.select("doc_id", "text").write.mode("append").parquet(storePath)
      StreamingSubstringDedup.appendToIndexCounted(batch, "text", "doc_id",
        gramPath, k = 8, stampId = stamp)
    }
    ingest(prior, 0L)
    val victimRow = prior.filter(col("doc_id") === victim).localCheckpoint()
    assert(victimRow.count() === 1L)
    def forgetSql(stamp: Long): String =
      s"FORGET DOCUMENTS FROM '/root/testdata/sf0.001' WHERE doc_id = $victim " +
        s"IN BAND INDEX '$bandPath' WITH WINNER STORE '$storePath' " +
        s"IN GRAM INDEX '$gramPath' WITH REMOVAL STAMP $stamp"
    val out = spark.sql(forgetSql(41L)).collect()
    assert(out.head.getLong(0) === 1L)
    // the stamp reached the COUNTED path: the report carries the
    // decrement accounting, not a rebuild
    assert(out.head.getString(1).contains("owner counts"), out.head.getString(1))
    assert(spark.read.parquet(storePath)
      .filter(col("doc_id") === victim).count() === 0L)
    // byte-identical re-ingest (stampless store: the content-derived
    // stamp would now collide — the residual the clause exists for)
    ingest(victimRow, 1L)
    // reusing the COMPLETED removal's stamp refuses with the remedy named
    val e3 = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(forgetSql(41L)).collect()
    }
    assert(e3.getMessage.contains("FRESH stamp"), e3.getMessage)
    // ...and a fresh stamp completes the second removal end-to-end
    val out2 = spark.sql(forgetSql(42L)).collect()
    assert(out2.head.getString(1).contains("owner counts"), out2.head.getString(1))
    assert(spark.read.parquet(storePath)
      .filter(col("doc_id") === victim).count() === 0L)
    // victim's ownership is gone from the live gram set again: its
    // grams equal the first removal's delta, so live == post-first-forget
    // (proved indirectly: re-registering is allowed again)
    assert(StreamingSubstringDedup.appendToIndexCounted(victimRow,
      "text", "doc_id", gramPath, k = 8, stampId = 2L) > 0L)
    // a misplaced stamp clause fails at parse naming the fixed order
    val e4 = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"FORGET DOCUMENTS FROM '/root/testdata/sf0.001' " +
        s"WHERE doc_id = $victim WITH REMOVAL STAMP 9 " +
        s"IN BAND INDEX '$bandPath' WITH WINNER STORE '$storePath'")
    }
    assert(e4.getMessage.contains("WITH REMOVAL STAMP"), e4.getMessage)
    assert(e4.getMessage.contains("out of order"), e4.getMessage)
  }

  test("index BUILD verbs refuse a live tombstone set: a retrain-in-place must " +
    "not discard a pending rights-removal (fold first, then build)") {
    val dir = tmpDir("build_tomb")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val pqPath = s"$dir/ann_pq"
    val sqPath = s"$dir/ann_sq"
    Similarity.annIndexWrite(emb, pqPath, IvfPqSpec(64))
    Similarity.annIndexWrite(emb, sqPath, IvfSqSpec(64))
    Similarity.annIndexDeleteAt(spark, pqPath, Seq(3L, 6L))
    Similarity.annIndexDeleteAt(spark, sqPath, Seq(3L, 6L))
    // the in-place overwrite would clear the tombstone sidecar while
    // re-encoding the deleted rows from the caller's corpus — refuse
    val e1 = intercept[IllegalArgumentException] {
      Similarity.annIndexWrite(emb, pqPath, IvfPqSpec(64))
    }
    assert(e1.getMessage.contains("Fold first"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.annIndexWrite(emb, sqPath, IvfSqSpec(64))
    }
    assert(e2.getMessage.contains("Fold first"), e2.getMessage)
    // the rotated spec refuses in the builder's skeleton too, before
    // paying the covariance/eigen training
    val e3 = intercept[IllegalArgumentException] {
      Similarity.annIndexWrite(emb, pqPath, RotatedSpec(64, Pca(32)))
    }
    assert(e3.getMessage.contains("annIndexWrite (build over an existing artifact)") &&
      e3.getMessage.contains("Fold first"), e3.getMessage)
    // folding the removal physical makes a rebuild-in-place legal again
    Similarity.annTombstoneFold(spark, pqPath)
    assert(Similarity.annIndexWrite(emb, pqPath, IvfPqSpec(64)) > 0L)
  }

  test("forget folds a PCA-rotated ANN artifact: rotation sidecars survive the " +
    "fold and the projecting probe answers cleanly (q_forget_ann_pca is the oracle gate)") {
    val dir = tmpDir("forget_pca")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val prior = emb.filter(col("vec_id") % 3 =!= 0)
    val path = s"$dir/pca_idx"
    Similarity.annIndexWrite(prior, path, RotatedSpec(64, Pca(32)))
    val victims = prior.filter(col("vec_id") % 7 === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(victims.nonEmpty)
    val report = Forget.forgetDocuments(spark, victims.toSeq,
      Forget.Targets(annIndexPaths = Seq(path)))
    // physical fold happened (tombstone -> fold in one sequenced call)
    val (fb, fa) = report.annFolds(path)
    assert(fb - fa == victims.size.toLong, s"fold $fb -> $fa vs ${victims.size} ids")
    assert(Tombstones.count(spark, path) == 0L, "fold did not consume the sidecar")
    // the pcarot sidecar rode through the fold's swap, baseline intact
    val rot = graft.sources.ArtifactHeader.read(spark, path, "pcarot")
    assert(rot.exists(kv => kv.contains("rotation") && kv.contains("capture_pm")),
      s"pcarot sidecar lost or stripped: ${rot.map(_.keySet)}")
    // the projecting probe (stored-rotation projection + header-trusted
    // ADC) surfaces ONLY surviving neighbors
    val res = Similarity.annProbeAt(spark, path,
      emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
      .select("neighbor_id").collect().map(_.getLong(0))
    assert(res.nonEmpty && res.toSet.intersect(victims).isEmpty,
      s"forgotten ids reachable through the rotated probe")
    // idempotent re-run: no-match fold, artifact stable
    val again = Forget.forgetDocuments(spark, victims.toSeq,
      Forget.Targets(annIndexPaths = Seq(path)))
    assert(again.annFolds(path)._1 == again.annFolds(path)._2)
  }
}
