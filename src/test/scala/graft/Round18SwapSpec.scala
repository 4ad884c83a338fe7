package graft

import graft.operators.AnnLifecycle.{IvfPqSpec, IvfSqSpec, Pca, RotatedSpec}
import graft.sources.{DeltaLogCompaction => D, SwapRecovery}
import graft.streaming.{StreamingSubstringDedup => S}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash recovery for the artifact rewrite swap: a process crash
  * between a swap's two renames leaves the artifact PATH MISSING with
  * the history at `.old` — the one state the stamp watermarks cannot
  * see, because every writer bootstraps a missing path as "brand
  * new" (appendStamped reads watermarks as -1; validateOrStamp
  * re-stamps). Without [[SwapRecovery]] the next append RECREATED the
  * log from one batch, silently losing all prior counters (and, for
  * the counted gram index, a rights-removal's tombstones). These
  * specs fabricate each distinguishable crash state from REAL swap
  * artifacts and assert the writers self-heal with history intact.
  */
class Round18SwapSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def hadoopFs(path: String) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def copyDir(from: Path, to: Path): Unit = {
    val (fs, _) = hadoopFs(from.toString)
    FileUtil.copy(fs, from, fs, to, false, spark.sessionState.newHadoopConf())
    (): Unit
  }

  private def cmsLog(path: String): Unit = {
    import spark.implicits._
    graft.sources.ArtifactHeader.validateOrStamp(spark, path, "cms",
      graft.streaming.StreamingCms.cmsParams(4, 64))
    def delta(words: String*) = graft.operators.Sketches.cmsBuild(
      words.toDF("word"), 4, 64)
    assert(D.appendStamped(delta("alpha", "beta"), path, 0L) > 0L)
    assert(D.appendStamped(delta("alpha", "alpha"), path, 1L) > 0L)
  }

  private def alphaCount(path: String): Long = {
    import spark.implicits._
    graft.streaming.StreamingCms
      .estimateFrom(spark, path, Seq("alpha").toDF("word"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.apply("alpha")
  }

  test("crash BETWEEN the fold's renames (rewrite at .tmp): the next " +
    "stamped append completes the swap instead of recreating the log") {
    import spark.implicits._
    val path = s"${tmpDir("r18_swap_mid")}/cms_log"
    val (fs, p) = hadoopFs(path)
    cmsLog(path)
    // fabricate the exact mid-swap state from REAL artifacts: .old is
    // the pre-fold log, .tmp is the complete fold rewrite (fold header
    // and carried sidecars included — compact() writes tmp fully
    // before its first rename), the live path is missing
    val old = new Path(p.getParent, p.getName + ".compact.old")
    val tmp = new Path(p.getParent, p.getName + ".compact.tmp")
    val backup = new Path(p.getParent, "prefold_backup")
    copyDir(p, backup) // compact() retires .old/.tmp itself — park aside
    D.compactCms(spark, path)
    assert(fs.rename(p, tmp))
    assert(fs.rename(backup, old))
    assert(!fs.exists(p) && fs.exists(tmp) && fs.exists(old))

    val delta2 = graft.operators.Sketches.cmsBuild(
      Seq("alpha").toDF("word"), 4, 64)
    assert(D.appendStamped(delta2, path, 2L) > 0L)
    assert(!fs.exists(tmp) && !fs.exists(old), "swap residue not retired")
    // history preserved through the repair: 3 from batches 0/1 + 1 new
    assert(alphaCount(path) === 4L)
    // the installed rewrite carried the fold watermark: a replay of a
    // folded batch is still the recognized no-op
    assert(D.appendStamped(graft.operators.Sketches.cmsBuild(
      Seq("alpha", "alpha").toDF("word"), 4, 64), path, 1L) === 0L)
    assert(alphaCount(path) === 4L)
  }

  test("crash between the renames with the rewrite lost (.tmp gone): the " +
    "original is restored from .old and the fold simply reruns") {
    import spark.implicits._
    val path = s"${tmpDir("r18_swap_notmp")}/cms_log"
    val (fs, p) = hadoopFs(path)
    cmsLog(path)
    val old = new Path(p.getParent, p.getName + ".compact.old")
    assert(fs.rename(p, old)) // live path missing, only .old remains
    val delta2 = graft.operators.Sketches.cmsBuild(
      Seq("alpha").toDF("word"), 4, 64)
    assert(D.appendStamped(delta2, path, 2L) > 0L)
    assert(!fs.exists(old))
    assert(alphaCount(path) === 4L)
    // the restored log still folds correctly afterwards
    D.compactCms(spark, path)
    assert(alphaCount(path) === 4L)
  }

  test("crash AFTER the swap-in (stale .old residue next to a live path) " +
    "is retired by the next writer without touching the artifact") {
    import spark.implicits._
    val path = s"${tmpDir("r18_swap_post")}/cms_log"
    val (fs, p) = hadoopFs(path)
    cmsLog(path)
    val old = new Path(p.getParent, p.getName + ".compact.old")
    D.compactCms(spark, path)
    // fabricate the crash-before-retire residue next to the live path
    copyDir(p, old)
    assert(fs.exists(p) && fs.exists(old))
    assert(D.appendStamped(graft.operators.Sketches.cmsBuild(
      Seq("alpha").toDF("word"), 4, 64), path, 2L) > 0L)
    assert(!fs.exists(old), "stale .old residue survived a writer entry")
    assert(alphaCount(path) === 4L)
  }

  test("crash evidence under TWO swap tags refuses loudly (not a single " +
    "crash; needs a human), and no-evidence repair is a no-op") {
    val path = s"${tmpDir("r18_swap_two")}/cms_log"
    val (fs, p) = hadoopFs(path)
    cmsLog(path)
    assert(SwapRecovery.repair(fs, p).isEmpty) // clean state: no-op
    copyDir(p, new Path(p.getParent, p.getName + ".compact.old"))
    copyDir(p, new Path(p.getParent, p.getName + ".rebuild.old"))
    val e = intercept[IllegalArgumentException] { SwapRecovery.repair(fs, p) }
    assert(e.getMessage.contains("MULTIPLE tags"), e.getMessage)
  }

  test("a maybe-empty READER refuses a crash-absent artifact instead of " +
    "reading the lost history as empty (readers may not mutate)") {
    import spark.implicits._
    val path = s"${tmpDir("r18_swap_read")}/grams_counted"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    S.appendToIndexCounted(docs, "text", "doc_id", path, k = 6, stampId = 0L)
    val (fs, p) = hadoopFs(path)
    val old = new Path(p.getParent, p.getName + ".gramcfold.old")
    assert(fs.rename(p, old)) // the mid-swap crash state, rewrite lost
    val e = intercept[IllegalArgumentException] {
      S.countedLive(spark, path).count()
    }
    assert(e.getMessage.contains("crashed-swap residue"), e.getMessage)
    // a writer entry point repairs; the reader then sees the history
    assert(SwapRecovery.repair(fs, p).isDefined)
    assert(S.countedLive(spark, path).count() > 0L)
  }

  test("a rights-removal against a counted index whose fold swap crashed " +
    "mid-rename decrements the REPAIRED history, not a recreated shell") {
    import spark.implicits._
    val dir = tmpDir("r18_swap_gramsc")
    val path = s"$dir/grams_counted"
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    S.appendToIndexCounted(docs, "text", "doc_id", path, k = 6, stampId = 0L)
    val liveBefore = S.countedLive(spark, path).count()
    assert(liveBefore > 0L)
    // fabricate the mid-swap crash of compactCounted (tag gramcfold)
    val (fs, p) = hadoopFs(path)
    val old = new Path(p.getParent, p.getName + ".gramcfold.old")
    val tmp = new Path(p.getParent, p.getName + ".gramcfold.tmp")
    val backup = new Path(p.getParent, "prefold_backup")
    copyDir(p, backup) // compactCounted retires .old/.tmp itself
    S.compactCounted(spark, path)
    assert(fs.rename(p, tmp))
    assert(fs.rename(backup, old))
    assert(!fs.exists(p))
    // doc 1's removal must see the repaired (folded) index: its grams
    // die, doc 2's survive — impossible against a recreated empty shell
    assert(S.decrementCounted(docs.filter(col("doc_id") === 1L),
      "text", "doc_id", path, stampId = -1L) > 0L)
    val live = S.countedLive(spark, path)
    assert(live.count() > 0L, "doc 2's grams vanished — history was lost")
    assert(live.count() < liveBefore, "doc 1's grams survived its removal")
  }

  test("a crashed ANN rebuild swap (tag rebuild) self-heals at the raw " +
    "append verb: the corpus survives and the append composes, not " +
    "bootstraps") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(1811)
    def vecs(from: Int, n: Int) = (from until from + n).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    val pq: String => Unit = dir =>
      Similarity.annIndexWrite(vecs(0, 64), dir, IvfPqSpec(8, lists = 4, m = 8))
    // every ANN writer entry, as (name, build, pre-crash step, verb,
    // distinct ids the artifact must hold afterwards): each must repair
    // the swap FIRST (install the rewrite) and then do its work. An
    // entry that checks the header before repairing refuses with
    // "write it with annIndexWrite" — advice that recreates the index
    // from one batch and lets the next repair delete the original at
    // .old
    val entries: Seq[(String, String => Unit, String => Unit, String => Unit, Long)] = Seq(
      ("annAppendAt (IVF-PQ)", pq, _ => (), dir =>
        assert(Similarity.annAppendAt(vecs(1000, 32), dir) === 32L), 96L),
      ("annAppendAt (SQ8)",
        dir => Similarity.annIndexWrite(vecs(0, 64), dir, IvfSqSpec(8, lists = 4)),
        _ => (), dir =>
        assert(Similarity.annAppendAt(vecs(1000, 32), dir) === 32L), 96L),
      ("annAppendAt (PCA)",
        dir => Similarity.annIndexWrite(vecs(0, 64), dir, RotatedSpec(8, Pca(4), lists = 4,
          m = 4)),
        _ => (), dir =>
        assert(Similarity.annAppendAt(vecs(1000, 32), dir) === 32L), 96L),
      ("annIndexDeleteAt", pq, _ => (), dir =>
        assert(Similarity.annIndexDeleteAt(spark, dir, Seq(1L, 2L)) === 2L), 64L),
      ("annTombstoneFold", pq,
        dir => Similarity.annIndexDeleteAt(spark, dir, Seq(1L, 2L)), dir =>
        assert(Similarity.annTombstoneFold(spark, dir) === ((64L, 62L))), 62L),
      ("forgetDocuments", pq, _ => (), dir =>
        graft.operators.Forget.forgetDocuments(spark, Seq(1L, 2L),
          graft.operators.Forget.Targets(annIndexPaths = Seq(dir))), 62L))
    // every entry runs; the failure lists each one that did not heal
    val failed = entries.flatMap { case (name, build, before, verb, held) =>
      scala.util.Try {
        val dir = new java.io.File(
          java.nio.file.Files.createTempDirectory("r18_annswap").toFile, "idx").getPath
        build(dir)
        before(dir)
        val (fs, p) = hadoopFs(dir)
        // fabricate the mid-swap crash of a rebuild: the complete rewrite
        // (headers and all) at .rebuild.tmp, the pre-rebuild original at
        // .rebuild.old, live path missing
        val old = new Path(p.getParent, p.getName + ".rebuild.old")
        val tmp = new Path(p.getParent, p.getName + ".rebuild.tmp")
        copyDir(p, old)
        assert(fs.rename(p, tmp))
        assert(!fs.exists(p))
        verb(dir)
        assert(!fs.exists(tmp) && !fs.exists(old))
        val idCol = if (name.contains("SQ8")) "neighbor_id" else "vec_id"
        val n = spark.read.parquet(dir).select(idCol).distinct().count()
        assert(n === held, s"corpus lost through the crashed swap: $n")
      }.failed.toOption.map(e => s"$name: ${e.getMessage}")
    }
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("a build over a crashed compact swap refuses live tombstones exactly " +
    "as it does without the crash: the pending rights-removal survives") {
    import spark.implicits._
    import graft.operators.Similarity
    val rnd = new scala.util.Random(1812)
    val corpus = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    def build(dir: String): Long =
      Similarity.annIndexWrite(corpus, dir, IvfPqSpec(8, lists = 4, m = 8))
    def refusal(crash: Boolean): String = {
      val dir = new java.io.File(
        java.nio.file.Files.createTempDirectory("r18_buildswap").toFile, "idx").getPath
      build(dir)
      assert(Similarity.annIndexDeleteAt(spark, dir, Seq(1L, 2L)) === 2L)
      val (fs, p) = hadoopFs(dir)
      if (crash) {
        // a compact swap crashed between its renames: the rewrite with
        // the tombstone sidecar at .compact.tmp, the original at
        // .compact.old, the live path missing
        copyDir(p, new Path(p.getParent, p.getName + ".compact.old"))
        assert(fs.rename(p, new Path(p.getParent, p.getName + ".compact.tmp")))
        assert(!fs.exists(p))
      }
      val e = intercept[IllegalArgumentException](build(dir))
      // the removal is still pending at the (repaired) live path
      assert(graft.sources.Tombstones.count(spark, dir) === 2L)
      assert(SwapRecovery.crashEvidence(fs, p).isEmpty)
      e.getMessage.replace(dir, "<dir>")
    }
    val clean = refusal(crash = false)
    assert(clean.contains("Fold first"), clean)
    assert(refusal(crash = true) === clean)
  }
}
