package graft.operators

import AnnLifecycle.{Given, IvfPqSpec, IvfSqSpec, OpqP, Pca, RotatedSpec, Trained}
import graft.SharedSpark
import graft.sources.ArtifactMaintainer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one surface over every ANN artifact kind. Search and append:
  * [[Similarity.annProbeAt]], [[Similarity.annRefineAt]] and
  * [[Similarity.annAppendAt]] dispatch on the stored kind, so each must
  * equal the kind's own scorer run by hand — over the artifact's parquet
  * rows, the header arrays and queries projected through the stored
  * rotation — for IVF-PQ, residual IVF-PQ, SQ8, PCA, full-rank PCA and
  * OPQ alike. Audit and rebuild: [[Similarity.annNeedsRebuild]] names
  * the kind's tripped signal, [[Similarity.annRebuildIfNeeded]] runs
  * the rebuild that signal calls for, and the maintainer's
  * [[ArtifactMaintainer.annRebuildDue]] takes the raw corpus for every
  * kind. Build: [[Similarity.annIndexWrite]] is the one builder, and an
  * artifact it built then grew equals one it built over the union.
  */
class AnnSurfaceSpec extends AnyFunSuite with SharedSpark {
  private val Dim = 16
  private val K = 3
  private val NProbe = 2
  private val Rerank = 8

  private def vecs(from: Int, n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (from until from + n).map(i =>
        (i.toLong, Seq.fill(Dim)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
  }

  private lazy val corpus = vecs(0, 96, 1901)
  private lazy val queries = vecs(5000, 6, 1902)
  private lazy val batch = vecs(1000, 16, 1903)

  private def tmpIdx(prefix: String): String =
    new java.io.File(
      java.nio.file.Files.createTempDirectory(prefix).toFile, "idx").getPath

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** A raw-bit hex matrix as the headers store it. */
  private def matrix(s: String): Array[Array[Double]] =
    s.split(";", -1).map(_.split(",", -1).map(h =>
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))))

  /** The kind's scorer run by hand: the artifact's parquet rows minus
    * `drop` (restricted to `allowed` when given), the header arrays, and
    * the queries projected through the pcarot rotation when one is
    * stored.
    */
  private def byHand(dir: String, q: DataFrame, k: Int, allowed: Option[Set[Long]],
                     drop: Set[Long] = Set.empty): DataFrame = {
    val sq = graft.sources.ArtifactHeader.read(spark, dir, "ivfsq")
    val idCol = if (sq.isDefined) "neighbor_id" else "vec_id"
    val all = spark.read.parquet(dir)
    val live = if (drop.isEmpty) all else all.filter(!col(idCol).isin(drop.toSeq: _*))
    val scan = allowed.fold(live)(a => live.filter(col(idCol).isin(a.toSeq: _*)))
    sq match {
      case Some(kv) =>
        Similarity.annIvfSqProbeFrame(scan, q, k, NProbe, matrix(kv("centroids")),
          matrix(kv("vmin")).head, matrix(kv("vmax")).head, "vec_id", "embedding")
      case None =>
        val h = Similarity.ivfPqReadHeader(spark, dir).get
        val projected = graft.sources.ArtifactHeader.read(spark, dir, "pcarot")
          .fold(q)(kv => Similarity.pcaProject(q, matrix(kv("rotation"))))
        Similarity.annIvfPqProbe(scan, projected, k, h.dim, h.lists, NProbe, h.m, h.codes,
          centroids = Some(h.centroids), codebooks = Some(h.codebooks),
          residual = h.residual)
    }
  }

  private val kinds: Seq[(String, String => Long)] = Seq(
    "IVF-PQ" -> (Similarity.annIndexWrite(corpus, _, IvfPqSpec(Dim, lists = 4, m = 4,
      codes = 8))),
    "residual IVF-PQ" -> (Similarity.annIndexWrite(corpus, _, IvfPqSpec(Dim, lists = 4,
      m = 4, codes = 8, residual = true))),
    "SQ8" -> (Similarity.annIndexWrite(corpus, _, IvfSqSpec(Dim, lists = 4))),
    "PCA" -> (Similarity.annIndexWrite(corpus, _, RotatedSpec(Dim, Pca(8), lists = 4,
      m = 4, codes = 8))),
    "full-rank PCA" -> (Similarity.annIndexWrite(corpus, _, RotatedSpec(Dim, Pca(Dim),
      lists = 4, m = 4, codes = 8))),
    "OPQ" -> (Similarity.annIndexWrite(corpus, _, RotatedSpec(Dim, OpqP, lists = 4, m = 4,
      codes = 8, quantizers = Trained()))))

  kinds.foreach { case (name, build) =>
    test(s"$name: probe and refine equal the kind's scorer by hand, filtered or not; " +
        "append admits once; a tombstone neither surfaces nor displaces") {
      val dir = tmpIdx("ann_surface")
      assert(build(dir) == 96L)
      val allowed = (0L until 96L).filter(_ % 3 != 0).toSet
      val allowedDf = corpus.filter(col("vec_id") % 3 =!= 0).select("vec_id")

      val probed = Similarity.annProbeAt(spark, dir, queries, K, NProbe)
      assert(rows(probed) == rows(byHand(dir, queries, K, None)) && rows(probed).nonEmpty)
      assert(rows(Similarity.annProbeAt(spark, dir, queries, K, NProbe,
          allowedIds = Some(allowedDf))) ==
        rows(byHand(dir, queries, K, Some(allowed))))

      def refinedByHand(allowed: Option[Set[Long]]) =
        rows(Similarity.refineExact(corpus, byHand(dir, queries, Rerank, allowed),
          queries, K, "vec_id", "embedding"))
      assert(rows(Similarity.annRefineAt(spark, dir, corpus, queries, K, NProbe,
        Rerank)) == refinedByHand(None))
      assert(rows(Similarity.annRefineAt(spark, dir, corpus, queries, K, NProbe,
        Rerank, allowedIds = Some(allowedDf))) == refinedByHand(Some(allowed)))

      assert(Similarity.annAppendAt(batch, dir) == 16L)
      assert(Similarity.annAppendAt(batch, dir) == 0L)
      assert(spark.read.parquet(dir).count() == 112L)

      // delete the first query's nearest neighbour: it leaves every
      // result, and the k-cut refills from the next candidate exactly as
      // the scorer over the artifact minus that row ranks it
      val before = Similarity.annProbeAt(spark, dir, queries, K, NProbe).collect()
      val victim = before.filter(_.getLong(1) == 1L).minBy(_.getLong(0)).getLong(2)
      Similarity.annIndexDeleteAt(spark, dir, Seq(victim))
      val after = Similarity.annProbeAt(spark, dir, queries, K, NProbe)
      assert(!after.collect().exists(_.getLong(2) == victim))
      assert(after.count() == before.length.toLong)
      assert(rows(after) == rows(byHand(dir, queries, K, None, drop = Set(victim))))
    }
  }

  test("grown == rebuilt, re-send admits 0: IVF-PQ plain, residual and SQ8, each " +
      "under given quantizers") {
    val cents = Similarity.kmeansCentroids(corpus, k = 4, iters = 2, dim = Dim,
      seedFromData = true)
    val cbs = Similarity.pqLearnedCodebooks(corpus, dim = Dim, m = 4, codes = 8, iters = 2,
      seedFromData = true)
    val specs = Seq(
      "ivfpq" -> IvfPqSpec(Dim, lists = 4, m = 4, codes = 8, quantizers = Given(cents, cbs)),
      "ivfpq" -> IvfPqSpec(Dim, lists = 4, m = 4, codes = 8, residual = true,
        quantizers = Given(cents, cbs)),
      "ivfsq_stats" -> IvfSqSpec(Dim, lists = 4, centroids = Some(cents),
        bounds = Some(Similarity.sqTrainBounds(corpus, Dim))))
    specs.foreach { case (sidecar, spec) =>
      val grown = tmpIdx("ann_grown")
      val rebuilt = tmpIdx("ann_rebuilt")
      assert(Similarity.annIndexWrite(corpus, grown, spec) == 96L)
      assert(Similarity.annAppendAt(batch, grown) == 16L)
      assert(Similarity.annAppendAt(batch, grown) == 0L)
      assert(Similarity.annIndexWrite(corpus.unionByName(batch), rebuilt, spec) == 112L)
      // history never re-encoded, yet the grown rows and their derived
      // sidecar equal one build over the union
      assert(stored(grown) == stored(rebuilt), spec)
      assert(graft.sources.ArtifactHeader.read(spark, grown, sidecar) ==
        graft.sources.ArtifactHeader.read(spark, rebuilt, sidecar), spec)
    }
  }

  /** `n` near-identical vectors (every coordinate in [0.85, 0.95]): a
    * dense cluster that piles into one IVF list.
    */
  private def cluster(from: Int, n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (from until from + n).map(i =>
        (i.toLong, Seq.fill(Dim)((0.85 + rnd.nextDouble() * 0.1).toFloat)))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
  }

  /** Variance at `amp` in the half of the dims starting at `lo`, noise
    * elsewhere: a basis trained on one half captures almost none of
    * the other.
    */
  private def halfSpace(from: Int, n: Int, lo: Int, amp: Double, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (from until from + n).map(i => (i.toLong, Seq.tabulate(Dim) { d =>
        val a = if (d >= lo && d < lo + Dim / 2) amp else 0.01
        (a * (rnd.nextDouble() * 2 - 1)).toFloat
      })).toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
  }

  private def pcarot(dir: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(new java.io.File(dir,
      graft.sources.ArtifactHeader.sidecarName("pcarot")).toPath)

  private def stored(dir: String): Set[String] = rows(spark.read.parquet(dir))

  private lazy val drift = cluster(2000, 256, 1904)
  private lazy val outOfSpan = {
    import spark.implicits._
    val rnd = new scala.util.Random(1905)
    (2000 until 2064).map(i =>
        (i.toLong, Seq.fill(Dim)((1.5 + rnd.nextDouble()).toFloat)))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
  }
  private lazy val genA = halfSpace(0, 96, 0, 1.0, 1906)
  private lazy val genB = halfSpace(3000, 96, Dim / 2, 4.0, 1907)
  private val Policy = Similarity.RebuildPolicy(rebuildPm = 2500L)

  /** Per kind: its base corpus, its builder, the batch that trips its
    * signal, and that signal's name.
    */
  private val rebuildKinds: Seq[(String, () => DataFrame, (DataFrame, String) => Long,
      () => DataFrame, String)] = Seq(
    ("IVF-PQ", () => corpus, Similarity.annIndexWrite(_, _, IvfPqSpec(Dim, lists = 4,
      m = 4, codes = 8)), () => drift, "list balance"),
    ("residual IVF-PQ", () => corpus, Similarity.annIndexWrite(_, _, IvfPqSpec(Dim,
      lists = 4, m = 4, codes = 8, residual = true)), () => drift, "list balance"),
    ("SQ8", () => corpus, Similarity.annIndexWrite(_, _, IvfSqSpec(Dim, lists = 4)),
      () => outOfSpan, "bounds saturation"),
    ("PCA", () => genA, Similarity.annIndexWrite(_, _, RotatedSpec(Dim, Pca(8), lists = 4,
      m = 4, codes = 8)), () => genB, "basis capture"),
    ("OPQ_P", () => corpus, Similarity.annIndexWrite(_, _, RotatedSpec(Dim, OpqP,
      lists = 4, m = 4, codes = 8, quantizers = Trained())), () => drift, "list balance"))

  rebuildKinds.foreach { case (name, base, build, grow, signal) =>
    test(s"$name: annNeedsRebuild names the $signal signal; annRebuildIfNeeded runs " +
        "the rebuild it calls for and calms it") {
      val (viaIf, viaAt) = (tmpIdx("ann_rebuild_if"), tmpIdx("ann_rebuild_at"))
      Seq(viaIf, viaAt).foreach { d => build(base(), d); Similarity.annAppendAt(grow(), d) }
      val grown = base().unionByName(grow())
      val tripped = Similarity.annNeedsRebuild(spark, viaIf, grown, Policy)
      assert(tripped.exists(_.startsWith(signal)), s"$tripped")
      val rotBefore = Option.when(AnnLifecycle.hasRotation(spark, viaIf))(pcarot(viaIf))
      val rep = Similarity.annRebuildIfNeeded(grown, viaIf, Policy).get
      assert(rep.rowsAfter == grown.count())
      assert(!Similarity.annNeedsRebuild(spark, viaIf, grown, Policy)
        .exists(_.startsWith(signal)))
      val expected = rotBefore match {
        case Some(rot) if signal == "list balance" =>
          // balance alone: quantizers retrained under the STORED
          // rotation — the pcarot is carried byte for byte, and the rows
          // equal a plain IVF-PQ rebuild over the hand-projected corpus
          assert(rep.retrained == "quantizers")
          assert(java.util.Arrays.equals(pcarot(viaIf), rot))
          val h = Similarity.ivfPqReadHeader(spark, viaIf).get
          val projected = Similarity.pcaProject(grown,
            Similarity.pcaRotationAt(spark, viaIf)).localCheckpoint()
          val twin = tmpIdx("ann_rebuild_twin")
          Similarity.annIndexWrite(projected, twin, IvfPqSpec(h.dim, lists = h.lists,
            m = h.m, codes = h.codes, residual = h.residual))
          Similarity.annRebuildAt(projected, twin, Policy)
          twin
        case Some(rot) =>
          // a drifted basis: rotation AND quantizers retrained — the
          // rewrite stamps a new rotation with a new capture baseline
          assert(rep.retrained == "rotation + quantizers")
          assert(!java.util.Arrays.equals(pcarot(viaIf), rot))
          def capture(d: String) =
            graft.sources.ArtifactHeader.read(spark, d, "pcarot").get("capture_pm")
          val stale = capture(viaAt)
          Similarity.annRebuildAt(grown, viaAt, Policy)
          assert(capture(viaIf) != stale && capture(viaIf) == capture(viaAt))
          viaAt
        case None =>
          assert(rep.retrained == "quantizers")
          Similarity.annRebuildAt(grown, viaAt, Policy)
          viaAt
      }
      assert(stored(viaIf) == stored(expected) && stored(viaIf).nonEmpty)
    }
  }

  test("annRebuildDue: a PCA artifact's window takes the raw-corpus thunk and rebalances it") {
    val dir = tmpIdx("ann_rebuild_due_pca")
    // full rank: the stored basis captures any corpus, so list balance
    // is the one signal the cluster can trip
    Similarity.annIndexWrite(corpus, dir, RotatedSpec(Dim, Pca(Dim), lists = 4, m = 4,
      codes = 8))
    Similarity.annAppendAt(drift, dir)
    val grown = corpus.unionByName(drift)
    val policy = Policy.copy(trainSample = 512)
    val due = ArtifactMaintainer.annRebuildDue(spark, dir, () => grown, policy)
    assert(due.check().exists(_.startsWith("list balance")))
    val m = new ArtifactMaintainer()
    val summary = m.maintainIfDue(Seq(due)).get.tasks.map(_.summary).mkString("; ")
    assert(summary.contains("quantizers rebuilt rows 352 -> 352"), summary)
    assert(m.maintainIfDue(Seq(due)).isEmpty, "the rebuilt artifact is still skewed")
    // a corpus of the wrong dimension still refuses on the dim guard
    val ex = intercept[IllegalArgumentException] {
      Similarity.annRebuildAt(
        grown.select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding")), dir)
    }
    assert(ex.getMessage.contains("PROJECTED"), ex.getMessage)
  }
}
