package graft.operators

import graft.SharedSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one search-and-append surface over every ANN artifact kind:
  * [[Similarity.annProbeAt]], [[Similarity.annRefineAt]] and
  * [[Similarity.annAppendAt]] dispatch on the stored kind, so each must
  * equal the kind's own scorer run by hand — over the artifact's parquet
  * rows, the header arrays and queries projected through the stored
  * rotation — for IVF-PQ, residual IVF-PQ, SQ8, PCA, full-rank PCA and
  * OPQ alike.
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
    "IVF-PQ" -> (Similarity.ivfPqIndexWrite(corpus, _, dim = Dim, lists = 4, m = 4,
      codes = 8)),
    "residual IVF-PQ" -> (Similarity.ivfPqIndexWrite(corpus, _, dim = Dim, lists = 4,
      m = 4, codes = 8, residual = true)),
    "SQ8" -> (Similarity.ivfSqIndexWrite(corpus, _, dim = Dim, lists = 4)),
    "PCA" -> (Similarity.pcaIvfPqIndexWrite(corpus, _, dim = Dim, outDim = 8,
      lists = 4, m = 4, codes = 8)),
    "full-rank PCA" -> (Similarity.pcaIvfPqIndexWrite(corpus, _, dim = Dim,
      outDim = Dim, lists = 4, m = 4, codes = 8)),
    "OPQ" -> (Similarity.opqIvfPqIndexWrite(corpus, _, dim = Dim, lists = 4, m = 4,
      codes = 8)))

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
}
