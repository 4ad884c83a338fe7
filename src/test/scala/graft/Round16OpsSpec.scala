package graft

import graft.streaming.StreamingNearDup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 seams: the deletion contract on LIVE streaming ingest
  * (re-appearing deleted ids are dropped, never query-killers; deleted
  * priors leave the per-batch probe immediately), and the
  * end-to-end rights-removal composition (ForgetSpec holds the
  * cross-artifact verb).
  */
class Round16OpsSpec extends AnyFunSuite with SharedSpark {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("indexedIngest under deletion: deleted priors leave the probe; a re-appearing deleted id is dropped, not fatal") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val indexPath = s"${tmpDir("ndstreamdel")}/band_index"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val prior = docs.filter(col("doc_id") % 3 =!= 0)
    StreamingNearDup.appendToIndex(
      graft.operators.Dedup.capBucket(
        graft.operators.Dedup.bandKeys(
          prior.select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128),
      indexPath, bucketCap = 128, stampParams = Some((3, 6, 2)))

    val probe = docs.filter(col("doc_id") % 3 === 0)
      .as[StreamingNearDup.DocRecord].collect().sortBy(_.doc_id)
    val (b1, b2) = probe.splitAt(probe.length / 2)

    // pick a prior doc that actually collides with batch-2 docs so the
    // exclusion is observable, by dry-running the b2 candidates
    val dryCand = StreamingNearDup.probeBands(b2.toSeq.toDS())
      .join(spark.read.parquet(indexPath).select(col("band_key"),
        col("doc_id").as("doc_prior")), "band_key")
      .select("doc_prior").distinct().collect().map(_.getLong(0))
    assert(dryCand.nonEmpty, "fixture needs at least one colliding prior")
    val deadPrior = dryCand.min
    // and a batch-1 doc that will be deleted then re-appear in batch 2
    val deadNew = b1.head.doc_id

    val perBatch = scala.collection.mutable.ArrayBuffer[Set[(Long, Long)]]()
    val stream = MemoryStream[StreamingNearDup.DocRecord]
    val q = StreamingNearDup.indexedIngest(stream.toDS(), indexPath,
      batch => perBatch += batch.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    try {
      stream.addData(b1.toIndexedSeq); q.processAllAvailable()
      assert(q.isActive)
      // delete one colliding prior AND one batch-1 doc mid-stream
      graft.operators.Dedup.neardupIndexDeleteAt(spark, indexPath,
        Seq(deadPrior, deadNew))
      val physicalAfterDelete = spark.read.parquet(indexPath)
        .filter(col("doc_id") === deadNew).count()
      // batch 2 carries the deleted batch-1 doc again (replayed
      // history) — the stream must survive and drop it
      stream.addData((b2 :+ b1.head).toIndexedSeq); q.processAllAvailable()
      assert(q.isActive, "a re-appearing deleted id must not kill the stream")
      // its batch-1 rows stay physical until a fold (tombstoned, not
      // rewritten), but batch 2 must not have re-appended any
      val physicalAfterReplay = spark.read.parquet(indexPath)
        .filter(col("doc_id") === deadNew).count()
      assert(physicalAfterReplay === physicalAfterDelete,
        "re-appearing deleted doc re-entered the index")
    } finally q.stop()

    assert(perBatch.size === 2)
    // deleted prior never surfaces as a candidate after the delete
    assert(!perBatch(1).exists(_._2 == deadPrior),
      s"tombstoned prior $deadPrior surfaced as doc_prior after deletion")
    // the re-appearing deleted doc neither probes nor re-enters
    assert(!perBatch(1).exists(_._1 == deadNew),
      s"re-appearing deleted doc $deadNew probed as doc_new")
    // batch-1 candidates were computed before the delete and include
    // live priors; sanity: the stream produced some candidates
    assert(perBatch(0).nonEmpty || perBatch(1).nonEmpty)
  }

  // ------------------------------------------------------------------
  // Iterative (non-parametric) OPQ — Ge et al. 2013 §4
  // ------------------------------------------------------------------

  test("opqProcrustes recovers a known rotation from its cross-moment") {
    val Similarity = graft.operators.Similarity
    val d = 6
    val rnd = new scala.util.Random(1602)
    // a known orthogonal Q: eigenvector rows of a random symmetric matrix
    val sym = Array.tabulate(d, d)((_, _) => rnd.nextDouble())
    val symm = Array.tabulate(d, d)((i, j) => sym(i)(j) + sym(j)(i))
    val q = Similarity.jacobiEigen(symm)._2
    // X: 40 random columns; M = (QX)·Xᵀ = Q·(XXᵀ), polar factor = Q
    val xs = Array.fill(40)(Array.fill(d)(rnd.nextDouble() * 2 - 1))
    val m = Array.ofDim[Double](d, d)
    xs.foreach { x =>
      val y = Array.tabulate(d)(r => (0 until d).map(c => q(r)(c) * x(c)).sum)
      for (r <- 0 until d; c <- 0 until d) m(r)(c) += y(r) * x(c)
    }
    val got = Similarity.opqProcrustes(m)
    val dev = (0 until d).flatMap(r => (0 until d).map(c =>
      math.abs(got(r)(c) - q(r)(c)))).max
    assert(dev < 1e-8, f"recovered rotation deviates by $dev%.2e")
  }

  /** Energy concentrated in dims 0-3 of 16 — the Round15 OPQ fixture:
    * positional PQ grouping starves three subspaces; any variance-
    * balancing rotation fixes it.
    */
  private def anisoCorpus16() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1603)
    def vec() = Seq.tabulate(16) { d =>
      if (d < 4) (rnd.nextDouble() * 2 - 1).toFloat
      else ((rnd.nextDouble() * 2 - 1) * 0.05).toFloat
    }
    ((0 until 256).map(i => (i.toLong, vec()))
       .toDF("vec_id", "embedding").localCheckpoint(),
     (5000 until 5008).map(i => (i.toLong, vec()))
       .toDF("vec_id", "embedding").localCheckpoint())
  }

  /** Mean squared PQ reconstruction error of `corpus` under
    * (rotation, codebooks) — the objective both OPQ variants minimize,
    * computed driver-side on the collected spec corpus.
    */
  private def quantMse(corpus: org.apache.spark.sql.DataFrame,
                       rot: Array[Array[Double]],
                       cbs: Array[Array[Array[Double]]]): Double = {
    val rows = corpus.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val d = rot.length
    val m = cbs.length
    val sub = d / m
    val errs = rows.map { x =>
      val y = Array.tabulate(d)(r => (0 until d).map(c => rot(r)(c) * x(c)).sum)
      (0 until m).map { s =>
        cbs(s).map { cv =>
          (0 until sub).map(i => math.pow(y(s * sub + i) - cv(i), 2)).sum
        }.min
      }.sum
    }
    errs.sum / errs.length
  }

  test("opqIterRotation: orthogonal result, reconstruction error <= the OPQ_P warm start; method opq_i round-trips append + rebuild") {
    val Similarity = graft.operators.Similarity
    val (corpus, probes) = anisoCorpus16()

    // OPQ_P baseline at the same byte budget
    val rotP = Similarity.opqRotation(corpus, dim = 16, m = 4)
    val cbsP = Similarity.pqLearnedCodebooks(
      Similarity.pcaProject(corpus, rotP), dim = 16, m = 4, codes = 16,
      iters = 2, seedFromData = true)
    val (rotI, cbsI) = Similarity.opqIterRotation(corpus, dim = 16, m = 4,
      codes = 16, iters = 2)

    // orthogonality of the refined rotation
    val dev = (0 until 16).flatMap(r => (0 until 16).map { c =>
      val s = (0 until 16).map(k => rotI(r)(k) * rotI(c)(k)).sum
      math.abs(s - (if (r == c) 1.0 else 0.0))
    }).max
    assert(dev < 1e-6, f"refined rotation deviates from orthogonal by $dev%.2e")

    // the alternating loop minimizes the same objective it starts
    // from — it must not end worse than the parametric warm start
    // (tiny tolerance for the sampled/fixed-point steps)
    val mseP = quantMse(corpus, rotP, cbsP)
    val mseI = quantMse(corpus, rotI, cbsI)
    assert(mseI <= mseP * 1.01,
      f"iterative OPQ mse $mseI%.6f worse than OPQ_P warm start $mseP%.6f")

    // end-to-end artifact: stamped opq_i, probes, appends, rebuilds
    val dir = tmpDir("opq_iter") + "/idx"
    assert(Similarity.opqIvfPqIndexWrite(corpus, dir, dim = 16, lists = 4,
      m = 4, codes = 16, refineIters = 2) == 256L)
    val kv = graft.sources.ArtifactHeader.read(spark, dir, "pcarot").get
    assert(kv("method") == "opq_i" && kv("opq_iters") == "2")
    val probed = Similarity.annProbeAt(spark, dir, probes, k = 5,
      nprobe = 4)
    assert(probed.count() == 40L)
    import spark.implicits._
    val more = corpus.select((col("vec_id") + 10000L).as("vec_id"),
      col("embedding"))
    assert(Similarity.annAppendAt(more, dir) == 256L)
    val rep = Similarity.annRebuildAt(corpus.unionByName(more), dir,
      Similarity.RebuildPolicy(recallQueries = Some(probes), minRecallRatio = 0.0))
    assert(rep.rowsAfter == 512L)
    val kv2 = graft.sources.ArtifactHeader.read(spark, dir, "pcarot").get
    assert(kv2("method") == "opq_i" && kv2("opq_iters") == "2",
      "rebuild must carry the opq_i method AND its iteration stamp")
    assert(Similarity.annProbeAt(spark, dir, probes, k = 5,
      nprobe = 4).count() == 40L)
    // refinement composes with neither untrained quantizers nor
    // residual encoding — both refuse by name
    intercept[IllegalArgumentException] {
      Similarity.opqIvfPqIndexWrite(corpus, dir, dim = 16,
        refineIters = 2, trainQuantizers = false)
    }
    intercept[IllegalArgumentException] {
      Similarity.opqIvfPqIndexWrite(corpus, dir, dim = 16,
        refineIters = 2, residual = true)
    }
  }

  // ------------------------------------------------------------------
  // Dimensional envelope guards (the AnnProbe `dims` rung's measured
  // walls turned into refusals with guidance)
  // ------------------------------------------------------------------

  test("jacobiEigen refuses past the measured driver-eigensolve envelope; embedCovariance bounds the pair-explode volume") {
    val Similarity = graft.operators.Similarity
    val e1 = intercept[IllegalArgumentException] {
      Similarity.jacobiEigen(Array.ofDim[Double](2049, 2049))
    }
    assert(e1.getMessage.contains("2048") &&
      e1.getMessage.contains("upstream"), e1.getMessage)

    import spark.implicits._
    // dim 4096 -> 8.39M pairs/row: 2100 rows cross the 2^34 exploded-
    // row bound before any explode work runs
    val wide = spark.range(2100).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 4096), d -> CAST(0.0 AS FLOAT))").as("embedding"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.embedCovariance(wide, dim = 4096).collect()
    }
    assert(e2.getMessage.contains("trainSample"), e2.getMessage)
  }

  test("tombstone add: idempotent re-delete and disjoint merges round-trip the sidecar verbatim") {
    val path = s"${tmpDir("tombadd")}/idx"
    import spark.implicits._
    Seq((1L, "K")).toDF("doc_id", "band_key").write.parquet(path)
    graft.sources.ArtifactHeader.validateOrStamp(spark, path, "bands",
      StreamingNearDup.bandParams(3, 6, 2, 128))
    assert(graft.sources.Tombstones.add(spark, path, Seq(7L, 3L)) === 2L)
    assert(graft.sources.Tombstones.add(spark, path, Seq(3L, 9L)) === 3L)
    assert(graft.sources.Tombstones.read(spark, path).toSeq === Seq(3L, 7L, 9L))
  }
}
