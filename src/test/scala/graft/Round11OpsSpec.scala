package graft

import graft.operators.AnnLifecycle.IvfPqSpec
import graft.operators.{Similarity, Sketches}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 hardening: the KMV artifact-k guard, static-fraction
  * sampled training, and PageRank checkpoint hygiene.
  */
class Round11OpsSpec extends AnyFunSuite with SharedSpark {

  test("kmv artifact-k guard: larger caller k is refused, smaller k is re-cut") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val sk = Sketches.kmvSketch(docs, "text", "source", k = 64, shingleN = 3)
      .localCheckpoint()
    // build-k rides in the artifact; a LARGER caller k would silently
    // report truncated counts as exact cardinalities — refused loudly
    // at execution time instead
    val ex = intercept[Exception] {
      Sketches.kmvSetOpsFromSketches(sk, k = 128).collect()
    }
    assert(ex.getMessage.contains("built with k=64"), ex.getMessage)
    // a SMALLER caller k subsets each stratum to its k smallest — a
    // valid k-sketch by construction, bit-identical to building at
    // that k directly
    def ests(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    val recut = ests(Sketches.kmvSetOpsFromSketches(sk, k = 16))
    val direct = ests(Sketches.kmvSetOpsFromSketches(
      Sketches.kmvSketch(docs, "text", "source", k = 16, shingleN = 3), k = 16))
    assert(recut == direct && recut.nonEmpty)
    // mixed build-k artifacts (two jobs' sketches unioned) are misuse
    val mixed = sk.unionByName(
      Sketches.kmvSketch(docs, "text", "source", k = 32, shingleN = 3))
    val ex2 = intercept[Exception] {
      Sketches.kmvSetOpsFromSketches(mixed, k = 32).collect()
    }
    assert(ex2.getMessage.contains("mixed build-k"), ex2.getMessage)
    // bare (source, h) frames — the streaming-state path — keep the
    // documented caller contract and still estimate
    assert(ests(Sketches.kmvSetOpsFromSketches(
      sk.select("source", "h"), k = 64)).nonEmpty)
  }

  test("kmvMergeSketches: merging half-corpus artifacts == direct full-corpus sketch") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("source", "h", "rn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val merged = Sketches.kmvMergeSketches(
      Sketches.kmvSketch(docs.filter(col("doc_id") % 2 === 0), "text", "source",
        k = 64, shingleN = 3).localCheckpoint(),
      Sketches.kmvSketch(docs.filter(col("doc_id") % 2 =!= 0), "text", "source",
        k = 64, shingleN = 3).localCheckpoint(),
      k = 64)
    val direct = Sketches.kmvSketch(docs, "text", "source", k = 64, shingleN = 3)
    assert(rows(merged) == rows(direct) && rows(direct).nonEmpty)
    // a truncated input (build k below the caller's) is refused loudly
    val small = Sketches.kmvSketch(docs, "text", "source", k = 16, shingleN = 3)
    val ex = intercept[Exception] {
      Sketches.kmvMergeSketches(small, small, k = 64).collect()
    }
    assert(ex.getMessage.contains("built with k=16"), ex.getMessage)
    // merged artifacts feed the estimator like any other sketch
    assert(Sketches.kmvSetOpsFromSketches(merged, k = 64).collect().nonEmpty)
  }

  test("trainFraction: static threshold equals the oracle constant and the count path") {
    import spark.implicits._
    // the constant the DuckDB oracles embed literally (2^60 / 4)
    assert(Similarity.fractionThresh(0.25) == 288230376151711744L)
    val rnd = new scala.util.Random(907)
    val blobs = Array.fill(8)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    val vecs = (0 until 400).map { i =>
      val b = blobs(i % 8)
      (i.toLong, b.map(x => (x + rnd.nextGaussian() * 0.05).toFloat).toSeq)
    }
    val emb = vecs.toDF("vec_id", "embedding").localCheckpoint()
    // trainSample = 100 of 400 derives threshold 100/400 * 2^60 =
    // exactly fractionThresh(0.25): the two forms must train
    // bit-identical centroids
    val viaFraction = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      trainFraction = 0.25)
    val viaCount = Similarity.kmeansCentroids(emb, k = 8, iters = 2,
      trainSample = 100)
    assert(viaFraction.map(_.toSeq).toSeq == viaCount.map(_.toSeq).toSeq)
    // ...and the fraction is LIVE (differs from full training)
    val full = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    assert(viaFraction.map(_.toSeq).toSeq != full.map(_.toSeq).toSeq)
    // the fraction path runs NO extra count() job: same job count as
    // full training, one fewer than the count-derived path
    def jobsDuring(f: => Unit): Int = {
      val counter = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          counter.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(300) } finally spark.sparkContext.removeSparkListener(l)
      counter.get()
    }
    val jFull = jobsDuring(Similarity.kmeansCentroids(emb, k = 8, iters = 2))
    val jFraction = jobsDuring(
      Similarity.kmeansCentroids(emb, k = 8, iters = 2, trainFraction = 0.25))
    val jCount = jobsDuring(
      Similarity.kmeansCentroids(emb, k = 8, iters = 2, trainSample = 100))
    assert(jFraction == jFull, s"fraction path ran $jFraction jobs vs full $jFull")
    // (the eager count() itself is 2 jobs under AQE; >= 1 extra is the point)
    assert(jCount > jFull, s"count path ran $jCount jobs vs full $jFull")
    // misuse is refused at construction
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(emb, k = 8, trainFraction = 1.5)
    }
    intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(emb, k = 8, trainSample = 10, trainFraction = 0.5)
    }
    // pqLearnedCodebooks takes the same static form
    val pqF = Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 1, trainFraction = 0.25)
    val pqC = Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 1, trainSample = 100)
    assert(pqF.map(_.map(_.toSeq).toSeq).toSeq == pqC.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("single-aggregate PQ training == per-subspace kmeans loop, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(412)
    val vecs = (0 until 300).map(i =>
      (i.toLong, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat).toSeq))
    val emb = vecs.toDF("vec_id", "embedding").localCheckpoint()
    val subDim = 8
    // the batched (one aggregate per iteration, all 8 subspaces) form
    val batched = Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 2)
    // the original per-subspace composition it replaced
    val perSubspace = Array.tabulate(8) { s =>
      val slice = udf { (v: Seq[Float]) => v.slice(s * subDim, (s + 1) * subDim) }
      Similarity.kmeansCentroids(
        emb.select(lit(0L).as("__id"), slice(col("embedding")).as("__sub")),
        k = 16, iters = 2, dim = subDim, idCol = "__id", vecCol = "__sub")
    }
    assert(batched.map(_.map(_.toSeq).toSeq).toSeq ==
      perSubspace.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("annIvfPqProbe over a re-materialized artifact == inline composition") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val q = emb.filter(col("vec_id") < 8)
    val inline = rows(Similarity.annIvfPq(emb, q, k = 5, dim = 64))
    // the artifact path: index rows through a parquet round trip —
    // DETACHED from any live corpus lineage — must reproduce the
    // composed search bit-for-bit (shared stage builders, so this is
    // by construction, and this test keeps it that way)
    val dir = java.nio.file.Files.createTempDirectory("ann_index").toString
    Similarity.ivfPqIndex(emb, dim = 64).write.mode("overwrite").parquet(dir)
    val fromArtifact = rows(Similarity.annIvfPqProbe(
      spark.read.parquet(dir), q, k = 5, dim = 64))
    assert(fromArtifact == inline && inline.nonEmpty)
    // a non-artifact frame is refused loudly
    val ex = intercept[IllegalArgumentException] {
      Similarity.annIvfPqProbe(emb, q, k = 5, dim = 64)
    }
    assert(ex.getMessage.contains("ivfPqIndex artifact"))
  }

  test("ivfPqIndexAppend: grown artifact == full rebuild; admission idempotent") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("ann_grow").toFile, "idx").getPath
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("list_id"), col("codes").cast("string"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // day 1: first slice; day 2: the rest (ids overlap-free)
    val day1 = emb.filter(col("vec_id") % 3 =!= 0)
    val day2 = emb.filter(col("vec_id") % 3 === 0)
    // the first batch builds the artifact; later batches append to it
    assert(Similarity.annIndexWrite(day1, dir, IvfPqSpec(64)) == day1.count())
    assert(Similarity.annAppendAt(day2, dir) == day2.count())
    // history never re-encoded, yet the grown artifact equals a full
    // build over the union
    assert(rows(spark.read.parquet(dir)) == rows(Similarity.ivfPqIndex(emb, dim = 64)))
    // idempotent: re-sending day 2 admits nothing
    assert(Similarity.annAppendAt(day2, dir) == 0L)
    // ...and the probe path consumes the grown artifact unchanged
    val q = emb.filter(col("vec_id") < 8)
    val probed = Similarity.annIvfPqProbe(spark.read.parquet(dir), q, k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val inline = Similarity.annIvfPq(emb, q, k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(probed == inline && inline.nonEmpty)
  }

  test("pageRankFixed frees transient round checkpoints after first action") {
    import spark.implicits._
    val sc = spark.sparkContext
    val nodes = (0L to 9L).toDF("id")
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val fixed = graft.plans.PageRank.pageRankFixed(nodes, edges, iters = 4)
    // lazy checkpoints register at construction: rounds 1..3
    val registered = sc.getPersistentRDDs.keySet -- before
    assert(registered.size == 3, s"expected 3 lazy round checkpoints, got $registered")
    val first = fixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the self-unregistering listener frees rounds 1..2 (round 3 stays:
    // the returned frame recomputes its last round from it on re-use);
    // the listener bus is asynchronous — poll briefly
    val deadline = System.nanoTime() + 10000000000L
    var live = registered.filter(sc.getPersistentRDDs.contains)
    while (live.size > 1 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      live = registered.filter(sc.getPersistentRDDs.contains)
    }
    assert(live.size == 1,
      s"transient rounds not freed: still live $live of $registered")
    // re-running an action on the returned frame still works and agrees
    val again = fixed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == first && first.values.sum > 0)
  }
}
