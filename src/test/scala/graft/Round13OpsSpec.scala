package graft

import graft.operators.AnnLifecycle.IvfPqSpec
import graft.operators.Sketches
import graft.streaming.StreamingLogHist
import graft.streaming.StreamingLogHist.ValRecord
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-13 seams: checkpoint-stable batch ids for the stamped delta
  * logs (the r12 ADVICE medium item), and the header guards around
  * them.
  */
class Round13OpsSpec extends AnyFunSuite with SharedSpark {

  private def writeVals(dir: String, name: String, rows: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("source", "v").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$name")
  }

  private def startHist(srcDir: String, histPath: String,
                        ckpt: Option[String]) = {
    import spark.implicits._
    val src = spark.readStream
      .schema("source STRING, v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
      .as[ValRecord]
    StreamingLogHist.start(src, histPath, checkpointDir = ckpt)
  }

  test("checkpointed maintainer resumes batch ids across restart; stamped dedupe stays exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_resume").toString
    val histPath = s"$root/hist"
    val b0 = Seq(("a", 10L), ("a", 100L))
    val b1 = Seq(("a", 1000L), ("b", 7L))
    val b2 = Seq(("b", 70L), ("a", 10L))
    writeVals(s"$root/src", "f0", b0); writeVals(s"$root/src", "f1", b1)

    val q1 = startHist(s"$root/src", histPath, Some(s"$root/ckpt"))
    try q1.processAllAvailable() finally q1.stop()
    val ids1 = spark.read.parquet(histPath).select("batch_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids1 == Set(0L, 1L))

    // RESTART against the same checkpoint: the new file must land
    // under a FRESH id (resumed), not a reused 0 — the precondition
    // of the (batch_id, keys) retry dedupe
    writeVals(s"$root/src", "f2", b2)
    val q2 = startHist(s"$root/src", histPath, Some(s"$root/ckpt"))
    try q2.processAllAvailable() finally q2.stop()
    val ids2 = spark.read.parquet(histPath).select("batch_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(ids2 == Set(0L, 1L, 2L), s"restart reused ids: $ids2")

    // and the deduped merge equals one batch build over the union
    import spark.implicits._
    val exact = Sketches.logHistSketch((b0 ++ b1 ++ b2).toDF("source", "v"), "v", "source")
      .orderBy("source", "bucket", "lo").collect().toSeq
    val merged = StreamingLogHist.readSketch(spark, histPath)
      .orderBy("source", "bucket", "lo").collect().toSeq
    assert(merged == exact)
  }

  test("the documented hazard: a checkpoint-LESS restart reuses ids — and " +
    "since r18 the append REFUSES it instead of silently under-counting") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_hazard").toString
    val histPath = s"$root/hist"
    // one file per run so each run is exactly one micro-batch (id 0)
    writeVals(root, "f0", Seq(("a", 10L), ("a", 10L)))
    val q1 = startHist(s"$root/f0", histPath, None)
    try q1.processAllAvailable() finally q1.stop()
    writeVals(root, "f1", Seq(("a", 10L)))
    val q2 = startHist(s"$root/f1", histPath, None)
    // both runs stamp batch_id 0 for the same (source, bucket, lo) key
    // with DIFFERENT counts. Before r18 the second write landed and
    // dedupeRetries silently kept ONE of the two distinct batches (an
    // under-count of the true 3); appendStamped now refuses the shared
    // stamp loudly at the second run's first batch — this spec
    // documents WHY checkpointDir is a requirement of the stamp.
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getMessage.contains("sharing one stamp"), e.getMessage)
    // the refused write left nothing behind: the log still answers
    // exactly for run 1's data
    val mergedCount = StreamingLogHist.readSketch(spark, histPath)
      .agg(sum(col("c"))).collect()(0).getLong(0)
    assert(mergedCount === 2L, s"refusal leaked rows: $mergedCount")
  }

  // ---- the round's lead item: EXECUTE the rebuild the staleness
  // audit decides ----

  private def tmpIdx(prefix: String): String =
    new java.io.File(
      java.nio.file.Files.createTempDirectory(prefix).toFile, "idx").getPath

  /** Covariate shift, the drift a rebuild actually fixes: day 1 is
    * uniform over the salted quantizers' support [-1,1]^8; day 2 is a
    * dense positively-aligned cluster over [0.85,0.95]^8 — 80% of the
    * grown corpus. Under the frozen quantizers every day-2 vector (a)
    * coarse-assigns to the most positively-aligned list (the audit's
    * trigger: ~72% of the artifact in one list) and (b) PQ-encodes to
    * 1-2 corner codewords per subspace (aliasing: ADC cannot rank
    * what it cannot distinguish — measured recall 0.0). DATA-seeded
    * retraining puts seeds inside the cluster in proportion to its
    * mass, so Lloyd's both splits it across coarse lists (balance
    * restored) and tiles it with scalar codewords at ~0.015 pitch
    * (m=8 -> subDim=1), resolving the within-cluster dot ranking
    * (measured recall 1.0). Constant salted seeds provably cannot do
    * either — Lloyd's never plants a second seed inside a region one
    * seed already owns.
    */
  private def driftCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1307)
    val day1 = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val day2 = (1000 until 1256).map { i =>
      (i.toLong, Seq.fill(8)((0.85 + rnd.nextDouble() * 0.1).toFloat))
    }
    // fresh shifted-region queries, NOT in the corpus
    val probes = (5000 until 5008).map { i =>
      (i.toLong, Seq.fill(8)((0.85 + rnd.nextDouble() * 0.1).toFloat))
    }
    (day1.toDF("vec_id", "embedding").localCheckpoint(),
      day2.toDF("vec_id", "embedding").localCheckpoint(),
      probes.toDF("vec_id", "embedding").localCheckpoint())
  }

  test("ivfPqRebuild: drift trips the audit, the rebuild retrains + swaps, recall improves, stale appenders refuse") {
    import graft.operators.Similarity
    val dir = tmpIdx("ann_rebuild")
    val (day1, day2, probes) = driftCorpus()
    assert(Similarity.annIndexWrite(day1, dir, IvfPqSpec(8, lists = 4, m = 8)) == 64L)
    assert(Similarity.annAppendAt(day2, dir) == 256L)
    // the decision fires (the r12 audit; 2500 pm is the maintainer's
    // tuned threshold — the hot list holds ~65% of the artifact)
    assert(Similarity.annNeedsRebuild(spark, dir, day1.unionByName(day2),
      Similarity.RebuildPolicy(rebuildPm = 2500L)).isDefined)

    // ...and now the EXECUTION: retrain on the grown corpus, verify,
    // atomic swap with the header re-stamped by construction
    val corpus = day1.unionByName(day2).localCheckpoint()
    val report = Similarity.annRebuildAt(corpus, dir,
      Similarity.RebuildPolicy(kmIters = 2, pqIters = 2, recallQueries = Some(probes),
        k = 5, nprobe = 2))
    assert(report.rowsBefore == 320L && report.rowsAfter == 320L)
    // recall provably improves: the stale corner-aliased codes cannot
    // rank the shifted region at all; the retrained codebooks tile it
    assert(report.recallAfter > report.recallBefore,
      s"recall ${report.recallBefore} -> ${report.recallAfter}")
    // retraining restored coarse balance: the trigger no longer fires
    assert(Similarity.annNeedsRebuild(spark, dir, corpus,
      Similarity.RebuildPolicy(rebuildPm = 2500L)).isEmpty)

    // the swapped artifact IS the data-seeded learned index, bit for
    // bit (the training chains are deterministic)
    val cents = Similarity.kmeansCentroids(corpus, k = 4, iters = 2, dim = 8,
      seedFromData = true)
    val cbs = Similarity.pqLearnedCodebooks(corpus, dim = 8, m = 8, codes = 16,
      iters = 2, seedFromData = true)
    val expect = Similarity.ivfPqIndex(corpus, dim = 8, lists = 4, m = 8,
      centroids = Some(cents), codebooks = Some(cbs))
    def rows2(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("list_id").cast("long"), col("codes").cast("string"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows2(spark.read.parquet(dir)) == rows2(expect))

    // the HEADER-DRIVEN appender adopts whatever quantizer generation
    // owns the artifact with zero re-configuration — the form a
    // maintained ingest keeps using ACROSS rebuilds (an appender whose
    // write straddles the swap refuses at the generation backstop)
    import spark.implicits._
    val day3 = Seq((2000L, Seq.fill(8)(0.1f))).toDF("vec_id", "embedding")
    assert(Similarity.annAppendAt(day3, dir) == 1L)
    val day4 = Seq((2001L, Seq.fill(8)(-0.2f))).toDF("vec_id", "embedding")
    assert(Similarity.annAppendAt(day4, dir) == 1L)
    assert(Similarity.annAppendAt(day4, dir) == 0L) // idempotent
    val grown = corpus.unionByName(day3).unionByName(day4)
    assert(rows2(spark.read.parquet(dir)) ==
      rows2(Similarity.ivfPqIndex(grown, dim = 8, lists = 4, m = 8,
        centroids = Some(cents), codebooks = Some(cbs))))
  }

  test("ivfPqRebuild: a failed recall gate aborts, deletes the tmp, and leaves the live artifact untouched") {
    import graft.operators.Similarity
    val dir = tmpIdx("ann_rebuild_abort")
    val (day1, day2, _) = driftCorpus()
    Similarity.annIndexWrite(day1, dir, IvfPqSpec(8, lists = 4, m = 8))
    Similarity.annAppendAt(day2, dir)
    val corpus = day1.unionByName(day2).localCheckpoint()
    // probes from day 1's OWN region: the stale index handles them
    // well (recallBefore > 0), so the impossible ratio must abort
    import spark.implicits._
    val rnd = new scala.util.Random(1409)
    val probes = (6000 until 6008).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val before = spark.read.parquet(dir).count()
    val ex = intercept[RuntimeException] {
      Similarity.annRebuildAt(corpus, dir,
        Similarity.RebuildPolicy(recallQueries = Some(probes), k = 5, nprobe = 2,
          minRecallRatio = 1000.0))
    }
    assert(ex.getMessage.contains("left untouched"), ex.getMessage)
    // live artifact intact and still headed by the ORIGINAL quantizers
    assert(spark.read.parquet(dir).count() == before)
    assert(Similarity.annProbeAt(spark, dir,
      day1.filter(col("vec_id") < 4), k = 3).count() > 0)
    // no tmp residue
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".rebuild.tmp")))
    // headerless artifacts refuse the rebuild AND the header-driven
    // append with guidance
    val bare = tmpIdx("ann_rebuild_bare")
    Similarity.ivfPqIndex(day1, dim = 8, lists = 4, m = 8).write.parquet(bare)
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.annRebuildAt(day1, bare)
    }
    assert(ex2.getMessage.contains("no IVF-PQ header"), ex2.getMessage)
    val ex3 = intercept[IllegalArgumentException] {
      Similarity.annAppendAt(day1, bare)
    }
    assert(ex3.getMessage.contains("not a stamped ANN artifact"), ex3.getMessage)
  }

  test("annIvfPqRefineAt: artifact-path refine == inline refine; rebuildIfNeeded polls then executes") {
    import graft.operators.Similarity
    val dir = tmpIdx("ann_refine_at")
    val (day1, day2, probes) = driftCorpus()
    val corpus = day1.unionByName(day2).localCheckpoint()
    Similarity.annIndexWrite(corpus, dir, IvfPqSpec(8, lists = 4, m = 8))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    // search-as-shipped off the stored index == the inline composition
    val atPath = rows(Similarity.annRefineAt(spark, dir, corpus, probes,
      k = 3, nprobe = 2, rerank = 16))
    val inline = rows(Similarity.annIvfPqRefine(corpus, probes, k = 3, dim = 8,
      lists = 4, nprobe = 2, m = 8, rerank = 16))
    assert(atPath == inline && inline.nonEmpty)

    // the maintainer one-call: balanced threshold -> None (artifact
    // untouched), tripped threshold -> executes and reports
    assert(Similarity.annRebuildIfNeeded(corpus, dir,
      Similarity.RebuildPolicy(rebuildPm = 3900L)).isEmpty)
    val rep = Similarity.annRebuildIfNeeded(corpus, dir,
      Similarity.RebuildPolicy(rebuildPm = 2500L, recallQueries = Some(probes), k = 5,
        nprobe = 2))
    assert(rep.exists(r => r.recallAfter > r.recallBefore))
    assert(Similarity.annNeedsRebuild(spark, dir, corpus,
      Similarity.RebuildPolicy(rebuildPm = 2500L)).isEmpty)
  }

  test("header convergence: a legacy r12 IVF-PQ header (binary integrity line) still reads") {
    import graft.operators.Similarity
    val dir = tmpIdx("ann_legacy_hdr")
    import spark.implicits._
    val vecs = (0 until 20).map(i =>
      (i.toLong, Seq.fill(8)((i / 20.0f) - 0.5f))).toDF("vec_id", "embedding")
    Similarity.annIndexWrite(vecs, dir, IvfPqSpec(8, lists = 4, m = 4))
    val hdr = Similarity.ivfPqReadHeader(spark, dir).get
    // rewrite the sidecar in the PRE-convergence layout: same k=v
    // lines, integrity line = the binary quantizer hash
    def enc(mx: Array[Array[Double]]) = mx.map(_.map(d =>
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))).mkString(","))
      .mkString(";")
    val legacy = Seq(
      "graft-ivfpq-header v1",
      "dim=8", "lists=4", "m=4", "codes=16",
      s"hash=${hdr.paramsHash}",
      s"centroids=${enc(hdr.centroids)}",
      s"codebooks=${hdr.codebooks.map(enc).mkString("#")}").mkString("\n")
    val hp = new org.apache.hadoop.fs.Path(dir, "_graft_ivfpq_header")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(hp, true)
    try out.write(legacy.getBytes("UTF-8")) finally out.close()
    // the trusted probe still answers from the legacy header...
    val back = Similarity.ivfPqReadHeader(spark, dir).get
    assert(back.paramsHash == hdr.paramsHash)
    assert(Similarity.annProbeAt(spark, dir,
      vecs.filter(col("vec_id") < 2), k = 3).count() > 0)
    // ...and a corrupted legacy line still refuses
    val bad = legacy.replace("hash=", "hash=f")
    val out2 = fs.create(hp, true)
    try out2.write(bad.getBytes("UTF-8")) finally out2.close()
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqReadHeader(spark, dir)
    }
    assert(ex.getMessage.contains("corrupt"), ex.getMessage)
  }

  test("dataSeedVectors: a smaller seed pick is a prefix of a larger one (hash-order nesting)") {
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val emb = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    // k-means at k and at k' > k share their first k initial
    // centroids — growing an index's `lists`/`codes` re-USES the
    // smaller training's seeds instead of reshuffling them (the
    // trainFraction nesting property, applied to init)
    val s4 = Similarity.dataSeedVectors(emb, 4, "vec_id", "embedding")
    val s16 = Similarity.dataSeedVectors(emb, 16, "vec_id", "embedding")
    assert(s16.take(4).map(_.toSeq).toSeq == s4.map(_.toSeq).toSeq)
    // and too few training vectors refuse instead of under-seeding
    val ex = intercept[IllegalArgumentException] {
      Similarity.dataSeedVectors(emb.limit(3), 4, "vec_id", "embedding")
    }
    assert(ex.getMessage.contains("seedFromData"), ex.getMessage)
  }

  test("CheckpointHygiene.scoped frees checkpoints created inside the body, keeps pre-existing ones") {
    import spark.implicits._
    val outer = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    def persistedIds = spark.sparkContext.getPersistentRDDs.keySet
    val before = persistedIds
    val n = graft.plans.CheckpointHygiene.scoped(spark) {
      // an "operator-internal" checkpoint the caller holds no handle to
      val inner = outer.select(col("x") * 2).localCheckpoint()
      inner.count()
    }
    assert(n == 3L)
    // async unpersist: poll briefly for the sweep to land
    val deadline = System.nanoTime() + 5e9.toLong
    while (persistedIds != before && System.nanoTime() < deadline) Thread.sleep(50)
    assert(persistedIds == before, s"scoped left blocks: ${persistedIds.diff(before)}")
    // the pre-existing checkpoint still answers
    assert(outer.count() == 3L)
    graft.plans.CheckpointHygiene.free(outer)
  }

  test("ArtifactHeader refuses a param key named 'hash' at the write seam") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hdr_hash").toString
    val ex = intercept[IllegalArgumentException] {
      graft.sources.ArtifactHeader.write(spark, dir, "demo",
        Seq("k" -> "1", "hash" -> "boom"))
    }
    assert(ex.getMessage.contains("reserved"))
  }
}
