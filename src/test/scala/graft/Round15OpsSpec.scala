package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.AnnLifecycle.{Given, IvfPqSpec, IvfSqSpec, OpqP, Pca, RotatedSpec,
  Trained}
import graft.operators.Similarity
import graft.plans.CheckpointHygiene
import graft.sources.ArtifactMaintainer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-15 seams: the exact (data-driven) embedCovariance overflow
  * guard, the per-row ragged-vector refusals inside every encode
  * kernel, maintain() reentrancy refusal, drain() under the shared
  * lock, mmrRerank in-loop checkpoint hygiene, the SQ8 legacy
  * stats-sidecar self-heal, and the PCA rotation staleness loop.
  */
class Round15OpsSpec extends AnyFunSuite with SharedSpark {

  private def tmpIdx(prefix: String): String =
    new java.io.File(
      java.nio.file.Files.createTempDirectory(prefix).toFile, "idx").getPath

  private def causeChain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq

  /** Deterministic small corpus: 32 vectors, dim 8, values in [-1, 1]. */
  private def smallCorpus(seed: Int = 1501, n: Int = 32, dim: Int = 8) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
        Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").coalesce(1).localCheckpoint()
  }

  // ------------------------------------------------------------------
  // embedCovariance: exact overflow guard
  // ------------------------------------------------------------------

  test("embedCovariance: magnitudes that could wrap the BIGINT product sum refuse; sane data passes") {
    import spark.implicits._
    // |x| = 1024 -> |code| = 2^30; 16 rows * (2^30)^2 = 2^64 > Long.Max
    val hot = (0 until 16).map(i => (i.toLong, Seq.fill(4)(1024.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.embedCovariance(hot, dim = 4)
    }
    assert(ex.getMessage.contains("overflow"), ex.getMessage)
    assert(ex.getMessage.contains("WRAP"), ex.getMessage)
    // the SAME row count with unit-scale values is fine (the guard is
    // data-driven, not a blanket magnitude ban)
    val cov = Similarity.embedCovariance(smallCorpus(dim = 4).limit(16), dim = 4)
    assert(cov.count() == 10L) // 4*(4+1)/2 dimension pairs
  }

  // ------------------------------------------------------------------
  // ragged-vector refusals inside the encode kernels
  // ------------------------------------------------------------------

  test("ragged corpus rows refuse inside SQ8 / PQ / residual-PQ encode and pcaProject (named message, no silent slice)") {
    import spark.implicits._
    // first row has the artifact dim (so the O(1) frame-level sample
    // passes), a later row is LONGER — the slice hazard
    val ragged = Seq(
      (0L, Seq.fill(8)(0.1f)),
      (1L, Seq.fill(9)(0.2f)),
      (2L, Seq.fill(8)(0.3f))).toDF("vec_id", "embedding").coalesce(1)
    val cents = Array.tabulate(2)(c => Similarity.ivfCentroidSql(c, 8))
    val sqEx = intercept[Exception] {
      Similarity.ivfSqIndex(ragged, dim = 8, lists = 2,
        centroids = Some(cents),
        bounds = Some((Array.fill(8)(-1.0), Array.fill(8)(1.0))))
        .select("codes").collect()
    }
    assert(causeChain(sqEx).exists(_.contains("ragged")), causeChain(sqEx))
    val pqEx = intercept[Exception] {
      Similarity.ivfPqIndex(ragged, dim = 8, lists = 2, m = 2, codes = 4)
        .select("codes").collect()
    }
    assert(causeChain(pqEx).exists(_.contains("ragged")), causeChain(pqEx))
    val resEx = intercept[Exception] {
      Similarity.ivfPqIndex(ragged, dim = 8, lists = 2, m = 2, codes = 4,
        residual = true).select("codes").collect()
    }
    // the residual path hits the IVF assign kernel first (codes need
    // the list id) — still a NAMED ragged refusal, not a raw overrun
    assert(causeChain(resEx).exists(_.contains("ragged")), causeChain(resEx))
    val rot = Array.tabulate(2, 8)((r, c) => if (r == c) 1.0 else 0.0)
    val pcaEx = intercept[Exception] {
      Similarity.pcaProject(ragged, rot).select("embedding").collect()
    }
    assert(causeChain(pcaEx).exists(_.contains("ragged")), causeChain(pcaEx))
    // the salted-centroid assignment UDF shares the IVF argmax kernel
    val assignEx = intercept[Exception] {
      ragged.select(Similarity.ivfAssignUdf(8, 2)(col("embedding"))).collect()
    }
    assert(causeChain(assignEx).exists(_.contains("ragged")), causeChain(assignEx))
  }

  // ------------------------------------------------------------------
  // maintainer: reentrancy refusal + drain under the shared lock
  // ------------------------------------------------------------------

  test("maintain() inside withAccess refuses by name instead of self-deadlocking on the fair lock") {
    val m = new ArtifactMaintainer()
    m.withAccess {
      val ex = intercept[IllegalArgumentException] {
        m.maintain(Seq(ArtifactMaintainer.Task("noop")(() => "noop")))
      }
      assert(ex.getMessage.contains("self-deadlock"), ex.getMessage)
    }
    // outside the access scope the same window runs fine
    val rep = m.maintain(Seq(ArtifactMaintainer.Task("noop")(() => "ok")))
    assert(rep.tasks.map(_.summary) == Seq("ok"))
  }

  test("drain() parks behind an open maintenance window (shared lock) instead of racing the quiesce") {
    val m = new ArtifactMaintainer()
    val windowOpen = new CountDownLatch(1)
    val windowHold = new CountDownLatch(1)
    val t = new Thread(() => {
      m.maintain(Seq(ArtifactMaintainer.Task("hold") { () =>
        windowOpen.countDown()
        assert(windowHold.await(30, TimeUnit.SECONDS)); "held"
      }))
    })
    t.start()
    assert(windowOpen.await(30, TimeUnit.SECONDS))
    @volatile var drainDoneAt = 0L
    val d = new Thread(() => { m.drain(); drainDoneAt = System.nanoTime() })
    d.start()
    // the drain must NOT complete while the window is open
    Thread.sleep(300)
    assert(drainDoneAt == 0L, "drain() returned inside an open maintenance window")
    val releasedAt = System.nanoTime()
    windowHold.countDown()
    t.join(30000); d.join(30000)
    assert(drainDoneAt >= releasedAt, "drain() must resume only after the window closes")
  }

  // ------------------------------------------------------------------
  // mmrRerank: in-loop checkpoint hygiene
  // ------------------------------------------------------------------

  test("mmrRerank frees superseded per-step checkpoints and its working frames (only the returned frame stays)") {
    val sc = spark.sparkContext
    val corpus = smallCorpus()
    val queries = corpus.filter(col("vec_id") < 2)
    val before = sc.getPersistentRDDs.keySet
    for (_ <- 1 to 3) {
      val cand = Similarity.topKCosine(corpus, queries, k = 8)
        .select(col("query_id"), col("neighbor_id"), col("score"))
      val out = Similarity.mmrRerank(cand, corpus, k = 4)
      assert(out.count() == 8L) // 2 queries x 4 picks
      CheckpointHygiene.free(out)
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"mmrRerank leaked persistent RDDs: $leaked")
  }

  // ------------------------------------------------------------------
  // SQ8 legacy stats self-heal
  // ------------------------------------------------------------------

  test("sqRebuildDue self-heals a legacy stats-less artifact: one scan poll, restamp in the window, O(dim) after") {
    val dir = tmpIdx("sq_legacy_heal")
    val corpus = smallCorpus(seed = 1502)
    Similarity.annIndexWrite(corpus, dir, IvfSqSpec(8, lists = 2))
    assert(Similarity.ivfSqHasStats(spark, dir))
    // forge a pre-stats artifact: drop the sidecar the write stamped
    val side = new java.io.File(dir,
      graft.sources.ArtifactHeader.sidecarName("ivfsq_stats"))
    assert(side.delete(), s"fixture: could not delete $side")
    assert(!Similarity.ivfSqHasStats(spark, dir))
    val m = new ArtifactMaintainer()
    val due = ArtifactMaintainer.annRebuildDue(spark, dir, () => corpus,
      // health signals never trip
      Similarity.RebuildPolicy(rebuildPm = 100000L, satPm = 1000000L))
    val rep = m.maintainIfDue(Seq(due))
    assert(rep.isDefined, "legacy artifact must schedule its own restamp")
    assert(rep.get.tasks.exists(_.summary.contains("stats restamped")),
      rep.get.tasks.map(_.summary).mkString("; "))
    assert(Similarity.ivfSqHasStats(spark, dir))
    // restamped == scan (the sidecar is DERIVED acceleration)
    val fromStats = Similarity.ivfSqSaturationFromStats(spark, dir).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val fromScan = Similarity.ivfSqSaturation(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(fromStats == fromScan)
    // healthy AND healed: the next poll opens no window at all
    assert(m.maintainIfDue(Seq(due)).isEmpty)
  }

  // ------------------------------------------------------------------
  // PCA rotation staleness loop
  // ------------------------------------------------------------------

  /** Basis-drift fixture: generation A concentrates variance in dims
    * 0-1, generation B (4x the amplitude) in dims 6-7 — a rotation
    * trained on A retains almost none of B's variance.
    */
  private def basisDrift() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1505)
    def vec(hot: Seq[Int], amp: Double) = Seq.tabulate(8) { d =>
      if (hot.contains(d)) ((rnd.nextDouble() * 2 - 1) * amp).toFloat
      else ((rnd.nextDouble() * 2 - 1) * 0.02).toFloat
    }
    val genA = (0 until 96).map(i => (i.toLong, vec(Seq(0, 1), 1.0)))
    val genB = (1000 until 1096).map(i => (i.toLong, vec(Seq(6, 7), 2.0)))
    val probes = (5000 until 5008).map(i => (i.toLong, vec(Seq(6, 7), 2.0)))
    (genA.toDF("vec_id", "embedding").localCheckpoint(),
      genB.toDF("vec_id", "embedding").localCheckpoint(),
      probes.toDF("vec_id", "embedding").localCheckpoint())
  }

  private def refineRecall(dir: String, corpus: DataFrame,
                           probes: DataFrame): Double = {
    val exact = Similarity.topKCosine(corpus, probes, k = 5)
    val approx = Similarity.annRefineAt(spark, dir, corpus, probes,
      k = 5, nprobe = 2, rerank = 16)
    Similarity.annRecall(exact, approx, 5)
      .agg(avg(col("recall"))).collect()(0).getDouble(0)
  }

  test("PCA basis drift trips the capture audit; rebuild retrains rotation + quantizers, restores refine-recall, appends resume") {
    val dir = tmpIdx("pca_staleness")
    val (genA, genB, probes) = basisDrift()
    Similarity.annIndexWrite(genA, dir, RotatedSpec(8, Pca(2), lists = 2, m = 2, codes = 8))
    // freshly trained: capture at (or within noise of) its baseline
    val (stored0, fresh0) = Similarity.pcaCaptureAudit(genA, dir)
    assert(stored0 > 900L, s"fixture: baseline capture $stored0 should be high")
    def basisDrifted(corpus: org.apache.spark.sql.DataFrame, at: String): Boolean =
      Similarity.annNeedsRebuild(spark, at, corpus).exists(_.startsWith("basis capture"))
    assert(!basisDrifted(genA, dir), s"fresh $fresh0 vs $stored0")
    // drifted generation lands through the appender (projected via the
    // STALE rotation — exactly the silent-degradation scenario)
    assert(Similarity.annAppendAt(genB, dir) == 96L)
    val grown = genA.unionByName(genB)
    val (stored1, fresh1) = Similarity.pcaCaptureAudit(grown, dir)
    assert(stored1 == stored0, "append must not touch the baseline")
    assert(fresh1 * 1000L < 900L * stored1,
      s"injected drift must trip the audit: fresh $fresh1 vs stored $stored1")
    assert(basisDrifted(grown, dir))
    val before = refineRecall(dir, grown, probes)
    // THROUGH the maintainer twins: the due check trips on the capture
    // drop, the window runs the rebuild task (which re-audits inside
    // via IfNeeded and verifies recall on the drifted probes before
    // swapping)
    val m = new ArtifactMaintainer()
    val due = ArtifactMaintainer.annRebuildDue(spark, dir, () => grown,
      Similarity.RebuildPolicy(trainSample = 192, recallQueries = Some(probes),
        minRecallRatio = 0.0))
    val winRep = m.maintainIfDue(Seq(due)).get
    val taskSummary = winRep.tasks.map(_.summary).mkString("; ")
    assert(taskSummary.contains("basis capture"), taskSummary) // the trigger reason
    assert(taskSummary.contains("rotation + quantizers rebuilt"), taskSummary)
    // exact row accounting (a bare "rows 192 -> 192" substring would
    // also match "-> 1920") and the GATE's own recall direction — the
    // report numbers are the only view of the in-gate measurement
    val summaryRe =
      """rows (\d+) -> (\d+), recall ([0-9.]+) -> ([0-9.]+)""".r.unanchored
    taskSummary match {
      case summaryRe(rb, ra, recB, recA) =>
        assert(rb.toLong == 192L && ra.toLong == 192L, taskSummary)
        assert(recA.toDouble > recB.toDouble,
          s"gate must measure recall recovering across generations: $taskSummary")
      case _ => fail(s"report shape drifted: $taskSummary")
    }
    val after = refineRecall(dir, grown, probes)
    assert(after > before && after >= 0.8,
      s"rebuild must restore refine-recall: $before -> $after")
    // the audit is green again and its baseline is the NEW basis
    val (stored2, fresh2) = Similarity.pcaCaptureAudit(grown, dir)
    assert(stored2 != stored0 && fresh2 == stored2,
      s"rebuild re-stamps the baseline: $stored2 / $fresh2")
    assert(!basisDrifted(grown, dir))
    // appends resume through the new-generation headers (fresh
    // rotation projects the new batch; idempotent admission holds)
    val more = genB.withColumn("vec_id", col("vec_id") + 1000L)
    assert(Similarity.annAppendAt(more, dir) == 96L)
    assert(spark.read.parquet(dir).count() == 288L)
    assert(Similarity.annAppendAt(more, dir) == 0L)
  }

  test("pcaRebuildDue self-heals a legacy pcarot without a capture baseline; bounded-audit refusal") {
    val dir = tmpIdx("pca_legacy_heal")
    val (genA, _, _) = basisDrift()
    Similarity.annIndexWrite(genA, dir, RotatedSpec(8, Pca(2), lists = 2, m = 2, codes = 8))
    // forge a pre-baseline artifact: re-stamp pcarot without capture_pm
    val kv = graft.sources.ArtifactHeader.read(spark, dir, "pcarot").get
    graft.sources.ArtifactHeader.write(spark, dir, "pcarot",
      (kv - "capture_pm").toSeq)
    assert(!Similarity.pcaHasCaptureBaseline(spark, dir))
    // the audit itself refuses with the repair verb named
    val auditEx = intercept[RuntimeException] {
      Similarity.pcaCaptureAudit(genA, dir)
    }
    assert(auditEx.getMessage.contains("pcaCaptureRestamp"), auditEx.getMessage)
    // an unbounded due check refuses on a PCA artifact (per-poll
    // audit must be sampled)
    val boundEx = intercept[IllegalArgumentException] {
      ArtifactMaintainer.annRebuildDue(spark, dir, () => genA).check()
    }
    assert(boundEx.getMessage.contains("sample-bounded"), boundEx.getMessage)
    val m = new ArtifactMaintainer()
    val due = ArtifactMaintainer.annRebuildDue(spark, dir, () => genA,
      Similarity.RebuildPolicy(trainSample = 96))
    val rep = m.maintainIfDue(Seq(due))
    assert(rep.isDefined)
    assert(rep.get.tasks.exists(_.summary.contains("baseline restamped")),
      rep.get.tasks.map(_.summary).mkString("; "))
    assert(Similarity.pcaHasCaptureBaseline(spark, dir))
    // healed and healthy: next poll opens no window
    assert(m.maintainIfDue(Seq(due)).isEmpty)
  }

  // ------------------------------------------------------------------
  // pcarot dispatch: presence, not dim mismatch, decides the projection
  // ------------------------------------------------------------------

  test("FULL-RANK PCA artifacts: the one probe entry projects by pcarot presence; the quantizer-only rebuild refuses the gate; the filtered probe is the in-set rank cut") {
    val dir = tmpIdx("pca_fullrank_guard")
    val corpus = smallCorpus(seed = 1506)
    // outDim == dim: the dim guard alone can NEVER tell raw queries
    // from projected ones — only the pcarot sidecar can
    Similarity.annIndexWrite(corpus, dir, RotatedSpec(8, Pca(8), lists = 2, m = 2,
      codes = 8))
    val probes = corpus.filter(col("vec_id") < 4)
    val rot = Similarity.pcaRotationAt(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.get(3).toString)).toSet
    // the same index as a plain artifact over the hand-projected corpus:
    // the one entry must score the RAW queries exactly as this scores
    // the hand-projected ones, plain and filtered, probe and refine
    val plain = tmpIdx("pca_fullrank_plain")
    Similarity.annIndexWrite(Similarity.pcaProject(corpus, rot), plain, IvfPqSpec(8,
      lists = 2, m = 2, codes = 8))
    val projected = Similarity.pcaProject(probes, rot)
    val some = corpus.filter(col("vec_id") % 2 === 0).select("vec_id")
    assert(rows(Similarity.annProbeAt(spark, dir, probes, k = 3)) ==
      rows(Similarity.annProbeAt(spark, plain, projected, k = 3)))
    assert(rows(Similarity.annProbeAt(spark, dir, probes, k = 3, allowedIds = Some(some))) ==
      rows(Similarity.annProbeAt(spark, plain, projected, k = 3, allowedIds = Some(some))))
    // the refine re-ranks in the ORIGINAL space: exact cosine of the raw
    // queries over the raw corpus, cut from the projected probe's survivors
    val survivors = Similarity.annProbeAt(spark, plain, projected, k = 32)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.annRefineAt(spark, dir, corpus, probes, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(refined.nonEmpty && refined.subsetOf(survivors))
    // the quantizer-only rebuild (a tripped balance under the stored
    // rotation) grades both generations through that rotation, so its
    // recall gate measures — an impossible floor refuses, and the live
    // artifact and its pcarot stay as they were
    val pcarot = new java.io.File(dir,
      graft.sources.ArtifactHeader.sidecarName("pcarot")).toPath
    val rotBytes = java.nio.file.Files.readAllBytes(pcarot)
    val gateEx = intercept[RuntimeException] {
      Similarity.annRebuildIfNeeded(corpus, dir, Similarity.RebuildPolicy(
        rebuildPm = 1L, driftRatioPm = 0L, recallQueries = Some(probes),
        minRecallAbs = 1.01))
    }
    assert(gateEx.getMessage.contains("absolute floor"), gateEx.getMessage)
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(pcarot), rotBytes))
    // the PCA filtered probe serves the same semantics as the plain
    // one: top-k WITHIN the allowed set of the full projected ranking
    val allowed = corpus.filter(col("vec_id") % 3 === 0).select("vec_id")
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    val filtered = Similarity.annProbeAt(
        spark, dir, probes, k = 3, allowedIds = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Similarity.annProbeAt(spark, dir, probes, k = 32)
    val expected = full.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .filter { case (_, nb, _) => allowedSet.contains(nb) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, nb, s) => (-s, nb) }.take(3).zipWithIndex
          .map { case ((_, nb, _), i) => (q, (i + 1).toLong, nb) }
      }.toSet
    assert(filtered == expected && filtered.nonEmpty,
      "PCA filtered probe is not the in-set rank cut")
  }

  // ------------------------------------------------------------------
  // OPQ: eigenvalue allocation + the composed artifact lifecycle
  // ------------------------------------------------------------------

  test("opqEigenAllocate balances the per-subspace eigenvalue product greedily with deterministic ties") {
    // eigs sorted desc (jacobiEigen's contract): 8 -> b0; 4 -> b1
    // (log 8 > log 4's empty 0? no — b1 is empty at 0 < log 8); 2 ->
    // b1 (log 4 < log 8); b1 full; 1 -> b0
    val alloc = Similarity.opqEigenAllocate(Array(8.0, 4.0, 2.0, 1.0), m = 2)
    assert(alloc.toSeq == Seq(0, 3, 1, 2), alloc.toSeq)
    // a flat spectrum is all ties (every allocation is equally
    // balanced): deterministic fill in subspace order
    val flat = Similarity.opqEigenAllocate(Array.fill(4)(1.0), m = 2)
    assert(flat.toSeq == Seq(0, 1, 2, 3), flat.toSeq)
    // scale invariance: the balance objective doesn't change when the
    // whole spectrum is scaled (every subspace gets exactly subDim
    // factors) — the allocation must not either, even entirely below 1
    val scaled = Similarity.opqEigenAllocate(
      Array(8.0, 4.0, 2.0, 1.0).map(_ * 1e-3), m = 2)
    assert(scaled.toSeq == Seq(0, 3, 1, 2), scaled.toSeq)
  }

  /** Energy concentrated in dims 0-3 of 16: plain PQ at m=4 gives
    * subspace 0 ALL the signal (16 codes for a 4-D cloud) and the
    * other three subspaces pure noise; OPQ_P allocates one signal
    * eigen-direction per subspace (16 codes for ~1-D each).
    */
  private def anisoCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1507)
    def vec() = Seq.tabulate(16) { d =>
      if (d < 4) ((rnd.nextDouble() * 2 - 1)).toFloat
      else ((rnd.nextDouble() * 2 - 1) * 0.05).toFloat
    }
    val corpus = (0 until 256).map(i => (i.toLong, vec()))
    val probes = (5000 until 5008).map(i => (i.toLong, vec()))
    (corpus.toDF("vec_id", "embedding").localCheckpoint(),
      probes.toDF("vec_id", "embedding").localCheckpoint())
  }

  test("OPQ_P beats plain PQ at the same byte budget on an energy-imbalanced corpus; rebuild preserves the method") {
    val (corpus, probes) = anisoCorpus()
    val pqDir = tmpIdx("opq_vs_pq_pq")
    val opqDir = tmpIdx("opq_vs_pq_opq")
    // both sides TRAINED at m=4, 16 codes (2 bytes/vec here): the
    // delta under test is the rotation, not the training
    val cents = Similarity.kmeansCentroids(corpus, k = 4, iters = 2, dim = 16,
      seedFromData = true)
    val cbs = Similarity.pqLearnedCodebooks(corpus, dim = 16, m = 4, codes = 16,
      iters = 2, seedFromData = true)
    Similarity.annIndexWrite(corpus, pqDir, IvfPqSpec(16, lists = 4, m = 4, codes = 16,
      quantizers = Given(cents, cbs)))
    assert(Similarity.annIndexWrite(corpus, opqDir, RotatedSpec(16, OpqP, lists = 4, m = 4,
      codes = 16, quantizers = Trained())) == 256L)
    val exact = Similarity.topKDot(corpus, probes, 5).localCheckpoint()
    def recall(approx: DataFrame): Double =
      Similarity.annRecall(exact, approx, 5)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
    val pqRec = recall(Similarity.annProbeAt(spark, pqDir, probes,
      k = 5, nprobe = 4))
    val opqRec = recall(Similarity.annProbeAt(spark, opqDir, probes,
      k = 5, nprobe = 4))
    assert(opqRec > pqRec,
      f"OPQ ADC recall $opqRec%.3f must beat plain PQ $pqRec%.3f on the " +
        "imbalanced corpus")
    CheckpointHygiene.free(exact)
    // the artifact is a first-class pcarot citizen: header carries the
    // method, the appender projects, the rebuild re-learns allocation
    // AND keeps the method stamp
    val kv = graft.sources.ArtifactHeader.read(spark, opqDir, "pcarot").get
    assert(kv("method") == "opq_p" && kv("out_dim") == "16")
    import spark.implicits._
    val more = corpus.select((col("vec_id") + 10000L).as("vec_id"),
      col("embedding"))
    assert(Similarity.annAppendAt(more, opqDir) == 256L)
    val rep = Similarity.annRebuildAt(corpus.unionByName(more), opqDir,
      Similarity.RebuildPolicy(recallQueries = Some(probes), minRecallRatio = 0.0))
    assert(rep.rowsAfter == 512L)
    val kv2 = graft.sources.ArtifactHeader.read(spark, opqDir, "pcarot").get
    assert(kv2("method") == "opq_p", "rebuild must carry the method stamp")
    // full-rank rotation: capture baseline is trivially 1000 — the
    // audit is vacuous by construction and must NOT trip
    assert(kv2("capture_pm").toLong == 1000L)
    assert(!Similarity.annNeedsRebuild(spark, opqDir, corpus.unionByName(more))
      .exists(_.startsWith("basis capture")))
  }

  test("SQL ALLOWING verb dispatches on the pcarot header like PROBE") {
    val dir = "/root/testdata/sf0.001"
    val path = tmpIdx("pca_sql_allowing")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    Similarity.annIndexWrite(corpus, path, RotatedSpec(64, Pca(32)))
    val viaSql = spark.sql(
        s"PROBE ANN INDEX '$path' FROM '$dir' ALLOWING vec_id % 5 <= 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val qs = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24)
    val viaApi = Similarity.annProbeAt(spark, path, qs, k = 5,
        allowedIds = Some(emb.filter(col("vec_id") % 5 <= 1).select("vec_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }
}
