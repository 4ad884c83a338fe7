package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.operators.AnnLifecycle.{Given, IvfPqSpec, IvfSqSpec, OpqI, OpqP, Pca, RotatedSpec,
  Trained}
import graft.GraftSession.timed

/** Scale probe for the IVF index: times `annIvf` at a given
  * lists/nprobe over SPARK_GRAFT_SF_DIR embeddings — the `lists`
  * sibling of [[DecontamProbe]]'s `planes` probe. IVF work per query
  * is corpus x nprobe/lists; with `lists` fixed, growing the corpus
  * grows every probed list linearly, so `lists` must scale with the
  * data (FAISS sizes nlist ~ sqrt(n)) to keep per-query work flat.
  * Run: SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.AnnProbe 160 4"
  * A 4th arg bounds training to that many hash-order-sampled vectors
  * (the kmeansCentroids trainSample path — Faiss's ~max(10k, 256*k)
  * convention): "runMain graft.AnnProbe 160 4 learned 40960".
  */
object AnnProbe {
  /** The scale probes' session: shuffles start 256 wide and AQE
    * coalesces them down.
    */
  private def session(): SparkSession = {
    val spark = GraftSession.builder()
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Best-of-2 wall time of `f` (the first pass carries plan/codegen). */
  private def min2(f: => Any): Double = (1 to 2).map(_ => timed(f)._2).min

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "pq") { pqRecall(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "index") { indexArtifact(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "lifecycle") { lifecycle(); return }
    if (args.nonEmpty && args(0) == "filtered") { filteredProbe(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "sq") { sqVsPq(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "sqlifecycle") { sqLifecycle(); return }
    if (args.nonEmpty && args(0) == "pca") { pcaProbe(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "opq") { opqLadder(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "pcalifecycle") { pcaLifecycle(); return }
    if (args.nonEmpty && args(0) == "tombstones") { tombstoneLifecycle(args.drop(1)); return }
    if (args.nonEmpty && args(0) == "dims") { dimScaling(args.drop(1)); return }
    val lists = if (args.nonEmpty) args(0).toInt else 16
    val nprobe = if (args.length > 1) args(1).toInt else 4
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // "learned" as 3rd arg: kmeans-trained centroids (the production
    // posture) instead of the oracle-parity salted defaults
    val learned = args.length > 2 && args(2) == "learned"
    val trainSample = if (args.length > 3) args(3).toInt else 0
    val iters = sys.env.getOrElse("SPARK_GRAFT_KM_ITERS", "2").toInt
    val (cents, trainSec) = timed(
      if (learned) Some(Similarity.kmeansCentroids(emb, k = lists, iters = iters, dim = 64,
        trainSample = trainSample))
      else None)
    val (n, sec) = timed(Similarity.annIvf(emb, emb.filter(col("vec_id") < 8), k = 5,
      dim = 64, lists = lists, nprobe = nprobe, centroids = cents).count())
    println(s"""{"dir":"$dir","lists":$lists,"nprobe":$nprobe,"learned":$learned,"iters":$iters,"train_sample":$trainSample,"rows":$n,"train_sec":$trainSec,"probe_sec":$sec}""")
    if (sys.env.contains("SPARK_GRAFT_ANN_DIAG")) {
      // stage decomposition: assignment-only scan vs candidate volume
      val listCol =
        if (learned) Similarity.assignClCol(cents.get)(col("embedding"))
        else Similarity.ivfAssignUdf(dim = 64, lists = lists)(col("embedding"))
      val (hist, assignSec) = timed(emb
        .withColumn("list_id", listCol)
        .groupBy("list_id").count().collect().map(r => r.getLong(1)).sorted.reverse)
      println(s"""{"assign_sec":$assignSec,"top_lists":${hist.take(8).mkString("[", ",", "]")},"n_lists_used":${hist.length}}""")
    }
    spark.stop()
  }

  /** The ARTIFACT-PATH soak (the KmvProbe convention for ANN): build
    * the IVF-PQ index ONCE, persist it as parquet, then time answering
    * new queries (a) from the persisted artifact alone
    * ([[Similarity.annIvfPqProbe]] — codes + list ids, no corpus
    * vectors, no training) vs (b) rebuilding the index inline per
    * query batch ([[Similarity.annIvfPq]]). The artifact's on-disk
    * size rides along: codes are the 64x-shrink form, so the probe
    * scans ~4 bytes/vector of nprobe/lists of the corpus where the
    * rebuild re-encodes every vector first.
    * Run: SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.AnnProbe index"
    */
  private def indexArtifact(args: Array[String]): Unit = {
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val out = java.nio.file.Files.createTempDirectory("ann_index_soak").toString
    // "learned" arg: the production posture — sample-trained coarse
    // centroids + PQ codebooks. The rebuild column then re-TRAINS per
    // query batch (what life without the artifact actually costs); the
    // probe consumes the persisted codes + the k x dim codebook
    // sidecar (driver state, kilobytes)
    val learned = args.nonEmpty && args(0) == "learned"
    def train() =
      if (!learned) (None, None)
      else (Some(Similarity.kmeansCentroids(emb, k = 16, iters = 2, dim = 64,
              trainFraction = 0.25)),
            Some(Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 2,
              trainFraction = 0.25)))
    // (a) the index build, paid once per index lifetime
    val ((cents, cbs), buildSec) = timed {
      val (cents, cbs) = train()
      Similarity.ivfPqIndex(emb, dim = 64, centroids = cents, codebooks = cbs)
        .write.mode("overwrite").parquet(out)
      (cents, cbs)
    }
    val artifactBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
      .filter(p => p.toString.endsWith(".parquet")).mapToLong(p => p.toFile.length).sum()
    val corpusBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/embeddings.parquet"))
      .filter(p => p.toString.endsWith(".parquet")).mapToLong(p => p.toFile.length).sum()
    // (b) new queries against the PERSISTED artifact: no training, no
    // corpus vectors — min-of-2 (first pass carries plan/codegen)
    val idx = spark.read.parquet(out)
    val q = emb.filter(col("vec_id") < 8)
    val probeRuns = (1 to 2).map(_ =>
      timed(Similarity.annIvfPqProbe(idx, q, k = 5, dim = 64,
        centroids = cents, codebooks = cbs).count()))
    // (c) the rebuild-per-batch posture the artifact replaces — in the
    // learned case that includes re-training, every time
    val rebuildRuns = (1 to 2).map { _ =>
      timed {
        val (c2, b2) = train()
        Similarity.annIvfPq(emb, q, k = 5, dim = 64,
          centroids = c2, codebooks = b2).count()
      }
    }
    println(s"""{"dir":"$dir","learned":$learned,"build_sec":$buildSec,""" +
      s""""artifact_mb":${artifactBytes / 1048576.0},"corpus_mb":${corpusBytes / 1048576.0},""" +
      s""""probe_sec":${probeRuns.map(_._2).min},"rebuild_sec":${rebuildRuns.map(_._2).min},""" +
      s""""rows":${probeRuns.head._1}}""")
    spark.stop()
  }

  /** The FULL artifact lifecycle at scale (round 12): initial
    * header-stamped write of 60% of the corpus, four append batches
    * growing it to 100%, the staleness audit (header + artifact only),
    * trusted header-driven probes, file compaction, and a
    * post-compaction probe that must answer identically. What the
    * table shows at 100 TB: appends cost only their own batch, the
    * audit and probe never touch corpus vectors, and compaction is a
    * bounded maintenance job that preserves the artifact's
    * self-description.
    * Run: SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.AnnProbe lifecycle"
    */
  /** Filtered-search scale probe: ONE persisted index, new queries
    * probing it under allowed-id sets of decreasing selectivity — the
    * claim under measurement: a selective filter only SHRINKS the ADC
    * join (candidates = allowed INTERSECT probed lists), through both
    * the id-pushdown branch (small sets, scan predicate on the
    * artifact) and the semi-join fallback (sets past the pushdown
    * bound). Corpus grown by entity copies (cyclic dim shifts + id
    * offsets — the soak convention: grows the ENTITY space, never
    * replicates rows). Run: sbt "runMain graft.AnnProbe filtered 100"
    */
  /** SQ8 vs PQ vs residual-PQ at a grown corpus, all three in the
    * PRODUCTION posture: one shared data-seeded learned coarse
    * quantizer (trainFraction-bounded, what annRebuildAt installs),
    * learned PQ codebooks, and residual codebooks trained ON residuals
    * (the Faiss coarse-first order). An earlier cut of this probe used
    * the untrained salted-constant codebooks and measured PQ recall@5
    * at 0.025 vs SQ's 0.875 — the trade a deployment picks between is
    * between TRAINED encodings, so the probe trains. Reports bytes on
    * disk (the byte budgets: 64 codes/vec vs 8), training + build
    * wall, min-of-2 probe wall from each persisted artifact, and
    * recall@5 against exact-MIPS ground truth (plus PQ+refine, the
    * shipped search posture).
    * Run: sbt "runMain graft.AnnProbe sq 100"
    */
  private def sqVsPq(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb =
      if (copies <= 1) emb0.localCheckpoint()
      else (0 until copies).map { k =>
        val rot = k % 64
        emb0.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          (if (rot == 0) col("embedding")
           else concat(slice(col("embedding"), rot + 1, 64 - rot),
             slice(col("embedding"), 1, rot))).as("embedding"))
      }.reduce(_.unionByName(_)).localCheckpoint()
    val nVec = emb.count()
    val base = java.nio.file.Files.createTempDirectory("ann_sq_vs_pq").toString
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      Option(d.listFiles).map(_.map(f => if (f.isFile) f.length else 0L).sum).getOrElse(0L)
    }
    // ONE shared coarse quantizer for all three artifacts (the trade
    // under test is the FINE encoding), trained the way annRebuildAt
    // trains: data-seeded, sample-bounded
    val (cents, centsSec) = timed(Similarity.kmeansCentroids(emb, k = 16, iters = 2,
      dim = 64, trainFraction = 0.05, seedFromData = true))
    val (cbs, cbsSec) = timed(Similarity.pqLearnedCodebooks(emb, dim = 64, m = 8,
      codes = 16, iters = 2, trainFraction = 0.05, seedFromData = true))
    val (resCbs, resCbsSec) = timed(Similarity.pqLearnedCodebooks(
      Similarity.residualFloatFrame(emb, cents, "vec_id", "embedding"),
      dim = 64, m = 8, codes = 16, iters = 2, trainFraction = 0.05,
      seedFromData = true))
    // the Faiss-default byte budget (PQ8: 256 centroids/subspace =
    // 8 bits/subcode, 8 bytes/vec) — the ladder rung between 4-bit PQ
    // (4 bytes/vec) and SQ8 (64 bytes/vec)
    val (cbs256, cbs256Sec) = timed(Similarity.pqLearnedCodebooks(emb, dim = 64, m = 8,
      codes = 256, iters = 2, trainFraction = 0.05, seedFromData = true))
    val (_, sqBuild) = timed(Similarity.annIndexWrite(emb, s"$base/sq",
      IvfSqSpec(64, centroids = Some(cents))))
    val (_, pqBuild) = timed(Similarity.annIndexWrite(emb, s"$base/pq",
      IvfPqSpec(64, quantizers = Given(cents, cbs))))
    val (_, resBuild) = timed(Similarity.annIndexWrite(emb, s"$base/pqres",
      IvfPqSpec(64, residual = true, quantizers = Given(cents, resCbs))))
    val (_, pq256Build) = timed(Similarity.annIndexWrite(emb, s"$base/pq256",
      IvfPqSpec(64, codes = 256, quantizers = Given(cents, cbs256))))
    val q = emb0.filter(col("vec_id") < 8)
    val sqSec = min2(Similarity.annProbeAt(spark, s"$base/sq", q, k = 5).count())
    val pqSec = min2(Similarity.annProbeAt(spark, s"$base/pq", q, k = 5).count())
    val resSec = min2(Similarity.annProbeAt(spark, s"$base/pqres", q, k = 5).count())
    val pq256Sec = min2(Similarity.annProbeAt(spark, s"$base/pq256", q, k = 5).count())
    val refSec = min2(
      Similarity.annRefineAt(spark, s"$base/pq", emb, q, k = 5).count())
    val exact = Similarity.topKDot(emb, q, 5).localCheckpoint()
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.annRecall(exact, approx, 5)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
    val sqRec = recall(Similarity.annProbeAt(spark, s"$base/sq", q, k = 5))
    val pqRec = recall(Similarity.annProbeAt(spark, s"$base/pq", q, k = 5))
    val resRec = recall(Similarity.annProbeAt(spark, s"$base/pqres", q, k = 5))
    val pq256Rec = recall(Similarity.annProbeAt(spark, s"$base/pq256", q, k = 5))
    val refRec = recall(Similarity.annRefineAt(spark, s"$base/pq", emb, q, k = 5))
    val resRefRec = recall(Similarity.annRefineAt(spark, s"$base/pqres", emb, q, k = 5))
    val pq256RefRec = recall(Similarity.annRefineAt(spark, s"$base/pq256", emb, q, k = 5))
    graft.plans.CheckpointHygiene.free(exact, emb)
    println(s"""{"n_vec":$nVec,"copies":$copies,""" +
      f""""train_coarse_sec":$centsSec%.2f,"train_pq_sec":$cbsSec%.2f,"train_respq_sec":$resCbsSec%.2f,"train_pq256_sec":$cbs256Sec%.2f,""" +
      s""""sq_bytes":${dirBytes(s"$base/sq")},"pq_bytes":${dirBytes(s"$base/pq")},"respq_bytes":${dirBytes(s"$base/pqres")},"pq256_bytes":${dirBytes(s"$base/pq256")},""" +
      f""""sq_build_sec":$sqBuild%.2f,"pq_build_sec":$pqBuild%.2f,"respq_build_sec":$resBuild%.2f,"pq256_build_sec":$pq256Build%.2f,""" +
      f""""sq_probe_sec":$sqSec%.2f,"pq_probe_sec":$pqSec%.2f,"respq_probe_sec":$resSec%.2f,"pq256_probe_sec":$pq256Sec%.2f,"pq_refine_sec":$refSec%.2f,""" +
      f""""sq_recall5":$sqRec%.3f,"pq_recall5":$pqRec%.3f,"respq_recall5":$resRec%.3f,"pq256_recall5":$pq256Rec%.3f,""" +
      f""""pq_refine_recall5":$refRec%.3f,"respq_refine_recall5":$resRefRec%.3f,"pq256_refine_recall5":$pq256RefRec%.3f}""")
    spark.stop()
  }

  private def filteredProbe(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb =
      if (copies <= 1) emb0.localCheckpoint()
      else (0 until copies).map { k =>
        val rot = k % 64
        emb0.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          (if (rot == 0) col("embedding")
           else concat(slice(col("embedding"), rot + 1, 64 - rot),
             slice(col("embedding"), 1, rot))).as("embedding"))
      }.reduce(_.unionByName(_)).localCheckpoint()
    val nVec = emb.count()
    val out = java.nio.file.Files.createTempDirectory("ann_filtered").toString + "/idx"
    val (_, buildSec) = timed(Similarity.annIndexWrite(emb, out, IvfPqSpec(64)))
    val q = emb0.filter(col("vec_id") < 8)
    val (nAll, allSec) = (1 to 2).map(_ =>
      timed(Similarity.annProbeAt(spark, out, q, k = 5).count())).minBy(_._2)
    val filters = Seq(10L, 20L, 50L, 100L).map { m =>
      val allowed = emb.filter(col("vec_id") % m === 0).select("vec_id")
      val nAllowed = allowed.count()
      val (n, sec) = (1 to 2).map(_ => timed(
        Similarity.annProbeAt(spark, out, q, k = 5, allowedIds = Some(allowed))
          .count())).minBy(_._2)
      // same EFFECTIVE set through the semi-join branch: pad with ids
      // outside every copy range so the id-count crosses the pushdown
      // bound (the padding is anti-joined away by the probe join)
      import spark.implicits._
      val padded = allowed.as[Long].union(
        spark.range(100000000000L, 100000000000L +
          graft.operators.Similarity.AnnFilterPushdownMax + 1).as[Long]).toDF("vec_id")
      val (_, semiSec) = (1 to 2).map(_ => timed(
        Similarity.annProbeAt(spark, out, q, k = 5, allowedIds = Some(padded))
          .count())).minBy(_._2)
      s"""{"mod":$m,"allowed":$nAllowed,"rows":$n,""" +
        s""""pushdown_sec":${f"$sec%.3f"},"semijoin_sec":${f"$semiSec%.3f"}}"""
    }
    println(s"""{"n_vec":$nVec,"copies":$copies,"build_sec":${f"$buildSec%.2f"},""" +
      s""""unfiltered_rows":$nAll,"unfiltered_probe_sec":${f"$allSec%.3f"},""" +
      s""""filters":[${filters.mkString(",")}]}""")
    spark.stop()
  }

  private def lifecycle(): Unit = {
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").localCheckpoint()
    val nVec = emb.count()
    val out = java.nio.file.Files.createTempDirectory("ann_lifecycle").toString + "/idx"
    val (_, writeSec) = timed(
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 10 < 6), out, IvfPqSpec(64)))
    val appendSecs = (6 to 9).map { s =>
      timed(Similarity.annAppendAt(emb.filter(col("vec_id") % 10 === s), out))._2
    }
    val (needs, auditSec) = timed(Similarity.annNeedsRebuild(spark, out, emb).isDefined)
    val q = emb.filter(col("vec_id") < 8)
    def probe(): Long = Similarity.annProbeAt(spark, out, q, k = 5).count()
    val probeSec = (1 to 2).map(_ => timed(probe())._2).min
    // the r13 closing of the staleness loop: the audit DECIDED, now
    // EXECUTE — sample-bounded data-seeded retrain, re-encode, verify
    // (rows + ADC recall vs exact-dot ground truth), atomic swap with
    // the header re-stamped; the header-only probe keeps answering
    // afterwards without the caller learning anything new
    val (report, rebuildSec) = timed(Similarity.annRebuildAt(emb, out,
      Similarity.RebuildPolicy(trainFraction = 0.25, recallQueries = Some(q))))
    val (needsAfter, _) = timed(Similarity.annNeedsRebuild(spark, out, emb).isDefined)
    // ingest RESUMES across the rebuild through the header-driven
    // appender — it adopts the retrained quantizers from the artifact
    // itself, no re-configuration of the maintainer
    // id offset clear of the soak generator's entity-copy ranges:
    // copies sit at k * 1e7, so copy k occupies [k*1e7, k*1e7 + 1e7)
    // and ANY fixed offset inside the copy grid collides at a large
    // enough copy count (9e8 = copy 90's range — the default 100-copy
    // soak tripped it). 1e10 is above every plausible copy range;
    // colliding ids would be anti-joined away and measure nothing
    val resumeBatch = emb.filter(col("vec_id") < 100)
      .select((col("vec_id") + 10000000000L).as("vec_id"), col("embedding"))
    val (nResumed, resumeSec) = timed(
      Similarity.annAppendAt(resumeBatch, out))
    // the hazard the offset comment describes must FAIL, not time an
    // empty write into the committed soak table
    require(nResumed == 100,
      s"resume batch collided with existing ids (admitted $nResumed/100): " +
        "raise the id offset past the soak data's entity-copy ranges")
    val rowsBefore = probe()
    val ((fb, fa), compactSec) = timed(
      graft.sources.ArtifactCompaction.compactFiles(spark, out, targetFiles = 4))
    val probeAfterSec = (1 to 2).map(_ => timed(probe())._2).min
    require(probe() == rowsBefore, "compaction changed probe results")
    println(s"""{"dir":"$dir","n_vectors":$nVec,"write_sec":$writeSec,""" +
      s""""append_secs":${appendSecs.map(s => f"$s%.2f").mkString("[", ",", "]")},""" +
      s""""audit_sec":$auditSec,"needs_rebuild":$needs,""" +
      s""""probe_sec":$probeSec,"rebuild_sec":$rebuildSec,""" +
      s""""recall_before":${report.recallBefore},"recall_after":${report.recallAfter},""" +
      s""""needs_rebuild_after":$needsAfter,"resumed_append":$nResumed,""" +
      s""""resume_append_sec":$resumeSec,"compact_sec":$compactSec,""" +
      s""""files_before":$fb,"files_after":$fa,"probe_after_sec":$probeAfterSec}""")
    spark.stop()
  }

  /** The deletion lifecycle timed at a grown corpus — the claims
    * under measurement: (a) a live tombstone set prices every probe
    * at ~the clean-probe cost through BOTH exclusion branches (the
    * NOT-IN scan predicate under the pushdown bound, the broadcast
    * anti-join above it); (b) the due-check poll is O(sidecar), not
    * O(artifact); (c) the fold is one bounded artifact rewrite after
    * which probes pay nothing at all. Corpus grown by entity copies
    * (the soak convention). Run: sbt "runMain graft.AnnProbe tombstones 100"
    */
  private def tombstoneLifecycle(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
    val emb =
      if (copies <= 1) emb0.localCheckpoint()
      else (0 until copies).map { k =>
        val rot = k % 64
        emb0.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          (if (rot == 0) col("embedding")
           else concat(slice(col("embedding"), rot + 1, 64 - rot),
             slice(col("embedding"), 1, rot))).as("embedding"))
      }.reduce(_.unionByName(_)).localCheckpoint()
    val nVec = emb.count()
    val out = java.nio.file.Files.createTempDirectory("ann_tombstones").toString + "/idx"
    val (_, writeSec) = timed(Similarity.annIndexWrite(emb, out, IvfPqSpec(64)))
    val q = emb0.filter(col("vec_id") < 8).localCheckpoint()
    def probe(): Long = Similarity.annProbeAt(spark, out, q, k = 5).count()
    val probeClean = min2(probe())
    // 1%: under the pushdown bound -> NOT-IN scan predicate
    val (nSmall, delSmallSec) = timed(Similarity.annIndexDeleteAt(spark, out,
      emb.filter(col("vec_id") % 100 === 1).select("vec_id")))
    val probeSmall = min2(probe())
    // 10%: past the pushdown bound -> broadcast anti-join branch
    val (nBig, delBigSec) = timed(Similarity.annIndexDeleteAt(spark, out,
      emb.filter(col("vec_id") % 10 === 1).select("vec_id")))
    val probeBig = min2(probe())
    // the per-batch poll a deployment runs: one sidecar-header read
    val (debt, pollSec) = timed(graft.sources.Tombstones.count(spark, out))
    val ((rb, ra), foldSec) = timed(Similarity.annTombstoneFold(spark, out))
    require(ra == nVec - nBig, s"fold accounting: $rb -> $ra, expected ${nVec - nBig}")
    val probeFolded = min2(probe())
    // deleted ids stay gone and ingest resumes (a folded id may return)
    require(spark.read.parquet(out).filter(col("vec_id") % 10 === 1).count() == 0L)
    val (nResumed, resumeSec) = timed(Similarity.annAppendAt(
      emb.filter(col("vec_id") % 10 === 1).limit(100), out))
    require(nResumed == 100L, s"resume admitted $nResumed/100")
    graft.plans.CheckpointHygiene.free(emb, q)
    println(s"""{"dir":"$dir","n_vectors":$nVec,"write_sec":${f"$writeSec%.2f"},""" +
      s""""probe_clean_sec":${f"$probeClean%.2f"},""" +
      s""""delete_small_sec":${f"$delSmallSec%.2f"},"tombstones_small":$nSmall,""" +
      s""""probe_pushdown_sec":${f"$probeSmall%.2f"},""" +
      s""""delete_big_sec":${f"$delBigSec%.2f"},"tombstones_big":$nBig,""" +
      s""""probe_antijoin_sec":${f"$probeBig%.2f"},""" +
      s""""debt":$debt,"poll_sec":${f"$pollSec%.3f"},""" +
      s""""fold_sec":${f"$foldSec%.2f"},"rows_before":$rb,"rows_after":$ra,""" +
      s""""probe_folded_sec":${f"$probeFolded%.2f"},"resume_append_sec":${f"$resumeSec%.2f"}}""")
    spark.stop()
  }

  /** The SQ8 maintenance loop end to end, timed — the `lifecycle`
    * probe for the scalar encoding, with the drift the SQ audit
    * exists for: in-bounds appends ride the header, an OUT-OF-SPAN
    * batch rail-clamps, `annNeedsRebuild` trips on saturation, the
    * rebuild retrains bounds (unclamping) + data-seeded centroids and
    * swaps, ingest resumes through the header-driven appender, and
    * compaction preserves probe results.
    * Run: sbt "runMain graft.AnnProbe sqlifecycle"
    */
  private def sqLifecycle(): Unit = {
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()
    val nVec = emb.count()
    val out = java.nio.file.Files.createTempDirectory("ann_sq_lifecycle").toString + "/idx"
    val (_, writeSec) = timed(
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 10 < 6), out, IvfSqSpec(64)))
    val appendSecs = (6 to 8).map { s =>
      timed(Similarity.annAppendAt(
        emb.filter(col("vec_id") % 10 === s), out))._2
    }
    // the drift batch: every value shifted past the trained span, so
    // stale-bounds encoding rail-clamps it (the staleness the
    // saturation audit measures)
    val shifted = transform(col("embedding"),
      x => (x + lit(2.0f)).cast("float")).as("embedding")
    val drift = emb.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), shifted).localCheckpoint()
    val (_, driftAppendSec) = timed(Similarity.annAppendAt(drift, out))
    val (satMax, satSec) = timed(Similarity.ivfSqSaturation(spark, out)
      .agg(max(col("sat_pm"))).collect()(0).getLong(0))
    val corpus = emb.filter(col("vec_id") % 10 =!= 9).unionByName(drift)
    val (needs, auditSec) = timed(Similarity.annNeedsRebuild(spark, out, corpus).isDefined)
    val q = emb.filter(col("vec_id") < 8).select(col("vec_id"), shifted)
      .localCheckpoint()
    def probe(): Long = Similarity.annProbeAt(spark, out, q, k = 5).count()
    val probeSec = (1 to 2).map(_ => timed(probe())._2).min
    val (report, rebuildSec) = timed(Similarity.annRebuildAt(corpus, out,
      Similarity.RebuildPolicy(trainFraction = 0.25, recallQueries = Some(q))))
    val (satAfter, _) = timed(Similarity.ivfSqSaturation(spark, out)
      .agg(max(col("sat_pm"))).collect()(0).getLong(0))
    val (needsAfter, _) = timed(Similarity.annNeedsRebuild(spark, out, corpus).isDefined)
    // ingest resumes through the header: the appender adopts the
    // RETRAINED bounds from the artifact itself (1e10 offset — above
    // any entity-copy range, the lifecycle-probe convention)
    val resumeBatch = emb.filter(col("vec_id") < 100)
      .select((col("vec_id") + 10000000000L).as("vec_id"), col("embedding"))
    val (nResumed, resumeSec) = timed(Similarity.annAppendAt(resumeBatch, out))
    require(nResumed == 100,
      s"resume batch collided with existing ids (admitted $nResumed/100)")
    val rowsBefore = probe()
    val ((fb, fa), compactSec) = timed(
      graft.sources.ArtifactCompaction.compactFiles(spark, out, targetFiles = 4))
    require(probe() == rowsBefore, "compaction changed probe results")
    graft.plans.CheckpointHygiene.free(emb, drift, q)
    println(s"""{"dir":"$dir","n_vectors":$nVec,"write_sec":${f"$writeSec%.2f"},""" +
      s""""append_secs":${appendSecs.map(s => f"$s%.2f").mkString("[", ",", "]")},""" +
      s""""drift_append_sec":${f"$driftAppendSec%.2f"},"sat_pm":$satMax,""" +
      s""""sat_sec":${f"$satSec%.2f"},"audit_sec":${f"$auditSec%.2f"},"needs_rebuild":$needs,""" +
      s""""probe_sec":${f"$probeSec%.2f"},"rebuild_sec":${f"$rebuildSec%.2f"},""" +
      s""""recall_before":${report.recallBefore},"recall_after":${report.recallAfter},""" +
      s""""sat_pm_after":$satAfter,"needs_rebuild_after":$needsAfter,""" +
      s""""resume_append_sec":${f"$resumeSec%.2f"},"compact_sec":${f"$compactSec%.2f"},""" +
      s""""files_before":$fb,"files_after":$fa}""")
    spark.stop()
  }

  /** The PCA rotation STALENESS loop timed end to end at scale — the
    * sqLifecycle analog for the basis signal: build the composed
    * PCA-16 artifact on a low-rank corpus, append a drifted generation
    * whose signal lives OUTSIDE the trained basis (projected through
    * the stale rotation — the silent-degradation path), poll the
    * bounded capture audit (the per-batch maintenance cost), execute
    * the full-stack rebuild (rotation + quantizers, recall-gated on
    * raw-space truth), and resume ingest through the new generation.
    * Run: sbt "runMain graft.AnnProbe pcalifecycle"
    */
  private def pcaLifecycle(): Unit = {
    val spark = session()
    // rank-4 signal in 64 dims, deterministic per id; generation A and
    // the DRIFTED generation B use disjoint direction sets, B at 2x
    // amplitude (the new data dominates variance but lives outside
    // A's trained basis)
    def dirsOf(seed: Int) = {
      val r = new scala.util.Random(seed)
      Array.fill(4)(Array.fill(64)(r.nextDouble() * 2 - 1))
    }
    val (dirsA, dirsB) = (dirsOf(1501), dirsOf(1502))
    def mkGen(dirs: Array[Array[Double]], amp: Double) = udf { (id: Long) =>
      def u(salt: Long): Double = {
        var x = id * 2654435761L + salt * 0x9E3779B97F4A7C15L
        x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
        (x >>> 11).toDouble / (1L << 53).toDouble * 2 - 1
      }
      val z = Array.tabulate(4)(c => u(c))
      (0 until 64).map(d =>
        (amp * (0 until 4).map(c => z(c) * dirs(c)(d)).sum
          + 0.02 * u(100 + d)).toFloat)
    }
    val genA = spark.range(160000).select(col("id").as("vec_id"),
      mkGen(dirsA, 1.0)(col("id")).as("embedding")).localCheckpoint()
    val genB = spark.range(40000).select((col("id") + 1000000L).as("vec_id"),
      mkGen(dirsB, 2.0)(col("id") + 1000000L).as("embedding")).localCheckpoint()
    // 32 probes x k=5 = 160 judged items: measurement granularity
    // 0.006, not the 8-probe 0.025 the r14 pcaProbe caveat hit
    val probes = spark.range(32).select((col("id") + 5000000L).as("vec_id"),
      mkGen(dirsB, 2.0)(col("id") + 5000000L).as("embedding")).localCheckpoint()
    val out = java.nio.file.Files.createTempDirectory("pca_lifecycle").toString + "/idx"
    val (_, writeSec) = timed(Similarity.annIndexWrite(genA, out,
      RotatedSpec(64, Pca(16), quantizers = Trained(), trainSample = 65536)))
    val ((s0, f0), audit0Sec) = timed(
      Similarity.pcaCaptureAudit(genA, out, trainSample = 65536))
    // drift lands through the STALE rotation — the degradation the
    // quantizer audits cannot see
    val (_, driftAppendSec) = timed(Similarity.annAppendAt(genB, out))
    val grown = genA.unionByName(genB).localCheckpoint()
    val ((s1, f1), auditSec) = timed(
      Similarity.pcaCaptureAudit(grown, out, trainSample = 65536))
    val basisDrift = Similarity.RebuildPolicy(trainSample = 65536,
      rebuildPm = Long.MaxValue)
    val (needs, _) = timed(
      Similarity.annNeedsRebuild(spark, out, grown, basisDrift).isDefined)
    val exact = Similarity.topKCosine(grown, probes, 5).localCheckpoint()
    def refRecall(): Double =
      Similarity.annRecall(exact,
          Similarity.annRefineAt(spark, out, grown, probes, k = 5,
            rerank = 64), 5)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
    val (recBefore, _) = timed(refRecall())
    val (report, rebuildSec) = timed(Similarity.annRebuildAt(grown, out,
      basisDrift.copy(recallQueries = Some(probes), minRecallRatio = 0.0)))
    val ((s2, f2), _) = timed(
      Similarity.pcaCaptureAudit(grown, out, trainSample = 65536))
    val (needsAfter, _) = timed(
      Similarity.annNeedsRebuild(spark, out, grown, basisDrift).isDefined)
    val (recAfter, _) = timed(refRecall())
    val resume = genB.limit(100)
      .select((col("vec_id") + 10000000000L).as("vec_id"), col("embedding"))
    val (nResumed, resumeSec) = timed(Similarity.annAppendAt(resume, out))
    require(nResumed == 100,
      s"resume batch collided with existing ids (admitted $nResumed/100)")
    graft.plans.CheckpointHygiene.free(genA, genB, grown, probes, exact)
    println(s"""{"n_vectors":200000,"write_sec":${f"$writeSec%.2f"},""" +
      s""""baseline_pm":$s0,"fresh_pm_healthy":$f0,"audit_healthy_sec":${f"$audit0Sec%.2f"},""" +
      s""""drift_append_sec":${f"$driftAppendSec%.2f"},""" +
      s""""fresh_pm_drifted":$f1,"audit_sec":${f"$auditSec%.2f"},"needs_rebuild":$needs,""" +
      s""""refine_recall_before":${f"$recBefore%.3f"},"rebuild_sec":${f"$rebuildSec%.2f"},""" +
      s""""gate_recall_before":${f"${report.recallBefore}%.3f"},"gate_recall_after":${f"${report.recallAfter}%.3f"},""" +
      s""""baseline_pm_after":$s2,"fresh_pm_after":$f2,"needs_rebuild_after":$needsAfter,""" +
      s""""refine_recall_after":${f"$recAfter%.3f"},"resume_append_sec":${f"$resumeSec%.2f"}}""")
    spark.stop()
  }

  /** The PCA pre-transform trade measured where it actually depends on
    * the corpus: full-dim IVF-PQ vs the composed PCA-32 artifact on
    * (a) an ISOTROPIC 200k corpus (entity-grown sf embeddings — PCA
    * has nothing to find, the projection loss is pure) and (b) a
    * RANK-8 200k corpus (low-rank signal + noise — the case PCA
    * exists for). Reports artifact bytes, build + min-of-2 probe
    * walls, and refine recall@5 vs exact cosine for both, on both.
    * Run: sbt "runMain graft.AnnProbe pca 100"
    */
  private def pcaProbe(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val iso = (0 until copies).map { k =>
      val rot = k % 64
      emb0.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        (if (rot == 0) col("embedding")
         else concat(slice(col("embedding"), rot + 1, 64 - rot),
           slice(col("embedding"), 1, rot))).as("embedding"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    // rank-8 signal + 2% noise, deterministic per id (hash-uniform
    // latent coords, fixed direction matrix)
    val dirs = {
      val r = new scala.util.Random(1419)
      Array.fill(8)(Array.fill(64)(r.nextDouble() * 2 - 1))
    }
    val mkLowRank = udf { (id: Long) =>
      def u(salt: Long): Double = {
        var x = id * 2654435761L + salt * 0x9E3779B97F4A7C15L
        x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 33)
        (x >>> 11).toDouble / (1L << 53).toDouble * 2 - 1
      }
      val z = Array.tabulate(8)(c => u(c))
      (0 until 64).map(d =>
        ((0 until 8).map(c => z(c) * dirs(c)(d)).sum + 0.02 * u(100 + d)).toFloat)
    }
    val nIso = iso.count()
    val lr = spark.range(nIso).select(col("id").as("vec_id"),
      mkLowRank(col("id")).as("embedding")).localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("ann_pca_probe").toString
    def dirBytes(p: String): Long = {
      val d = new java.io.File(p)
      Option(d.listFiles).map(_.map(f => if (f.isFile) f.length else 0L).sum).getOrElse(0L)
    }
    def run(tag: String, corpus: org.apache.spark.sql.DataFrame,
            queries: org.apache.spark.sql.DataFrame): String = {
      val full = s"$base/$tag-full"; val pca = s"$base/$tag-pca32"
      // TRAINED quantizers on both sides (the production posture) so
      // the measured delta is the projection, not the untrained floor
      val (_, fullBuild) = timed(Similarity.annIndexWrite(corpus, full,
        IvfPqSpec(64, quantizers = Trained(), trainSample = 65536)))
      val (_, pcaBuild) = timed(Similarity.annIndexWrite(corpus, pca,
        RotatedSpec(64, Pca(32), quantizers = Trained(), trainSample = 65536)))
      // the storage-halving variant PCA enables: 4 subspaces over the
      // 32 projected dims = 4 code bytes/vec vs the full-dim 8
      val pcaM4 = s"$base/$tag-pca32m4"
      val (_, m4Build) = timed(Similarity.annIndexWrite(corpus, pcaM4,
        RotatedSpec(64, Pca(32), m = 4, quantizers = Trained(), trainSample = 65536)))
      val fullSec = min2(
        Similarity.annRefineAt(spark, full, corpus, queries, k = 5).count())
      val pcaSec = min2(
        Similarity.annRefineAt(spark, pca, corpus, queries, k = 5).count())
      val m4Sec = min2(
        Similarity.annRefineAt(spark, pcaM4, corpus, queries, k = 5).count())
      val exact = Similarity.topKCosine(corpus, queries, 5).localCheckpoint()
      def recall(approx: org.apache.spark.sql.DataFrame): Double =
        Similarity.annRecall(exact, approx, 5)
          .agg(avg(col("recall"))).collect()(0).getDouble(0)
      val fullRec = recall(
        Similarity.annRefineAt(spark, full, corpus, queries, k = 5))
      val pcaRec = recall(
        Similarity.annRefineAt(spark, pca, corpus, queries, k = 5))
      val m4Rec = recall(
        Similarity.annRefineAt(spark, pcaM4, corpus, queries, k = 5))
      graft.plans.CheckpointHygiene.free(exact)
      f""""$tag":{"full_bytes":${dirBytes(full)},"pca_bytes":${dirBytes(pca)},"pca_m4_bytes":${dirBytes(pcaM4)},""" +
        f""""full_build_sec":$fullBuild%.2f,"pca_build_sec":$pcaBuild%.2f,"pca_m4_build_sec":$m4Build%.2f,""" +
        f""""full_refine_sec":$fullSec%.2f,"pca_refine_sec":$pcaSec%.2f,"pca_m4_refine_sec":$m4Sec%.2f,""" +
        f""""full_recall5":$fullRec%.3f,"pca_recall5":$pcaRec%.3f,"pca_m4_recall5":$m4Rec%.3f}"""
    }
    val isoLine = run("isotropic", iso, emb0.filter(col("vec_id") < 8))
    val lrLine = run("rank8", lr, lr.filter(col("vec_id") < 8)
      .select((col("vec_id") + 900000000000L).as("vec_id"), col("embedding")))
    graft.plans.CheckpointHygiene.free(iso, lr)
    println(s"""{"n_vec":$nIso,$isoLine,$lrLine}""")
    spark.stop()
  }

  /** The OPQ_P rung of the encoding ladder at the 4-byte/vec budget
    * (m=8, 4-bit subcodes): plain learned PQ vs the eigen-allocation
    * rotation, measured where the trade actually depends on the
    * corpus — (a) the ISOTROPIC 200k union (variance already balanced:
    * OPQ must be a no-op, the negative control) and (b) a SPECTRUM
    * corpus (per-dim energy decaying 2^(-d/8): plain PQ's positional
    * grouping gives subspace 0 all the energy and subspace 7 none —
    * the imbalance eigenvalue allocation exists to fix). Reports build
    * walls, min-of-2 refine walls, ADC recall@5 and refine recall@5
    * vs exact MIPS for both encodings on both corpora.
    * Run: sbt "runMain graft.AnnProbe opq 100"
    */
  private def opqLadder(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val spark = session()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val iso = (0 until copies).map { k =>
      val rot = k % 64
      emb0.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        (if (rot == 0) col("embedding")
         else concat(slice(col("embedding"), rot + 1, 64 - rot),
           slice(col("embedding"), 1, rot))).as("embedding"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val spectrumUdf = udf { (v: Seq[Float]) =>
      v.zipWithIndex.map { case (x, d) =>
        (x * math.pow(2.0, -d / 8.0)).toFloat }
    }
    val spec = iso.select(col("vec_id"),
      spectrumUdf(col("embedding")).as("embedding")).localCheckpoint()
    val base = java.nio.file.Files.createTempDirectory("ann_opq").toString
    def run(tag: String, corpus: org.apache.spark.sql.DataFrame,
            queries: org.apache.spark.sql.DataFrame): String = {
      val pq = s"$base/$tag-pq"; val opq = s"$base/$tag-opq"
      val opqi = s"$base/$tag-opqi"
      val (_, pqBuild) = timed(Similarity.annIndexWrite(corpus, pq,
        IvfPqSpec(64, quantizers = Trained(), trainSample = 65536)))
      val (_, opqBuild) = timed(Similarity.annIndexWrite(corpus, opq,
        RotatedSpec(64, OpqP, quantizers = Trained(), trainSample = 65536)))
      // the iterative rung: Ge et al. non-parametric refinement at the
      // SAME byte budget, 2 alternating rounds from the OPQ_P start
      val (_, opqiBuild) = timed(Similarity.annIndexWrite(corpus, opqi,
        RotatedSpec(64, OpqI(2), quantizers = Trained(), trainSample = 65536)))
      val pqSec = min2(
        Similarity.annRefineAt(spark, pq, corpus, queries, k = 5).count())
      val opqSec = min2(
        Similarity.annRefineAt(spark, opq, corpus, queries, k = 5).count())
      val exact = Similarity.topKDot(corpus, queries, 5).localCheckpoint()
      def recall(approx: org.apache.spark.sql.DataFrame): Double =
        Similarity.annRecall(exact, approx, 5)
          .agg(avg(col("recall"))).collect()(0).getDouble(0)
      val pqAdc = recall(Similarity.annProbeAt(spark, pq, queries, k = 5))
      val opqAdc = recall(Similarity.annProbeAt(spark, opq, queries, k = 5))
      val opqiAdc = recall(Similarity.annProbeAt(spark, opqi, queries, k = 5))
      val pqRef = recall(Similarity.annRefineAt(spark, pq, corpus, queries, k = 5))
      val opqRef = recall(Similarity.annRefineAt(spark, opq, corpus, queries, k = 5))
      val opqiRef = recall(Similarity.annRefineAt(spark, opqi, corpus, queries, k = 5))
      // all lists probed: the coarse-quantizer recall ceiling removed,
      // so this pair isolates the ENCODING stage the rotation is for
      val pqRefAll = recall(Similarity.annRefineAt(spark, pq, corpus,
        queries, k = 5, nprobe = 16))
      val opqRefAll = recall(Similarity.annRefineAt(spark, opq, corpus,
        queries, k = 5, nprobe = 16))
      val opqiRefAll = recall(Similarity.annRefineAt(spark, opqi, corpus,
        queries, k = 5, nprobe = 16))
      graft.plans.CheckpointHygiene.free(exact)
      f""""$tag":{"pq_build_sec":$pqBuild%.2f,"opq_build_sec":$opqBuild%.2f,"opqi_build_sec":$opqiBuild%.2f,""" +
        f""""pq_refine_sec":$pqSec%.2f,"opq_refine_sec":$opqSec%.2f,""" +
        f""""pq_adc_recall5":$pqAdc%.3f,"opq_adc_recall5":$opqAdc%.3f,"opqi_adc_recall5":$opqiAdc%.3f,""" +
        f""""pq_refine_recall5":$pqRef%.3f,"opq_refine_recall5":$opqRef%.3f,"opqi_refine_recall5":$opqiRef%.3f,""" +
        f""""pq_refine_alllists_recall5":$pqRefAll%.3f,"opq_refine_alllists_recall5":$opqRefAll%.3f,"opqi_refine_alllists_recall5":$opqiRefAll%.3f}"""
    }
    val nVec = iso.count()
    val isoLine = run("isotropic", iso, emb0.filter(col("vec_id") < 8))
    val specLine = run("spectrum", spec,
      spec.filter(col("vec_id") < 8))
    graft.plans.CheckpointHygiene.free(iso, spec)
    println(s"""{"n_vec":$nVec,$isoLine,$specLine}""")
    spark.stop()
  }

  /** Recall@5 of flat PQ with salted vs learned codebooks against the
    * exact top-k — the quantization-quality counterpart of the
    * centroid probe. Run: sbt "runMain graft.AnnProbe pq"; an optional
    * arg bounds codebook training ("runMain graft.AnnProbe pq 10240").
    */
  private def pqRecall(args: Array[String]): Unit = {
    val trainSample = if (args.nonEmpty) args(0).toInt else 0
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 8)
    val k = 5
    val exact = Similarity.topKCosine(emb, q, k = k).localCheckpoint()
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double = {
      val r = Similarity.annRecall(exact, approx, k)
        .agg(avg(col("recall"))).collect()(0).getDouble(0)
      math.rint(r * 1000) / 1000
    }
    val salted = meanRecall(Similarity.annPq(emb, q, k = k, dim = 64))
    val (learnedCbs, tTrain) = timed(Similarity.pqLearnedCodebooks(emb, dim = 64,
      trainSample = trainSample))
    val learned = meanRecall(Similarity.annPq(emb, q, k = k, dim = 64,
      codebooks = Some(learnedCbs)))
    println(s"""{"dir":"$dir","train_sample":$trainSample,"train_sec":$tTrain,"recall_salted":$salted,"recall_learned":$learned}""")
    spark.stop()
  }

  /** DIMENSION-scaling probe for the covariance/eigen path (testdata
    * is dim 64; production embedding columns are 768-4096): times the
    * three cost components that scale with dim, at a Faiss-convention
    * training sample —
    *   - the embedCovariance aggregate: the pair-explode emits
    *     trainRows x dim(dim+1)/2 intermediate rows (the distributed
    *     cost; at dim 1024 that is 525k pairs PER training row);
    *   - jacobiEigen: O(sweeps x dim^3) DRIVER flops;
    *   - pcaProject of `projRows` corpus rows through the rotation:
    *     dim^2 multiply-adds per row (the per-row index-build cost).
    * Run: sbt "runMain graft.AnnProbe dims 1024 4096 100000"
    */
  private def dimScaling(args: Array[String]): Unit = {
    val dim = if (args.nonEmpty) args(0).toInt else 1024
    val trainRows = if (args.length > 1) args(1).toInt else 4096
    val projRows = if (args.length > 2) args(2).toInt else 100000
    val spark = GraftSession.local()
    import spark.implicits._
    def synth(n: Int): org.apache.spark.sql.DataFrame =
      spark.range(n).select(col("id").as("vec_id"),
        expr(s"transform(sequence(1, $dim), d -> CAST(" +
          // deterministic pseudo-noise with a decaying spectrum (the
          // realistic shape: most variance in the leading dims)
          "(CAST(hash(id, d) AS DOUBLE) / 2147483647.0) * pow(2.0, -CAST(d AS DOUBLE) / 256.0)" +
          " AS FLOAT))").as("embedding"))
    val train = synth(trainRows).localCheckpoint()
    val (cov, covSec) = timed(Similarity.covarianceMatrix(train, dim))
    val ((_, eigRows), eigSec) = timed(Similarity.jacobiEigen(cov))
    val proj = synth(projRows).localCheckpoint()
    val (_, projSec) = timed(
      Similarity.pcaProject(proj, eigRows.take(dim / 4))
        .agg(count(lit(1))).collect())
    println(s"""{"dim":$dim,"train_rows":$trainRows,"proj_rows":$projRows,""" +
      s""""cov_sec":$covSec,"eigen_sec":$eigSec,"project_quarter_sec":$projSec}""")
    spark.stop()
  }
}
