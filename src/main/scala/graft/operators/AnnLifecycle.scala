package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The lifecycle of a persisted ANN artifact — IVF-PQ (plain or
  * residual), IVF-SQ8, or IVF-PQ under a stored pcarot rotation (PCA /
  * OPQ) — written ONCE over a small per-kind codec. This is the Faiss
  * `index_factory` split (Douze et al., "The Faiss library", 2024): the
  * codec encodes and scores, the lifecycle owns the artifact.
  *
  *  - [[kindOf]] is the one answer to "which kind of artifact is at
  *    this path". The SQL verbs, the fold, the delete and
  *    [[Forget]] dispatch on it.
  *  - [[Kind.open]] reads a kind's headers once and returns its
  *    [[Codec]]: the header generation, the accepted input dim, the
  *    encoder, the query projection (identity, or the stored pcarot
  *    rotation) and the scorer over the artifact scan
  *    ([[Similarity.annIvfPqProbe]] for the PQ kinds,
  *    [[Similarity.annIvfSqProbeFrame]] for SQ8). [[open]] resolves the
  *    kind first.
  *  - The read and append surface is three verbs over [[open]]:
  *    [[Similarity.annProbeAt]] (project, then score the
  *    tombstone-excluded, id-restricted scan), [[Similarity.annRefineAt]]
  *    (exact refine over that probe) and [[Similarity.annAppendAt]]
  *    ([[appendAt]]). There is one entry per verb and it always
  *    projects, so a raw query cannot reach a projected artifact
  *    unprojected.
  *  - [[writerEntry]] repairs a crashed swap, THEN runs the header
  *    trust check. Every writer verb enters here, so a crash between
  *    a rebuild's two renames is healed before any header is read
  *    (refusing on the missing header instead invites the caller to
  *    re-create the index from one batch).
  *  - [[appendAt]] is the header-driven append: admission anti-join,
  *    write, post-write generation backstop. It is the only way an
  *    artifact grows; [[build]] is the only way one is created.
  *  - Each [[Kind]] also owns the two decisions a maintainer makes:
  *    its staleness [[Kind.audit]] (the first tripped signal by name)
  *    and its [[Kind.retrain]] (the rewrite that signal calls for).
  *    [[Similarity.annNeedsRebuild]], [[Similarity.annRebuildAt]] and
  *    [[Similarity.annRebuildIfNeeded]] dispatch on the stored kind,
  *    and every one takes the RAW corpus.
  *  - [[rebuild]] is the verify, recall-gate, carry and swap skeleton
  *    around the kind's retrain; the [[Kind]] supplies the recall
  *    ground truth, and the gate probes through
  *    [[Similarity.annProbeAt]].
  *  - [[build]] is the one builder ([[Similarity.annIndexWrite]]) over
  *    a per-kind [[Spec]]: writer entry, tombstone refusal, the spec's
  *    training, the kind's codec encode, overwrite, headers last. Each
  *    kind builds its codec from header content in one place
  *    (`codec`), which [[Kind.open]] uses after reading the headers and
  *    the builder before stamping them; every [[Kind.retrain]] builds a
  *    spec from the stored headers and the policy and calls the same
  *    builder at `.rebuild.tmp`.
  */
private[graft] object AnnLifecycle {

  /** One encoding of a persisted ANN artifact. `idCol` is the id
    * column of its stored rows; `samplesCorpus` says whether its
    * audit aggregates over the corpus (a maintainer poll must then be
    * sample-bounded).
    */
  sealed abstract class Kind(val idCol: String, val samplesCorpus: Boolean = false) {
    /** Read this kind's headers at `path` once and return its codec;
      * a missing or damaged header refuses, naming `what`.
      */
    def open(spark: SparkSession, path: String, what: String): Codec

    /** The exact ranking the recall gate grades the probe against. ADC
      * approximates the inner product, so the PQ kinds gate on exact
      * MIPS ([[Similarity.topKDot]]; for PCA over the RAW space, so the
      * gate spans projection loss too); SQ8 decode-dot scores are
      * normalized cosine, so SQ8 gates on [[Similarity.topKCosine]].
      * Either way the truth is the ranking the index promises.
      */
    def truth(corpus: DataFrame, q: DataFrame, k: Int, idCol: String,
              vecCol: String): DataFrame =
      if (this == IvfSq) Similarity.topKCosine(corpus, q, k, idCol, vecCol)
      else Similarity.topKDot(corpus, q, k, idCol, vecCol)

    /** The staleness audit: the reason of the first signal that trips,
      * None on a healthy artifact. Each signal is computed at most
      * once; only a basis audit evaluates `corpus`.
      */
    def audit(spark: SparkSession, path: String, corpus: => DataFrame,
              p: Similarity.RebuildPolicy): Option[String]

    /** The retrain `signal` calls for (None: the full retrain of
      * [[Similarity.annRebuildAt]]) after the header check.
      */
    def retrain(corpus: DataFrame, path: String, p: Similarity.RebuildPolicy,
                signal: Option[String]): Retrain

    /** Why a maintainer should restamp a legacy sidecar this kind's
      * audit reads, when the artifact predates it.
      */
    def legacy(spark: SparkSession, path: String): Option[String] = None

    /** Restamp the sidecar [[legacy]] names; returns the summary. */
    def restamp(spark: SparkSession, path: String, corpus: => DataFrame,
                p: Similarity.RebuildPolicy): String = ""
  }

  /** The list-balance signal every kind audits: one lists-row
    * aggregate over the stored `list_id` column.
    */
  private val Balance = "list balance"

  private def balance(spark: SparkSession, path: String, lists: Int,
                      p: Similarity.RebuildPolicy): Option[String] =
    Option.when(Similarity.ivfPqListBalance(spark.read.parquet(path), lists, p.rebuildPm)
        .agg(max(col("rebuild"))).collect()(0).getLong(0) == 1L)(
      s"$Balance past ${p.rebuildPm}pm of uniform share")

  /** The IVF-PQ spec a rebuild retrains under `h`'s shape: both
    * quantizers data-seeded (a rebuild runs because the data outgrew
    * the old quantizers, and constant seeds cannot subdivide a drifted
    * dense region Lloyd's never plants a second seed in — see
    * [[Similarity.dataSeedVectors]]) at the policy's iterations and
    * sample.
    */
  private def retrainSpec(h: Similarity.IvfPqHeader, p: Similarity.RebuildPolicy) =
    IvfPqSpec(h.dim, h.lists, h.m, h.codes, h.residual, Trained(p.kmIters, p.pqIters),
      p.trainSample, p.trainFraction)

  case object IvfPq extends Kind("vec_id") {
    def open(spark: SparkSession, path: String, what: String): Codec =
      codec(Similarity.ivfPqRequireHeader(spark, path, what))
    /** The one IVF-PQ encoder and scorer, from header content. */
    def codec(h: Similarity.IvfPqHeader): Codec = {
      val (cents, cbs) = (Some(h.centroids), Some(h.codebooks))
      Codec(this, h.paramsHash, h.dim,
        encode = Similarity.ivfPqIndex(_, h.dim, h.lists, h.m, h.codes, _, _, cents, cbs,
          h.residual),
        score = (scan, q, k, nprobe, idCol, vecCol) =>
          Similarity.annIvfPqProbe(scan, q, k, h.dim, h.lists, nprobe, h.m, h.codes,
            idCol, vecCol, cents, cbs, h.residual))
    }
    def stamp(h: Similarity.IvfPqHeader)(spark: SparkSession, path: String): Unit =
      Similarity.ivfPqWriteHeader(spark, path, h.dim, h.lists, h.m, h.codes, h.centroids,
        h.codebooks, h.residual)
    def audit(spark: SparkSession, path: String, corpus: => DataFrame,
              p: Similarity.RebuildPolicy): Option[String] =
      balance(spark, path, Similarity.ivfPqRequireHeader(spark, path, "annNeedsRebuild").lists,
        p)
    def retrain(corpus: DataFrame, path: String, p: Similarity.RebuildPolicy,
                signal: Option[String]): Retrain = {
      val h = Similarity.ivfPqRequireHeader(corpus.sparkSession, path, RebuildVerb)
      Retrain(h.dim, "quantizers",
        Similarity.annIndexWrite(corpus, _, retrainSpec(h, p), p.idCol, p.vecCol))
    }
  }
  case object IvfSq extends Kind("neighbor_id") {
    /** Appends accumulate their rail counts into the stats sidecar. */
    def open(spark: SparkSession, path: String, what: String): Codec = {
      val h = Similarity.sqRequireHeader(spark, path, what)
      codec(h).copy(afterAppend = Similarity.sqStatsAccumulate(spark, path, _, h.dim))
    }
    /** The one SQ8 encoder and scorer, from header content. */
    def codec(h: Similarity.IvfSqHeader): Codec =
      Codec(this, h.paramsHash, h.dim,
        encode = Similarity.ivfSqIndex(_, h.dim, h.lists, _, _, Some(h.cents),
          Some((h.vmin, h.vmax))),
        score = Similarity.annIvfSqProbeFrame(_, _, _, _, h.cents, h.vmin, h.vmax, _, _))
    /** Bounds saturation (rail-clamped codes have lost the resolution
      * the encoding exists to provide), from the O(dim) stats sidecar
      * or, on a legacy artifact, the codes scan; then list balance.
      * Both read only the `codes`/`list_id` columns.
      */
    def audit(spark: SparkSession, path: String, corpus: => DataFrame,
              p: Similarity.RebuildPolicy): Option[String] = {
      val h = Similarity.sqRequireHeader(spark, path, "annNeedsRebuild")
      val sat = Similarity.ivfSqSaturationFromStats(spark, path)
        .getOrElse(Similarity.ivfSqSaturation(spark, path))
        .agg(max(col("sat_pm"))).collect()(0).getLong(0)
      if (sat > p.satPm) Some(s"bounds saturation ${sat}pm past ${p.satPm}pm")
      else balance(spark, path, h.lists, p)
    }
    /** Coarse centroids (data-seeded) and bounds (exact min/max over
      * the same training sample, so the stale rails unclamp),
      * retrained on the corpus.
      */
    def retrain(corpus: DataFrame, path: String, p: Similarity.RebuildPolicy,
                signal: Option[String]): Retrain = {
      val h = Similarity.sqRequireHeader(corpus.sparkSession, path, RebuildVerb)
      Retrain(h.dim, "quantizers", { tmp =>
        val cents = Similarity.kmeansCentroids(corpus, k = h.lists, iters = p.kmIters,
          dim = h.dim, idCol = p.idCol, vecCol = p.vecCol, trainSample = p.trainSample,
          trainFraction = p.trainFraction, seedFromData = true)
        Similarity.annIndexWrite(corpus, tmp,
          IvfSqSpec(h.dim, h.lists, Some(cents), None, p.trainSample, p.trainFraction),
          p.idCol, p.vecCol)
      })
    }
    override def legacy(spark: SparkSession, path: String): Option[String] =
      Option.unless(Similarity.ivfSqHasStats(spark, path))(
        "legacy stats-less artifact (this poll scanned the codes) — restamping " +
          "ivfsq_stats so subsequent polls are O(dim)")
    override def restamp(spark: SparkSession, path: String, corpus: => DataFrame,
                         p: Similarity.RebuildPolicy): String = {
      Similarity.ivfSqStatsRestamp(spark, path)
      "stats restamped; "
    }
  }
  /** IVF-PQ over vectors projected through a stored pcarot rotation:
    * the IVF-PQ codec behind the rotation — raw vectors and queries
    * project first, the ivfpq header generation stays the token.
    */
  case object PcaIvfPq extends Kind("vec_id", samplesCorpus = true) {
    def open(spark: SparkSession, path: String, what: String): Codec = {
      val pq = IvfPq.open(spark, path, what)
      val rot = Similarity.pcaRotationAt(spark, path, what)
      require(rot.length == pq.inputDim,
        s"$what: the pcarot rotation at $path projects to ${rot.length} dims but " +
          s"the ivfpq header encodes dim=${pq.inputDim}")
      codec(pq, rot)
    }
    /** The one projected encoder: `pq` behind the rotation `rot`. */
    def codec(pq: Codec, rot: Array[Array[Double]]): Codec = {
      val project = Similarity.pcaProject(_: DataFrame, rot, _: String, _: String)
      pq.copy(kind = this, inputDim = rot.head.length, project = project,
        encode = (v, i, c) => pq.encode(project(v, i, c), i, c))
    }
    /** Basis capture first (the fresh sample's variance capture of the
      * stored rotation against its training-time baseline, when the
      * pcarot carries one — the drift the quantizer audits cannot
      * see), then list balance.
      */
    def audit(spark: SparkSession, path: String, corpus: => DataFrame,
              p: Similarity.RebuildPolicy): Option[String] = {
      val h = Similarity.ivfPqRequireHeader(spark, path, "annNeedsRebuild")
      val basis =
        if (!Similarity.pcaHasCaptureBaseline(spark, path)) None
        else {
          val (stored, fresh) = Similarity.pcaCaptureAudit(corpus, path, p.trainSample,
            p.trainFraction, p.idCol, p.vecCol)
          Option.when(fresh * 1000L < p.driftRatioPm * stored)(
            s"basis capture ${fresh}pm fell below ${p.driftRatioPm}/1000 of " +
              s"baseline ${stored}pm")
        }
      basis.orElse(balance(spark, path, h.lists, p))
    }
    /** A tripped list balance retrains the quantizers in projection
      * space under the STORED rotation (its pcarot sidecar is carried
      * byte for byte); anything else retrains a fresh basis by the
      * stored method (an OPQ_P artifact re-learns the eigenvalue
      * allocation, an OPQ_I one re-runs the alternating loop at its
      * stamped iteration count and retrains the codebooks at the
      * policy's) and the quantizers in it, stamping the new rotation
      * with its capture baseline. Either way the rotation rides the
      * rewrite from birth, so the recall gate probes each generation
      * through its own basis.
      */
    def retrain(corpus: DataFrame, path: String, p: Similarity.RebuildPolicy,
                signal: Option[String]): Retrain = {
      val spark = corpus.sparkSession
      val h = Similarity.ivfPqRequireHeader(spark, path, RebuildVerb)
      val (kv, rot) = Similarity.pcaRotHeader(spark, path, RebuildVerb)
      if (signal.exists(_.startsWith(Balance)))
        Retrain(rot.head.length, "quantizers", { tmp =>
          val n = Similarity.annIndexWrite(Similarity.pcaProject(corpus, rot, p.idCol,
            p.vecCol), tmp, retrainSpec(h, p), p.idCol, p.vecCol)
          val (fs, live) = Similarity.hadoopFs(spark, path)
          Similarity.carrySidecars(fs, live, new Path(tmp), spark.sessionState.newHadoopConf())
          n
        })
      else {
        val method = kv.get("method") match {
          case Some("opq_p") => OpqP
          case Some("opq_i") =>
            OpqI(kv.get("opq_iters").map(_.toInt).getOrElse(2), keepCodebooks = false)
          case _ => Pca(rot.length)
        }
        Retrain(rot.head.length, "rotation + quantizers", Similarity.annIndexWrite(corpus,
          _,
          RotatedSpec(rot.head.length, method, h.lists, h.m, h.codes, h.residual,
            Trained(p.kmIters, p.pqIters), p.trainSample, p.trainFraction),
          p.idCol, p.vecCol))
      }
    }
    override def legacy(spark: SparkSession, path: String): Option[String] =
      Option.unless(Similarity.pcaHasCaptureBaseline(spark, path))(
        "legacy pcarot without a capture baseline — restamping from the current " +
          "corpus so drift is measurable from here on")
    override def restamp(spark: SparkSession, path: String, corpus: => DataFrame,
                         p: Similarity.RebuildPolicy): String = {
      val c = Similarity.pcaCaptureRestamp(corpus, path, p.trainSample, p.trainFraction,
        p.idCol, p.vecCol)
      s"capture baseline restamped at ${c}pm; "
    }
  }

  /** What one build of an artifact trains and stamps, per kind — the
    * Faiss `index_factory` string as a value. The constructors hold the
    * shape checks, so a bad spec refuses before any IO.
    */
  sealed trait Spec {
    /** Train on `corpus` (the builder's step 3): the codec the rows
      * encode under, and the stamp that writes this kind's headers and
      * returns the row count.
      */
    private[operators] def train(corpus: DataFrame, idCol: String, vecCol: String): Built
  }

  /** Where an IVF-PQ build's coarse centroids and PQ codebooks come
    * from.
    */
  sealed trait Quantizers
  /** The SQL-derivable md5-salted arrays — the oracle-parity chain. */
  case object Salted extends Quantizers
  /** Caller-held arrays, shape-checked against the spec. */
  final case class Given(centroids: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]]) extends Quantizers
  /** Data-seeded training on the spec's sample: `kmIters` Lloyd's
    * rounds for the centroids, `pqIters` for the codebooks (on the
    * coarse residuals when the encoding is residual). The production
    * posture, and what a rebuild installs.
    */
  final case class Trained(kmIters: Int = 2, pqIters: Int = 2) extends Quantizers

  /** IVF-PQ over the raw vectors, plain or `residual` (the codes
    * quantize each vector's residual to its coarse centroid).
    * `trainSample`/`trainFraction` bound [[Trained]] quantizers.
    */
  final case class IvfPqSpec(dim: Int, lists: Int = 16, m: Int = 8, codes: Int = 16,
                             residual: Boolean = false, quantizers: Quantizers = Salted,
                             trainSample: Int = 0, trainFraction: Double = 0.0)
      extends Spec {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")

    /** The quantizers over `train` (rows in the encoded space) as the
      * header they stamp. [[Trained]] trains the coarse centroids, then
      * the PQ codebooks — on the residuals the coarse quantizer leaves
      * when `residual` (the Faiss IVFPQ training order; training sees
      * float-cast residuals, it is statistical, while ENCODING always
      * computes the exact double residual) — unless `loopCodebooks`
      * were already trained in this space by an OPQ_I rotation.
      */
    private[operators] def quantize(train: DataFrame, idCol: String, vecCol: String,
                                    loopCodebooks: Option[Array[Array[Array[Double]]]] = None)
        : Similarity.IvfPqHeader = {
      val (cents, cbs) = quantizers match {
        case Salted => Similarity.ivfPqResolve(dim, lists, m, codes, None, None)
        case Given(c, cb) => Similarity.ivfPqResolve(dim, lists, m, codes, Some(c), Some(cb))
        case Trained(kmIters, pqIters) =>
          val c = Similarity.kmeansCentroids(train, lists, kmIters, dim, idCol, vecCol,
            trainSample, trainFraction, seedFromData = true)
          (c, loopCodebooks.getOrElse(Similarity.pqLearnedCodebooks(
            if (residual) Similarity.residualFloatFrame(train, c, idCol, vecCol) else train,
            dim, m, codes, pqIters, vecCol, idCol, trainSample, trainFraction,
            seedFromData = true)))
      }
      Similarity.IvfPqHeader(dim, lists, m, codes, cents, cbs,
        Similarity.ivfPqParamsHash(dim, lists, m, codes, cents, cbs, residual), residual)
    }

    private[operators] def train(corpus: DataFrame, idCol: String, vecCol: String): Built = {
      val h = quantize(corpus, idCol, vecCol)
      Built(IvfPq.codec(h), { (spark, path) =>
        IvfPq.stamp(h)(spark, path)
        spark.read.parquet(path).count()
      })
    }
  }

  /** IVF-SQ8: one uint8 code per dimension between per-dimension
    * bounds. `centroids` default to the salted ones; `bounds` default
    * to exact min/max over the `trainSample`/`trainFraction` sample.
    */
  final case class IvfSqSpec(dim: Int, lists: Int = 16,
                             centroids: Option[Array[Array[Double]]] = None,
                             bounds: Option[(Array[Double], Array[Double])] = None,
                             trainSample: Int = 0, trainFraction: Double = 0.0)
      extends Spec {
    private[operators] def train(corpus: DataFrame, idCol: String, vecCol: String): Built = {
      val cents = centroids.getOrElse(Array.tabulate(lists)(Similarity.ivfCentroidSql(_, dim)))
      val (vmin, vmax) = bounds.getOrElse(
        Similarity.sqTrainBounds(corpus, dim, idCol, vecCol, trainSample, trainFraction))
      val params = Similarity.sqHeaderParams(dim, lists, cents, vmin, vmax)
      val h = Similarity.IvfSqHeader(dim, lists, cents, vmin, vmax,
        graft.sources.ArtifactHeader.paramsHash("ivfsq", params))
      Built(IvfSq.codec(h), { (spark, path) =>
        graft.sources.ArtifactHeader.write(spark, path, "ivfsq", params)
        // one read-back aggregate seeds the saturation-stats sidecar AND
        // yields the row count (every row contributes one code per dim)
        Similarity.sqStatsStamp(spark, path, dim)
      })
    }
  }

  /** How a rotated build trains its pcarot rotation. */
  sealed trait Method
  /** The top-`outDim` PCA eigenbasis (the Faiss `PCAR{outDim}`). */
  final case class Pca(outDim: Int) extends Method
  /** OPQ_P: the full-rank eigenbasis reordered by eigenvalue
    * allocation (Faiss `OPQ{m}`, parametric).
    */
  case object OpqP extends Method
  /** OPQ_I: the Ge et al. alternating loop, `iters` rounds warm-started
    * from OPQ_P; `keepCodebooks` encodes with the loop's final-space
    * codebooks instead of retraining them.
    */
  final case class OpqI(iters: Int, keepCodebooks: Boolean = true) extends Method

  /** IVF-PQ behind a trained rotation from the raw `dim`: the rotation
    * by `method`, then the [[IvfPqSpec]] of the other fields over the
    * rotated vectors. The rotation is stamped as the pcarot sidecar
    * with its training-time variance capture (the baseline
    * [[Similarity.pcaCaptureAudit]] compares a fresh sample against);
    * `trainSample`/`trainFraction` bound the rotation's covariance and
    * any [[Trained]] quantizers alike.
    */
  final case class RotatedSpec(dim: Int, method: Method, lists: Int = 16, m: Int = 8,
                               codes: Int = 16, residual: Boolean = false,
                               quantizers: Quantizers = Salted, trainSample: Int = 0,
                               trainFraction: Double = 0.0) extends Spec {
    private val outDim = method match { case Pca(d) => d; case _ => dim }
    require(outDim % m == 0, s"outDim=$outDim must split into m=$m equal PQ subspaces")
    method match {
      case OpqI(_, _) =>
        require(quantizers.isInstanceOf[Trained],
          "OPQ_I alternates rotation WITH codebook training — it needs Trained quantizers")
        require(!residual,
          "OPQ_I minimizes the PLAIN PQ reconstruction of the rotated vectors; residual " +
            "encoding quantizes against coarse centroids the Procrustes step does not " +
            "model — use OpqP with residual = true")
      case _ =>
    }

    private[operators] def train(corpus: DataFrame, idCol: String, vecCol: String): Built = {
      // ONE covariance aggregate feeds every trainer and the capture
      // baseline (the alternating loop takes it rather than repeat the
      // aggregate and the eigensolve)
      val cov = Similarity.covarianceMatrix(corpus, dim, idCol, vecCol, trainSample,
        trainFraction)
      val (rot, loopCodebooks) = method match {
        case Pca(d) => (Similarity.jacobiEigen(cov)._2.take(d), None)
        case OpqP =>
          val (eigs, eigRows) = Similarity.jacobiEigen(cov)
          (Similarity.opqEigenAllocate(eigs, m).map(eigRows), None)
        case OpqI(iters, keep) =>
          Similarity.opqIterRotationFrom(corpus, cov, dim, m, codes, iters, idCol, vecCol,
            trainSample, trainFraction, keep)
      }
      val h = IvfPqSpec(rot.length, lists, m, codes, residual, quantizers, trainSample,
          trainFraction)
        .quantize(Similarity.pcaProject(corpus, rot, idCol, vecCol), idCol, vecCol,
          loopCodebooks)
      val methodKeys = method match {
        case Pca(_) => Nil
        case OpqP => Seq("method" -> "opq_p")
        case OpqI(iters, _) => Seq("method" -> "opq_i", "opq_iters" -> iters.toString)
      }
      Built(PcaIvfPq.codec(IvfPq.codec(h), rot), { (spark, path) =>
        IvfPq.stamp(h)(spark, path)
        graft.sources.ArtifactHeader.write(spark, path, "pcarot", Seq(
          "dim" -> dim.toString, "out_dim" -> rot.length.toString,
          "rotation" -> Similarity.encodeMatrix(rot),
          "capture_pm" -> Similarity.capturePm(rot, cov).toString) ++ methodKeys)
        spark.read.parquet(path).count()
      })
    }
  }

  /** A trained [[Spec]]: the codec its rows encode under, and the stamp
    * that writes its headers and returns the row count.
    */
  private[operators] final case class Built(codec: Codec, stamp: (SparkSession, String) => Long)

  /** The one builder ([[Similarity.annIndexWrite]]): writer entry (a
    * crashed swap at `path` is repaired first, so its pending
    * tombstones are back before they are counted), the tombstone
    * refusal before any training, the spec's training, the codec's
    * encode, the parquet overwrite, then the headers — last, after the
    * overwrite has cleared the directory, so a header can never
    * describe a half-written artifact — and the count.
    */
  def build(corpus: DataFrame, path: String, spec: Spec, idCol: String,
            vecCol: String): Long = {
    val spark = corpus.sparkSession
    // a build over an EXISTING artifact is a rebuild in disguise: the
    // overwrite clears every sidecar, so a LIVE tombstone set (a
    // pending rights-removal) would vanish while the caller's corpus
    // re-encodes the deleted rows — the resurrection the rebuild verbs
    // refuse. Same contract here: fold first.
    writerEntry(spark, path)(Similarity.requireNoTombstones(spark, path,
      "annIndexWrite (build over an existing artifact)"))
    val b = spec.train(corpus, idCol, vecCol)
    b.codec.encode(corpus, idCol, vecCol)
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
    b.stamp(spark, path)
  }

  /** Whether the artifact carries a pcarot rotation — its rows are
    * then PROJECTED vectors.
    */
  def hasRotation(spark: SparkSession, path: String): Boolean =
    graft.sources.ArtifactHeader.read(spark, path, "pcarot").isDefined

  /** The kind of the stamped ANN artifact at `path`, from its header
    * sidecars (each read at most once); None when no ivfpq/ivfsq
    * header is present. A damaged header refuses through its integrity
    * hash rather than reading as "not an artifact".
    */
  def kindOf(spark: SparkSession, path: String): Option[Kind] =
    if (graft.sources.ArtifactHeader.read(spark, path, "ivfsq").isDefined) Some(IvfSq)
    else if (Similarity.ivfPqReadHeader(spark, path).isEmpty) None
    else if (hasRotation(spark, path)) Some(PcaIvfPq)
    else Some(IvfPq)

  /** [[kindOf]], refusing an unstamped path by name — deleting ids
    * from, folding or forgetting through an arbitrary parquet path is
    * a scoping mistake.
    */
  def requireKind(spark: SparkSession, path: String, what: String): Kind =
    kindOf(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$what: no IVF-PQ header (ivfpq) or IVF-SQ8 header (ivfsq) at $path — not a " +
        "stamped ANN artifact, so " +
        "nothing verifies which quantizers built it. Write it with annIndexWrite " +
        "(which stamps one), or stamp a legacy IVF-PQ artifact with ivfPqWriteHeader"))

  /** The codec of the stamped artifact at `path`: [[requireKind]],
    * then that kind's [[Kind.open]].
    */
  def open(spark: SparkSession, path: String, what: String): Codec =
    requireKind(spark, path, what).open(spark, path, what)

  /** The one writer entry: repair a crashed rebuild/fold swap at
    * `path` (a no-op without crash evidence), THEN run the header
    * trust check `trust`. A missing path after a crashed swap is not a
    * missing artifact.
    */
  def writerEntry[T](spark: SparkSession, path: String)(trust: => T): T = {
    graft.sources.SwapRecovery.repair(spark, path)
    trust
  }

  /** One header generation of an artifact: `generation` is the
    * header's content hash (the append backstop token), `inputDim` the
    * dim of the raw vectors and queries the verbs accept, `encode`
    * maps raw `(frame, idCol, vecCol)` to stored rows, `project` maps
    * raw queries into the stored space (identity unless a rotation is
    * stored), `score` ranks `(scan, projected queries, k, nprobe,
    * idCol, vecCol)` over the artifact rows, and `afterAppend` updates
    * derived sidecars from the admitted rows (the SQ8 rail-count
    * stats).
    */
  final case class Codec(kind: Kind, generation: String, inputDim: Int,
                         encode: (DataFrame, String, String) => DataFrame,
                         score: (DataFrame, DataFrame, Int, Int, String, String) => DataFrame,
                         project: (DataFrame, String, String) => DataFrame = (q, _, _) => q,
                         afterAppend: DataFrame => Unit = _ => ())

  /** The header-driven append shared by every kind: writer entry +
    * [[open]], dim guard, tombstone admission check, then
    * content-addressed admission — encode only the rows of
    * `newVectors` whose id the artifact does not hold yet (re-sending a
    * batch is idempotent) and parquet-append them — then the post-write
    * generation backstop: the codec is re-opened AFTER the write and a
    * changed header hash refuses LOUDLY (a concurrent rebuild swapped
    * generations underneath, so the artifact now holds mixed codes).
    * The backstop runs BEFORE `afterAppend`, so a new generation's
    * freshly rebuilt sidecars are never overwritten with counts from
    * the doomed batch. Returns the number of admitted rows.
    */
  def appendAt(newVectors: DataFrame, indexPath: String, idCol: String,
               vecCol: String, what: String): Long = {
    val spark = newVectors.sparkSession
    val c = writerEntry(spark, indexPath)(open(spark, indexPath, what))
    Similarity.requireCorpusDim(newVectors, c.inputDim, indexPath, vecCol, what)
    Similarity.requireNoTombstoneHit(newVectors, spark, indexPath, idCol, what)
    val admitted = newVectors.join(spark.read.parquet(indexPath)
      .select(col(c.kind.idCol).as(idCol)), Seq(idCol), "left_anti")
    // materialize before writing: the anti-join reads indexPath, and
    // appending to a path mid-read is undefined
    val fresh = c.encode(admitted, idCol, vecCol).localCheckpoint()
    try {
      val n = fresh.count()
      if (n > 0)
        fresh.write.mode("append").option("compression", "zstd").parquet(indexPath)
      val after = open(spark, indexPath, what).generation
      if (after != c.generation)
        sys.error(s"$what: the artifact at $indexPath was re-stamped " +
          s"MID-APPEND (header ${c.generation} -> $after): a concurrent " +
          "rebuild swapped generations underneath this append, so the " +
          "artifact now holds mixed codes — serialize appends and rebuilds " +
          s"in one maintenance loop, and re-run $RebuildVerb to " +
          "re-encode and heal it")
      if (n > 0) c.afterAppend(fresh)
      n
    } finally graft.plans.CheckpointHygiene.free(fresh)
  }

  /** The verb named in rebuild refusals. */
  private val RebuildVerb = "annRebuildAt"

  /** What a kind's retrain contributes after its header check: the
    * dim the corpus must have, what it retrains (for the report), and
    * the retrain + write of the COMPLETE rewrite (rows, headers, owned
    * sidecars) at a tmp path, returning its row count.
    */
  final case class Retrain(corpusDim: Int, retrains: String, writeTo: String => Long)

  /** The rebuild skeleton shared by every kind: writer entry + the
    * kind's [[Kind.retrain]] for `signal` (its header check), tombstone
    * refusal, recall-query bounds, corpus dim check, retrain to
    * `.rebuild.tmp`, then verify BEFORE the swap — row count must
    * equal the corpus, no shrink without `allowShrink`, and with
    * `recallQueries` the two-tier recall gate (`recallAfter >=
    * minRecallRatio * recallBefore` AND `recallAfter >= minRecallAbs`,
    * strict when the stale recall is 0.0). Foreign sidecars are
    * carried and the two-rename swap installs the rewrite; any failed
    * check deletes the tmp and leaves the live artifact untouched.
    */
  def rebuild(corpus: DataFrame, indexPath: String, signal: Option[String],
              p: Similarity.RebuildPolicy): Similarity.RebuildReport = {
    val spark = corpus.sparkSession
    val (kind, plan) = writerEntry(spark, indexPath) {
      val kind = requireKind(spark, indexPath, RebuildVerb)
      (kind, kind.retrain(corpus, indexPath, p, signal))
    }
    Similarity.requireNoTombstones(spark, indexPath, RebuildVerb)
    // argument refusals BEFORE the expensive retrain: an
    // accidentally-empty query frame would make the recall gate a
    // trivial 0-vs-0 pass (or a null-avg crash) after hours of
    // training — a caller asking for a gate means to GET one. The
    // opposite extreme refuses too: the gate's ground truth is a
    // broadcast nested-loop over corpus x queries, so an oversized
    // query frame goes quadratic exactly like
    // [[Similarity.semanticContamination]]'s brute baseline — same
    // bound, same guidance (gate on a SAMPLE of queries).
    p.recallQueries.foreach { q =>
      val qRows =
        q.limit(math.min(p.maxRecallQueryRows, Int.MaxValue - 1L).toInt + 1).count()
      require(qRows > 0,
        s"$RebuildVerb: recallQueries is empty — the recall gate would verify " +
          "nothing; pass None to skip it deliberately")
      require(qRows <= p.maxRecallQueryRows,
        s"$RebuildVerb: recallQueries has >${p.maxRecallQueryRows} rows; the gate's " +
          "exact ground truth is a broadcast nested-loop over corpus x queries " +
          "(quadratic) — gate on a bounded query sample instead")
    }
    Similarity.requireCorpusDim(corpus, plan.corpusDim, indexPath, p.vecCol, RebuildVerb)
    val rowsBefore = spark.read.parquet(indexPath).count()

    val (fs, path) = Similarity.hadoopFs(spark, indexPath)
    val tmp = new Path(path.getParent, path.getName + ".rebuild.tmp")
    val old = new Path(path.getParent, path.getName + ".rebuild.old")
    fs.delete(tmp, true); fs.delete(old, true)
    val rowsAfter = plan.writeTo(tmp.toString)
    def refuse(msg: String): Nothing = {
      fs.delete(tmp, true)
      sys.error(s"$RebuildVerb: $msg")
    }

    val corpusRows = corpus.count()
    if (rowsAfter != corpusRows)
      refuse(s"re-encoded artifact has $rowsAfter rows, corpus has " +
        s"$corpusRows; artifact at $indexPath left untouched")
    // mis-scoped-corpus guard: a caller passing a stale/partial corpus
    // (e.g. a snapshot that predates appends) would rewrite a bigger
    // live artifact down to the small corpus with every other check
    // green — the artifact knows its own row count, so refuse a
    // shrinking rebuild unless the caller says it shrank on purpose
    // (a deletion-compaction rebuild passes allowShrink = true)
    if (rowsAfter < rowsBefore && !p.allowShrink)
      refuse(s"corpus has $rowsAfter rows but the live artifact at " +
        s"$indexPath has $rowsBefore — a rebuild from a partial corpus would DROP " +
        "vectors. Pass the full corpus (did appends land since this snapshot?), " +
        "or allowShrink = true if the shrink is deliberate; artifact left untouched")
    val (recallBefore, recallAfter) = p.recallQueries match {
      case None => (Double.NaN, Double.NaN)
      case Some(q) =>
        // ground truth computed ONCE and reused for both sides (it is
        // the gate's dominant cost — an O(|corpus| x |q|) scan)
        val exact = kind.truth(corpus, q, p.k, p.idCol, p.vecCol).localCheckpoint()
        def meanRecall(at: String): Double =
          Similarity.annRecall(exact,
              Similarity.annProbeAt(spark, at, q, p.k, p.nprobe, p.idCol, p.vecCol), p.k)
            .agg(avg(col("recall"))).collect()(0).getDouble(0)
        val before = meanRecall(indexPath)
        val after = meanRecall(tmp.toString)
        graft.plans.CheckpointHygiene.free(exact)
        if (after < p.minRecallRatio * before)
          refuse(f"retrained recall@${p.k} $after%.4f fell below " +
            f"${p.minRecallRatio} x stale recall $before%.4f; artifact at $indexPath " +
            "left untouched — inspect the training sample or iterations")
        // the relative gate is vacuous exactly in the scenario rebuilds
        // target: a fully-drifted stale index has recall ~0, and
        // ratio * ~0 passes ANY retrain including one that also
        // produces ~0 — so the absolute bar applies UNCONDITIONALLY
        // (not only at exactly 0.0: a one-lucky-query stale recall of
        // 0.02 would otherwise bypass a caller's explicit floor), and
        // at exactly-zero stale recall it is strict, so the default
        // floor of 0.0 still refuses a 0 -> 0 retrain
        if (after < p.minRecallAbs || (before == 0.0 && after <= p.minRecallAbs))
          refuse(f"retrained recall@${p.k} $after%.4f did not clear " +
            f"the absolute floor ${p.minRecallAbs}%.4f (stale recall $before%.4f" +
            (if (before == 0.0) " — the relative gate proves nothing" else "") +
            f"); artifact at $indexPath left untouched — the retrain did not " +
            "recover the drifted region")
        (before, after)
    }
    // foreign sidecars (a pcarot rotation, a stats file another layer
    // owns) survive the swap; the rebuild's own fresh headers win
    // (carrySidecars copies only names tmp lacks)
    Similarity.carrySidecars(fs, path, tmp, spark.sessionState.newHadoopConf())
    Similarity.artifactSwap(fs, path, tmp, old, RebuildVerb)
    Similarity.RebuildReport(rowsBefore, rowsAfter, recallBefore, recallAfter,
      plan.retrains)
  }
}
