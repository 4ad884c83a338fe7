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
  *    write, post-write generation backstop.
  *  - [[rebuild]] is the verify, recall-gate, carry and swap skeleton.
  *    A verb supplies only its retrain + write-to-tmp ([[Retrain]]);
  *    the [[Kind]] supplies the recall ground truth, and the gate
  *    probes through [[Similarity.annProbeAt]].
  *
  * The builders (`*IndexWrite`), the rebuild and audit verbs stay per
  * encoding in [[Similarity]] (their parameter sets differ) and
  * delegate here.
  */
private[graft] object AnnLifecycle {

  /** One encoding of a persisted ANN artifact. `idCol` is the id
    * column of its stored rows; `rebuildVerb` names the verb that
    * retrains and re-encodes it.
    */
  sealed abstract class Kind(val idCol: String, val rebuildVerb: String) {
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
  }
  case object IvfPq extends Kind("vec_id", "ivfPqRebuild") {
    def open(spark: SparkSession, path: String, what: String): Codec = {
      val h = Similarity.ivfPqRequireHeader(spark, path, what)
      val (cents, cbs) = (Some(h.centroids), Some(h.codebooks))
      Codec(this, h.paramsHash, h.dim,
        encode = Similarity.ivfPqIndex(_, h.dim, h.lists, h.m, h.codes, _, _, cents, cbs,
          h.residual),
        score = (scan, q, k, nprobe, idCol, vecCol) =>
          Similarity.annIvfPqProbe(scan, q, k, h.dim, h.lists, nprobe, h.m, h.codes,
            idCol, vecCol, cents, cbs, h.residual))
    }
  }
  case object IvfSq extends Kind("neighbor_id", "ivfSqRebuild") {
    def open(spark: SparkSession, path: String, what: String): Codec = {
      val h = Similarity.sqRequireHeader(spark, path, what)
      Codec(this, h.paramsHash, h.dim,
        encode = Similarity.ivfSqIndex(_, h.dim, h.lists, _, _, Some(h.cents),
          Some((h.vmin, h.vmax))),
        score = Similarity.annIvfSqProbeFrame(_, _, _, _, h.cents, h.vmin, h.vmax, _, _),
        afterAppend = Similarity.sqStatsAccumulate(spark, path, _, h.dim))
    }
  }
  /** IVF-PQ over vectors projected through a stored pcarot rotation:
    * the IVF-PQ codec behind the rotation — raw vectors and queries
    * project first, the ivfpq header generation stays the token.
    */
  case object PcaIvfPq extends Kind("vec_id", "pcaIvfPqRebuild") {
    def open(spark: SparkSession, path: String, what: String): Codec = {
      val pq = IvfPq.open(spark, path, what)
      val rot = Similarity.pcaRotationAt(spark, path, what)
      require(rot.length == pq.inputDim,
        s"$what: the pcarot rotation at $path projects to ${rot.length} dims but " +
          s"the ivfpq header encodes dim=${pq.inputDim}")
      val project = Similarity.pcaProject(_: DataFrame, rot, _: String, _: String)
      pq.copy(kind = this, inputDim = rot.head.length, project = project,
        encode = (v, i, c) => pq.encode(project(v, i, c), i, c))
    }
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
      s"$what: no ivfpq/ivfsq header at $path — not a stamped ANN artifact, so " +
        "nothing verifies which quantizers built it. Write it with ivfPqIndexWrite, " +
        "ivfSqIndexWrite or pcaIvfPqIndexWrite (which stamp one), or stamp a " +
        "legacy IVF-PQ artifact with ivfPqWriteHeader"))

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

  /** Content-addressed admission: encode only the rows of `newVectors`
    * whose id the artifact does not hold yet (re-sending a batch is
    * idempotent), parquet-append them, then run `afterWrite` on the
    * admitted rows before they are freed. `exists = false` is the
    * bootstrap of a brand-new artifact (nothing to anti-join).
    * Returns the number of admitted rows.
    */
  def admit(newVectors: DataFrame, indexPath: String, idCol: String,
            storedIdCol: String, exists: Boolean = true)
           (encode: DataFrame => DataFrame)
           (afterWrite: (DataFrame, Long) => Unit): Long = {
    val admitted =
      if (!exists) newVectors
      else newVectors.join(newVectors.sparkSession.read.parquet(indexPath)
        .select(col(storedIdCol).as(idCol)), Seq(idCol), "left_anti")
    // materialize before writing: the anti-join reads indexPath, and
    // appending to a path mid-read is undefined
    val fresh = encode(admitted).localCheckpoint()
    try {
      val n = fresh.count()
      if (n > 0)
        fresh.write.mode("append").option("compression", "zstd").parquet(indexPath)
      afterWrite(fresh, n)
      n
    } finally graft.plans.CheckpointHygiene.free(fresh)
  }

  /** The header-driven append shared by every kind: writer entry +
    * [[open]], dim guard, tombstone admission check, [[admit]], then
    * the post-write generation backstop — the codec is re-opened AFTER
    * the write and a changed header hash refuses LOUDLY (a concurrent
    * rebuild swapped generations underneath, so the artifact now holds
    * mixed codes). The backstop runs BEFORE `afterAppend`, so a new
    * generation's freshly rebuilt sidecars are never overwritten with
    * counts from the doomed batch.
    */
  def appendAt(newVectors: DataFrame, indexPath: String, idCol: String,
               vecCol: String, what: String): Long = {
    val spark = newVectors.sparkSession
    val c = writerEntry(spark, indexPath)(open(spark, indexPath, what))
    Similarity.requireCorpusDim(newVectors, c.inputDim, indexPath, vecCol, what)
    Similarity.requireNoTombstoneHit(newVectors, spark, indexPath, idCol, what)
    admit(newVectors, indexPath, idCol, c.kind.idCol)(c.encode(_, idCol, vecCol)) {
      (fresh, n) =>
        val after = open(spark, indexPath, what).generation
        if (after != c.generation)
          sys.error(s"$what: the artifact at $indexPath was re-stamped " +
            s"MID-APPEND (header ${c.generation} -> $after): a concurrent " +
            "rebuild swapped generations underneath this append, so the " +
            "artifact now holds mixed codes — serialize appends and rebuilds " +
            s"in one maintenance loop, and re-run ${c.kind.rebuildVerb} to " +
            "re-encode and heal it")
        if (n > 0) c.afterAppend(fresh)
    }
  }

  /** What a rebuild verb contributes after its header check: the dim
    * the corpus must have, and the retrain + write of the COMPLETE
    * rewrite (rows, headers, owned sidecars) at a tmp path, returning
    * its row count.
    */
  final case class Retrain(corpusDim: Int, writeTo: String => Long)

  /** The rebuild skeleton shared by every kind: writer entry + `open`
    * (the verb's header check), tombstone refusal, recall-query
    * bounds, corpus dim check, retrain to `.rebuild.tmp`, then verify
    * BEFORE the swap — row count must equal the corpus, no shrink
    * without `allowShrink`, and with `recallQueries` the two-tier
    * recall gate (`recallAfter >= minRecallRatio * recallBefore` AND
    * `recallAfter >= minRecallAbs`, strict when the stale recall is
    * 0.0). Foreign sidecars are carried and the two-rename swap
    * installs the rewrite; any failed check deletes the tmp and leaves
    * the live artifact untouched.
    */
  def rebuild(corpus: DataFrame, indexPath: String, kind: Kind,
              recallQueries: Option[DataFrame], k: Int, nprobe: Int,
              minRecallRatio: Double, minRecallAbs: Double,
              maxRecallQueryRows: Long, allowShrink: Boolean,
              idCol: String, vecCol: String)
             (open: => Retrain): Similarity.RebuildReport = {
    val spark = corpus.sparkSession
    val verb = kind.rebuildVerb
    val plan = writerEntry(spark, indexPath)(open)
    Similarity.requireNoTombstones(spark, indexPath, verb)
    // argument refusals BEFORE the expensive retrain: an
    // accidentally-empty query frame would make the recall gate a
    // trivial 0-vs-0 pass (or a null-avg crash) after hours of
    // training — a caller asking for a gate means to GET one. The
    // opposite extreme refuses too: the gate's ground truth is a
    // broadcast nested-loop over corpus x queries, so an oversized
    // query frame goes quadratic exactly like
    // [[Similarity.semanticContamination]]'s brute baseline — same
    // bound, same guidance (gate on a SAMPLE of queries).
    recallQueries.foreach { q =>
      val qRows =
        q.limit(math.min(maxRecallQueryRows, Int.MaxValue - 1L).toInt + 1).count()
      require(qRows > 0,
        s"$verb: recallQueries is empty — the recall gate would verify " +
          "nothing; pass None to skip it deliberately")
      require(qRows <= maxRecallQueryRows,
        s"$verb: recallQueries has >$maxRecallQueryRows rows; the gate's " +
          "exact ground truth is a broadcast nested-loop over corpus x queries " +
          "(quadratic) — gate on a bounded query sample instead")
    }
    Similarity.requireCorpusDim(corpus, plan.corpusDim, indexPath, vecCol, verb)
    val rowsBefore = spark.read.parquet(indexPath).count()

    val (fs, p) = Similarity.hadoopFs(spark, indexPath)
    val tmp = new Path(p.getParent, p.getName + ".rebuild.tmp")
    val old = new Path(p.getParent, p.getName + ".rebuild.old")
    fs.delete(tmp, true); fs.delete(old, true)
    val rowsAfter = plan.writeTo(tmp.toString)
    def refuse(msg: String): Nothing = {
      fs.delete(tmp, true)
      sys.error(s"$verb: $msg")
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
    if (rowsAfter < rowsBefore && !allowShrink)
      refuse(s"corpus has $rowsAfter rows but the live artifact at " +
        s"$indexPath has $rowsBefore — a rebuild from a partial corpus would DROP " +
        "vectors. Pass the full corpus (did appends land since this snapshot?), " +
        "or allowShrink = true if the shrink is deliberate; artifact left untouched")
    val (recallBefore, recallAfter) = recallQueries match {
      case None => (Double.NaN, Double.NaN)
      case Some(q) =>
        // ground truth computed ONCE and reused for both sides (it is
        // the gate's dominant cost — an O(|corpus| x |q|) scan)
        val exact = kind.truth(corpus, q, k, idCol, vecCol).localCheckpoint()
        def meanRecall(path: String): Double =
          Similarity.annRecall(exact,
              Similarity.annProbeAt(spark, path, q, k, nprobe, idCol, vecCol), k)
            .agg(avg(col("recall"))).collect()(0).getDouble(0)
        val before = meanRecall(indexPath)
        val after = meanRecall(tmp.toString)
        graft.plans.CheckpointHygiene.free(exact)
        if (after < minRecallRatio * before)
          refuse(f"retrained recall@$k $after%.4f fell below " +
            f"$minRecallRatio x stale recall $before%.4f; artifact at $indexPath " +
            "left untouched — inspect the training sample or iterations")
        // the relative gate is vacuous exactly in the scenario rebuilds
        // target: a fully-drifted stale index has recall ~0, and
        // ratio * ~0 passes ANY retrain including one that also
        // produces ~0 — so the absolute bar applies UNCONDITIONALLY
        // (not only at exactly 0.0: a one-lucky-query stale recall of
        // 0.02 would otherwise bypass a caller's explicit floor), and
        // at exactly-zero stale recall it is strict, so the default
        // floor of 0.0 still refuses a 0 -> 0 retrain
        if (after < minRecallAbs || (before == 0.0 && after <= minRecallAbs))
          refuse(f"retrained recall@$k $after%.4f did not clear " +
            f"the absolute floor $minRecallAbs%.4f (stale recall $before%.4f" +
            (if (before == 0.0) " — the relative gate proves nothing" else "") +
            f"); artifact at $indexPath left untouched — the retrain did not " +
            "recover the drifted region")
        (before, after)
    }
    // foreign sidecars (a pcarot rotation, a stats file another layer
    // owns) survive the swap; the rebuild's own fresh headers win
    // (carrySidecars copies only names tmp lacks)
    Similarity.carrySidecars(fs, p, tmp, spark.sessionState.newHadoopConf())
    Similarity.artifactSwap(fs, p, tmp, old, verb)
    Similarity.RebuildReport(rowsBefore, rowsAfter, recallBefore, recallAfter)
  }
}
