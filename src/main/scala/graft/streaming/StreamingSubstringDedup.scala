package graft.streaming

import graft.operators.Curation
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming incremental substring-span dedup — the ExactSubstr face
  * of the index-probe streaming family ([[StreamingNearDup]] is the
  * MinHash face): arriving documents are deduplicated against the
  * persisted gram-hash index of everything ingested before them, and
  * the index grows APPEND-ONLY with each micro-batch's new grams.
  *
  * The whole computation runs through foreachBatch: substring dedup
  * needs a global first-occurrence aggregate over the batch's grams,
  * which is illegal inside an append-mode streaming plan — but each
  * completed micro-batch is plain batch data, where the full
  * [[Curation.substringDedupAgainstIndex]] algebra (keep-first
  * aggregate, islands window, positional anti-join) is legal
  * unchanged. No state store and no watermark: the index IS the
  * state, and it only ever gains rows (grams are content-addressed,
  * so admission is idempotent).
  *
  * Ordering contract: micro-batch boundaries define "prior". Two
  * duplicated spans arriving in the SAME micro-batch resolve by the
  * batch operator's (doc_id, pos) keep-first; across batches the
  * earlier batch always owns the gram — the same semantics a daily
  * incremental batch pipeline has, at micro-batch grain.
  */
object StreamingSubstringDedup {
  final case class DocRecord(doc_id: Long, text: String)

  /** Read the persisted gram index (one LONG column `h`); empty frame
    * when nothing has been ingested yet.
    */
  def readIndex(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    // existence through the path's own FileSystem (not java.io): the
    // index lives wherever the pipeline's storage is — on HDFS/S3 a
    // local check is always false and every batch would dedup against
    // an empty index. A header-stamped directory with no data files
    // yet (first batch admitted 0 rows) IS the empty index; a
    // directory WITH data files whose read fails propagates
    // (ArtifactFiles: the blanket AnalysisException catch used to
    // swallow genuine corruption as "empty").
    if (graft.sources.ArtifactFiles.hasDataFiles(spark, indexPath))
      spark.read.parquet(indexPath)
    else Seq.empty[Long].toDF("h")
  }

  /** [[readIndex]] VALIDATED against the artifact's stamped gram
    * length: a k-gram index consumed at a different k silently never
    * matches (every span check misses), so the mismatch refuses
    * loudly instead. A missing path is the empty index (bootstrap); a
    * present-but-headerless one refuses with guidance.
    */
  def indexFor(spark: SparkSession, indexPath: String, k: Int): DataFrame = {
    requireIndexK(spark, indexPath, k)
    readIndex(spark, indexPath)
  }

  /** [[indexFor]]'s refusal alone: a present plain index must carry
    * the gram length `k`; a missing path is the empty index.
    */
  private[graft] def requireIndexK(spark: SparkSession, indexPath: String, k: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) {
      val hdr = graft.sources.ArtifactHeader.required(spark, indexPath, "grams")
      require(hdr.get("k").contains(k.toString),
        s"gram index at $indexPath was built with k=${hdr.getOrElse("k", "?")}, " +
          s"probed with k=$k — k-gram hashes never match across k; rebuild or " +
          "pass the build-time k")
    }
  }

  /** Append a document batch's grams to the index, new hashes only —
    * history is never rewritten, one parquet append per batch.
    * Materialized (localCheckpoint) before the write: the anti-join
    * reads indexPath, and appending to a path mid-read is undefined.
    *
    * The artifact carries its gram length k as a header
    * ([[graft.sources.ArtifactHeader]]): an index of k-gram hashes
    * consumed at a different k simply never matches — appends at a
    * mismatched k refuse loudly, and [[indexFor]] is the validated
    * read path.
    *
    * @return number of admitted gram hashes
    */
  def appendToIndex(batch: DataFrame, textCol: String, idCol: String,
                    indexPath: String, k: Int = 8): Long = {
    val spark = batch.sparkSession
    graft.sources.ArtifactHeader.validateOrStamp(spark, indexPath, "grams",
      Seq("k" -> k.toString))
    // positionless gram face: per-doc-distinct hashes leave the UDF,
    // so the global distinct shuffles one row per (doc, gram) instead
    // of one per token position (guide §2.3)
    val fresh = Curation.gramHashSet(batch, textCol, idCol, k)
      .select("h").distinct()
      .join(readIndex(spark, indexPath), Seq("h"), "left_anti")
      .localCheckpoint()
    val n = fresh.count()
    // ONE file per micro-batch append: the default shuffle fan-out
    // would leave O(batches x partitions) tiny part files, and every
    // later read pays the listing — the small-files failure mode
    // object stores punish hardest (measured: 385 files after 12
    // micro-batches made the substring stage 2.6x slower per batch)
    if (n > 0) fresh.coalesce(1).write.mode("append").parquet(indexPath)
    graft.plans.CheckpointHygiene.free(fresh)
    n
  }

  /** [[appendToIndex]] for `fresh` gram hashes the caller already
    * found absent from the index: the same header stamp and one-file
    * append, with the write as the only job.
    */
  private[graft] def appendRows(spark: SparkSession, fresh: Seq[Long],
                                indexPath: String, k: Int): Long = {
    import spark.implicits._
    graft.sources.ArtifactHeader.validateOrStamp(spark, indexPath, "grams",
      Seq("k" -> k.toString))
    if (fresh.nonEmpty) fresh.toDF("h").coalesce(1).write.mode("append").parquet(indexPath)
    fresh.size.toLong
  }

  /** Rebuild the gram index FROM A SURVIVING CORPUS — the
    * rights-removal verb for this artifact. Grams are content-
    * addressed aggregate state (one hash may be owed to many
    * documents), so per-id tombstones are not well-defined here;
    * forgetting a document means re-deriving the index from the
    * corpus that no longer contains it — run AFTER the winner-store
    * fold has made that corpus clean
    * ([[graft.operators.Forget.forgetDocuments]] sequences this).
    *
    * Same posture as the ANN rebuild: derive on tmp, verify the row
    * accounting independently (re-read count == computed count),
    * carry the `grams` header and any foreign sidecars through, then
    * the two-rename atomic swap — a crash leaves the old generation
    * live. Returns (rowsBefore, rowsAfter) in distinct gram hashes.
    *
    * Scale: one shuffle (the gram distinct) over the surviving
    * corpus — the same cost as the initial build, amortized across
    * the forget batch; NOT a per-document cost.
    */
  def rebuildIndex(spark: SparkSession, indexPath: String,
                   surviving: DataFrame, textCol: String, idCol: String): (Long, Long) = {
    val live = graft.sources.ArtifactRewrite.open(spark, indexPath) // crashed prior swap
    val hdr = graft.sources.ArtifactHeader.required(spark, indexPath, "grams")
    val k = hdr("k").toInt
    val rowsBefore = live.rows
    val fresh = Curation.gramHashSet(surviving, textCol, idCol, k)
      .select("h").distinct().localCheckpoint()
    val expected = fresh.count()
    // no coalesce(1) here: unlike the per-batch append (tiny deltas
    // accumulating into a listing tax), a full rebuild writes the
    // whole index once — one file per shuffle partition is the right
    // layout at scale, and compactDue owns any later consolidation
    try graft.sources.ArtifactRewrite.rewrite(live, "gramrebuild", "gram rebuildIndex",
      Seq(graft.sources.ArtifactRewrite.Part("", fresh, expected)))()
    finally graft.plans.CheckpointHygiene.free(fresh)
    (rowsBefore, expected)
  }

  // ------------------------------------------------------------------
  // COUNTED gram index — the O(deleted-docs) rights-removal variant.
  //
  // The plain index stores distinct gram hashes, so removing one
  // document's contribution is undefined (a hash may be owed to many
  // docs) and forgetDocuments must REBUILD it from the surviving
  // corpus — O(corpus) per forget batch. The counted variant stores a
  // delta log of (h, delta, batch_id) OWNER COUNTS instead: ingest
  // appends +counts for each batch's per-doc-distinct grams, and a
  // removal appends -counts derived from the DELETED docs' own texts
  // (fetched from the winner store BEFORE its fold) — O(deleted docs'
  // text), independent of corpus size. A gram is live while its net
  // count is positive, so grams shared with surviving docs survive a
  // removal by construction and grams owned only by removed docs die.
  //
  // Delta-log conventions (the DeltaLogCompaction contract): rows are
  // batch_id-stamped so at-least-once retries dedupe at read
  // (dedupeRetries on (h, batch_id)); INGEST stamps are non-negative
  // micro-batch ids, REMOVAL stamps are negative (derived from the id
  // set), so a forget re-run is idempotent and can never collide with
  // an ingest batch. Probe cost grows with log length between folds —
  // compactCounted() nets the log under the usual maintenance window,
  // the CMS/HLL delta-log posture.
  //
  // DOC REGISTRY: counts are only sound if each document's ownership
  // enters EXACTLY once — an at-least-once upstream that re-delivers a
  // doc in a DIFFERENT micro-batch would double-count it, and a later
  // forget would then under-decrement (the forgotten doc's unique
  // grams stay live: a silent rights-removal failure the plain
  // content-addressed index is immune to). The artifact therefore
  // carries its own doc-ownership delta log at `<indexPath>/_docs`
  // (underscore path — invisible to the parquet read of the gram
  // rows): admission drops doc_ids already registered-live, and
  // removal (a) only decrements docs that ARE registered — so a store
  // superset of the gram corpus can never over-decrement — and (b)
  // unregisters them, making a legitimate post-fold re-ingest
  // admissible again.
  // ------------------------------------------------------------------

  /** Per-doc-distinct gram ownership deltas for a doc frame: one
    * (h, delta, batch_id) row per distinct gram, delta = signed count
    * of owning docs in this frame.
    */
  private def ownerDeltas(docs: DataFrame, textCol: String, idCol: String,
                          k: Int, sign: Int, stampId: Long): DataFrame =
    // per-doc-distinct grams come out of the UDF already deduped
    // (Curation.gramHashSet), so the owner count is ONE groupBy —
    // the old distinct-then-count shape paid a second full shuffle
    // of the (doc_id, h) pairs for a dedupe the document row can do
    // in-place (guide §2.3: aggregate before you shuffle)
    Curation.gramHashSet(docs, textCol, idCol, k)
      .groupBy("h").agg((count(lit(1)) * sign).as("delta"))
      .withColumn("batch_id", lit(stampId))

  private[graft] def docsRegistryPath(indexPath: String): String = s"$indexPath/_docs"

  /** Raw rows of a delta-log path ((first, delta, batch_id) shape),
    * empty frame when the path is missing or data-less — the shared
    * bootstrap read under both the gram log and its `_docs` registry.
    * The schema is fixed, so the read runs no inference job.
    */
  private def readDeltaRaw(spark: SparkSession, path: String,
                           firstCol: String): DataFrame = {
    import spark.implicits._
    if (graft.sources.ArtifactFiles.hasDataFiles(spark, path))
      spark.read.schema(s"$firstCol long, delta long, batch_id long").parquet(path)
    else Seq.empty[(Long, Long, Long)].toDF(firstCol, "delta", "batch_id")
  }

  /** Net a (key, delta, batch_id) delta log to per-key sums with the
    * read-side retry dedupe FUSED into one exchange: repartition by
    * the key, then both aggregates — max(delta) per (key, stamp)
    * collapses at-least-once retry copies, sum over stamps nets — run
    * partition-local, because HashPartitioning(key) satisfies the
    * clustered distribution of BOTH groupings (guide §2.4: two
    * operations keyed the same way share one exchange). The generic
    * dedupeRetries-then-groupBy read paid TWO exchanges (its
    * stamped/unstamped union discards the first aggregate's
    * partitioning). Sound here because this artifact's unstamped rows
    * (batch_id NULL) exist only as compactCounted's netted output —
    * exactly one per key — so grouping them as the NULL stamp and
    * max()-ing is the identity on them, the same treatment
    * dedupeRetries' pass-through branch gives.
    */
  private def nettedPerKey(raw: DataFrame, keyCol: String): DataFrame =
    raw.repartition(col(keyCol))
      .groupBy(col(keyCol), col("batch_id")).agg(max(col("delta")).as("delta"))
      .groupBy(keyCol).agg(sum(col("delta")).as("__net"))

  /** The registered-live doc ids of a counted index (one column
    * `doc_id`): retry-deduped registry rows netted positive.
    */
  private def registeredLive(spark: SparkSession, indexPath: String): DataFrame =
    nettedPerKey(readDeltaRaw(spark, docsRegistryPath(indexPath), "doc_id"),
        "doc_id")
      .filter(col("__net") > 0L).select("doc_id")

  /** Append a batch's gram ownership counts (+) to the counted index,
    * ADMISSION-FILTERED through the doc registry: doc_ids already
    * registered-live contribute nothing (first delivery wins — an
    * updated document is forget-then-re-ingest, not a second append).
    * `stampId` must be a non-negative id MONOTONE (strictly
    * increasing) across logical batches over the artifact's lifetime —
    * the streaming micro-batch id under ONE long-lived checkpoint; NO
    * default. Uniqueness alone is NOT enough: the maintenance fold
    * ([[compactCounted]]) erases per-batch stamps up to its watermark,
    * after which a fresh batch arriving UNDER the watermark is
    * indistinguishable from the folded crash-retry the watermark skip
    * exists for — so out-of-order fresh stamps REFUSE (a max-ingest
    * watermark rides in the `gramsc_ingest` header), and a checkpoint
    * reset against an existing counted index (micro-batch ids restart
    * at 0) is UNSUPPORTED: resume from the original checkpoint, or
    * start a fresh index. Retries of the same batch dedupe at read,
    * and the gram deltas land BEFORE the registry rows so a crash
    * between the two writes re-runs into the stamp dedupe, never a
    * double count; a stamp REUSE across different batches is detected
    * (the re-derived rows disagree with the rows already logged under
    * the stamp) and refuses loudly.
    * Returns distinct grams stamped for the admitted docs.
    */
  def appendToIndexCounted(batch: DataFrame, textCol: String, idCol: String,
                           indexPath: String, k: Int,
                           stampId: Long): Long = {
    val spark = batch.sparkSession
    countedWriterEntry(spark, indexPath, k, stampId)
    // checkpoint the admission DECISION (distinct ids), not the
    // admitted documents: the old full-frame checkpoint copied every
    // admitted text into block storage just to be read back once —
    // the ids are all the registry write and the admission gate need,
    // and the gram pass re-attaches them to the batch with one
    // broadcast semi-join (guide §8: decide on small rows, move the
    // heavy bytes once)
    val admittedIds = batch.select(col(idCol).cast("long").as("doc_id"))
      .distinct()
      .join(registeredLive(spark, indexPath), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val admitted = batch.join(
      admittedIds.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_semi")
    val deltas = ownerDeltas(admitted, textCol, idCol, k, 1, stampId)
      .localCheckpoint()
    // NOT materialized: every read of this slice happens BEFORE any
    // write to indexPath (the retry branch never writes), and on the
    // hot fresh-append path it is consulted exactly once — a
    // localCheckpoint here was one whole extra job per micro-batch
    val existing = readDeltaRaw(spark, indexPath, "h")
      .filter(col("batch_id") === stampId).select("h", "delta")
    try {
      val n = deltas.count()
      countedAppend(spark, indexPath, stampId)(
        hasDeltas = n > 0,
        // one batch_id-pushdown scan of the log slice, O(stamp's rows)
        isRetry = existing.limit(1).count() > 0L,
        sameAtStamp = {
          val fresh = deltas.select("h", "delta")
          existing.join(fresh, Seq("h", "delta"), "left_anti")
            .unionByName(fresh.join(existing, Seq("h", "delta"), "left_anti"))
            .limit(1).count() == 0L
        },
        allInLog = deltas.select("h")
          .join(readDeltaRaw(spark, indexPath, "h").select("h"), Seq("h"), "left_anti")
          .limit(1).count() == 0L,
        writeDeltas = () => deltas.coalesce(1).write.mode("append")
          .option("compression", "zstd").parquet(indexPath),
        // gated on the ADMITTED id count (a doc shorter than k still
        // registers, so n alone cannot gate it): one cheap count over
        // the checkpointed id frame, and the write streams straight
        // from it
        hasAdmitted = admittedIds.count() > 0,
        writeRegistry = () => admittedIds
          .withColumn("delta", lit(1L)).withColumn("batch_id", lit(stampId))
          .coalesce(1).write.mode("append")
          .option("compression", "zstd").parquet(docsRegistryPath(indexPath)))
      n
    } finally {
      // refusal paths above throw BEFORE the frees — release the
      // checkpointed blocks on every exit, not just success
      graft.plans.CheckpointHygiene.free(admittedIds, deltas)
    }
  }

  /** What both counted appenders check before they read anything: a
    * non-negative stamp, and the `gramsc` header at `k`.
    */
  private def countedWriterEntry(spark: SparkSession, indexPath: String, k: Int,
                                 stampId: Long): Unit = {
    require(stampId >= 0L,
      "appendToIndexCounted: ingest stamps are non-negative (negative ids are " +
        "reserved for removal deltas)")
    graft.sources.ArtifactHeader.validateOrStamp(spark, indexPath, "gramsc",
      Seq("k" -> k.toString))
  }

  /** The counted append's rules, shared by [[appendToIndexCounted]]
    * (executor plans) and [[appendCountedRows]] (driver-held rows):
    * each appender makes its reads and writes its own way, and this
    * decides which writes happen and which refusal fires. The reads:
    * `hasDeltas`, the admitted docs own a gram; `isRetry`, the log
    * already holds rows under `stampId`; `sameAtStamp`, those rows
    * equal the re-derived deltas; `allInLog`, every re-derived hash is
    * in the log under some stamp; `hasAdmitted`, some doc of the batch
    * is not yet registered live. The by-name reads run only on the
    * branch that needs them.
    */
  private def countedAppend(spark: SparkSession, indexPath: String, stampId: Long)(
      hasDeltas: Boolean, isRetry: => Boolean, sameAtStamp: => Boolean,
      allInLog: => Boolean, writeDeltas: () => Unit,
      hasAdmitted: => Boolean, writeRegistry: () => Unit): Unit = {
    if (hasDeltas) {
      // stamp-collision detector: rows already logged under this stamp
      // are legitimate ONLY for a crash-retry of this same batch, in
      // which case the re-derived rows are IDENTICAL — any symmetric
      // difference means two different batches share a stamp, and the
      // read-time retry collapse would silently lose owner counts.
      if (isRetry) {
        require(sameAtStamp,
          s"appendToIndexCounted: stamp $stampId already logged at $indexPath " +
            "with DIFFERENT gram rows — two batches are sharing one stamp, which " +
            "would silently collapse their owner counts at read. Pass a " +
            "per-batch-unique stamp (the checkpointed micro-batch id).")
        // identical rows present -> this IS the crash-retry; the grams
        // are already durable. Repair the max-ingest watermark the
        // crash may have lost (it lands after the gram write), then
        // fall through to (re-)write the registry half too.
        stampMaxIngest(spark, indexPath, stampId)
      } else {
        val folded = foldedThroughOf(spark, indexPath)
        val maxIngest = maxIngestOf(spark, indexPath)
        if (stampId <= folded) {
          // FOLDED crash-retry — or a stamp-contract violation.
          // compactCounted nets the ingest side to batch_id NULL
          // (per-batch stamps are erased) and records the max ingest
          // stamp it folded in the gramsc_fold watermark: under
          // MONOTONE stamps, a stamp at or below it with no surviving
          // rows can only be this batch's own folded write replayed.
          // A violating caller (checkpoint reset restarting ids at 0,
          // a second stream) would previously lose its batch's grams
          // SILENTLY here — demand the folded-retry's evidence: every
          // re-derived gram hash must already be in the log (the fold
          // preserves every netted ingest hash).
          require(allInLog,
            s"appendToIndexCounted: stamp $stampId is at or below the fold " +
              s"watermark ($folded) of $indexPath but the batch's grams are NOT " +
              "in the log — this is not the folded crash-retry the watermark " +
              "skip exists for; it is a NEW batch with an out-of-order stamp " +
              "(a checkpoint reset or a second stream writer). Ingest stamps " +
              "must be MONOTONE over the artifact's lifetime; checkpoint " +
              "resets against an existing counted index are unsupported — " +
              "resume the original checkpoint, or ingest under stamps above " +
              s"${math.max(folded, maxIngest)}.")
          // evidence holds: the grams are durable (folded to stampless
          // rows) — skip the gram write, still repair the registry
          // half below. (Residual: a violating batch whose grams ALL
          // pre-exist in the log passes this check and loses its owner
          // counts — unreachable under the documented monotone
          // contract, which the branch below enforces everywhere the
          // fold has not yet erased the distinguishing rows.)
        } else {
          require(stampId > maxIngest,
            s"appendToIndexCounted: stamp $stampId is at or below this index's " +
              s"max ingest stamp ($maxIngest) at $indexPath with no rows logged " +
              "under it — an out-of-order FRESH stamp. Ingest stamps must be " +
              "MONOTONE (the checkpointed micro-batch id of one long-lived " +
              "stream); after a maintenance fold an out-of-order stamp becomes " +
              "indistinguishable from a folded crash-retry and would silently " +
              "lose this batch's owner counts. Ingest under a stamp above " +
              s"$maxIngest.")
          writeDeltas()
          // watermark AFTER the gram write: a crash between the two
          // re-runs into the identical-rows retry path, which repairs
          // it — the reverse order would make the crashed first
          // attempt's retry refuse as "out of order"
          stampMaxIngest(spark, indexPath, stampId)
        }
      }
    }
    if (hasAdmitted) writeRegistry()
  }

  /** [[appendToIndexCounted]] for a driver-held batch, with its reads
    * already done by the caller's pushed-down scans: `docs` are the
    * batch's (doc_id, per-doc-distinct gram hashes); `registered` the
    * ids among them the `_docs` registry holds live; `atStamp` the
    * (h, delta) rows the log already holds under `stampId`; `inLog`
    * whether the log holds a hash of the batch under any stamp. Same
    * branches, same refusals, same write order; the gram and registry
    * appends are its only jobs.
    */
  private[graft] def appendCountedRows(spark: SparkSession, docs: Seq[(Long, Array[Long])],
                                       registered: Set[Long], atStamp: Seq[(Long, Long)],
                                       inLog: Long => Boolean, indexPath: String, k: Int,
                                       stampId: Long): Long = {
    import spark.implicits._
    countedWriterEntry(spark, indexPath, k, stampId)
    val admitted = docs.filterNot(d => registered.contains(d._1))
    val admittedIds = admitted.map(_._1).distinct
    val deltas = admitted.flatMap(_._2).groupBy(identity).iterator
      .map { case (h, owners) => (h, owners.size.toLong) }.toSeq
    countedAppend(spark, indexPath, stampId)(
      hasDeltas = deltas.nonEmpty,
      isRetry = atStamp.nonEmpty,
      sameAtStamp = deltas.toSet == atStamp.toSet,
      allInLog = deltas.forall(d => inLog(d._1)),
      writeDeltas = () => deltas.map { case (h, d) => (h, d, stampId) }
        .toDF("h", "delta", "batch_id").coalesce(1).write.mode("append")
        .option("compression", "zstd").parquet(indexPath),
      hasAdmitted = admittedIds.nonEmpty,
      writeRegistry = () => admittedIds.map(id => (id, 1L, stampId))
        .toDF("doc_id", "delta", "batch_id").coalesce(1).write.mode("append")
        .option("compression", "zstd").parquet(docsRegistryPath(indexPath)))
    deltas.size.toLong
  }

  /** Net (key, delta, batch_id) delta-log rows held on the driver the
    * way [[nettedPerKey]] nets them on the executors: max(delta) per
    * (key, stamp) collapses retry copies, the sum over stamps nets.
    */
  private[graft] def netRows(rows: Iterable[(Long, Long, Option[Long])]): Map[Long, Long] =
    rows.groupMapReduce(r => (r._1, r._3))(_._2)(math.max).toSeq
      .groupMapReduce(_._1._1)(_._2)(_ + _)

  /** The fold watermark: the highest ingest stamp whose rows a
    * [[compactCounted]] has netted into stampless (batch_id NULL)
    * rows; -1 when no fold ever ran. Appends consult it to recognize
    * a crash-retry whose original write was folded away.
    */
  private def foldedThroughOf(spark: SparkSession, indexPath: String): Long =
    graft.sources.ArtifactHeader.read(spark, indexPath, "gramsc_fold")
      .flatMap(_.get("folded_through")).map(_.toLong).getOrElse(-1L)

  /** The ingest watermark: the highest stamp any append has logged
    * grams under, carried in the `gramsc_ingest` header so the
    * MONOTONE stamp contract is enforceable even after a fold erases
    * the per-batch rows; -1 before the first append. Unlike the fold
    * watermark it advances on every append, not only at maintenance.
    */
  private def maxIngestOf(spark: SparkSession, indexPath: String): Long =
    graft.sources.ArtifactHeader.read(spark, indexPath, "gramsc_ingest")
      .flatMap(_.get("max_stamp")).map(_.toLong).getOrElse(-1L)

  /** Advance the ingest watermark (never backwards). Written AFTER
    * the stamp's gram rows land — a crash between the two replays
    * into the identical-rows retry path, which calls this again.
    */
  private def stampMaxIngest(spark: SparkSession, indexPath: String,
                             stampId: Long): Unit =
    if (stampId > maxIngestOf(spark, indexPath))
      graft.sources.ArtifactHeader.write(spark, indexPath, "gramsc_ingest",
        Seq("max_stamp" -> stampId.toString))

  /** The removal-request manifest log at `<indexPath>/_removals`:
    * (doc_id, batch_id=stamp) rows declaring which documents a
    * removal stamp intends to remove, written BEFORE the stamp's gram
    * deltas. Closes the one stamp-collision case the row-level
    * detectors cannot see: two byte-identical documents removed by
    * two UNFINISHED requests under one stamp re-derive IDENTICAL gram
    * rows (the deltas pass the symmetric-difference check) and would
    * max-collapse at read into a single decrement — with the intent
    * logged first, the second request's doc set disagrees with the
    * manifest at its very start and refuses before touching anything.
    */
  private def removalsPath(indexPath: String): String = s"$indexPath/_removals"

  /** The (doc_id, batch_id) manifest rows; empty when none were ever
    * declared. Fixed schema, no inference job.
    */
  private def readRemovals(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val path = removalsPath(indexPath)
    if (graft.sources.ArtifactFiles.hasDataFiles(spark, path))
      spark.read.schema("doc_id long, batch_id long").parquet(path)
    else Seq.empty[(Long, Long)].toDF("doc_id", "batch_id")
  }

  /** Remove gram ownership (-): the O(deleted-docs) forget step.
    * Restricted to docs that ARE registered-live — a caller handing a
    * SUPERSET of the gram corpus (e.g. a winner store whose gram index
    * only admitted post-curation survivors) cannot over-decrement
    * grams that were never counted — and the matched docs are
    * unregistered, so a legitimate post-fold re-ingest of the same id
    * is admissible again. `stampId` must be NEGATIVE and stable for
    * the removal request, so a re-run of the same forget is a
    * read-time no-op (gram deltas land before registry rows — the
    * crash-retry ordering of the append path). The request's doc-set
    * INTENT lands first (the `_removals` manifest), so two unfinished
    * requests sharing a stamp are distinguishable even when their
    * byte-identical texts re-derive identical gram rows. An EMPTY
    * `deletedDocs` is the completed-retry no-op: a retry of a
    * finished stamped forget runs after the winner-store fold, so the
    * caller's doc lookup matches nothing — with zero docs this call
    * decrements nothing and can collide with nothing, and the
    * stamp-sharing detectors (which compare the log's rows against
    * the caller's set) must not read every prior row as "different
    * documents". Returns distinct grams decremented.
    *
    * Priced by the deleted ids, not by the artifact: the caller's ids
    * are collected once and pushed down into the `_docs` registry scan
    * (their history plus this stamp's slice, one job), the stamp
    * probes of the manifest and the gram log skip their scans when the
    * footers' batch_id statistics rule the stamp out
    * ([[graft.sources.ArtifactFiles.mayHold]]), and the count returned
    * comes from the appended files' footers.
    */
  def decrementCounted(deletedDocs: DataFrame, textCol: String, idCol: String,
                       indexPath: String, stampId: Long): Long = {
    val spark = deletedDocs.sparkSession
    import spark.implicits._
    require(stampId < 0L,
      "decrementCounted: removal stamps are negative (non-negative ids are " +
        "the ingest batch space)")
    // a rights-removal must never run against the half-installed state
    // a crashed fold swap leaves behind (path missing, history at .old)
    graft.sources.SwapRecovery.repair(spark, indexPath)
    val hdr = graft.sources.ArtifactHeader.required(spark, indexPath, "gramsc")
    // the request's ids are driver-held from here on (8 bytes each, the
    // tombstone sidecar's posture): every read below is pushed down to
    // them or to the stamp, and every detector is a set operation on
    // the collected rows
    val callerIds = deletedDocs.filter(col(idCol).isNotNull).select(col(idCol).cast("long"))
      .collect().map(_.getLong(0)).distinct
    // the completed-retry no-op (see scaladoc)
    if (callerIds.isEmpty) return 0L
    val callerSet = callerIds.toSet
    // -- removal manifest: declare this request's doc set under its
    // stamp BEFORE any delta lands. A logged manifest that disagrees
    // with this call's set is a second request sharing the stamp —
    // refuse at the start, whatever state the first request died in.
    // An identical set is the crash-retry of THIS request — intent is
    // durable, proceed without re-declaring.
    val declared =
      if (!graft.sources.ArtifactFiles.mayHold(spark, removalsPath(indexPath), "batch_id", stampId))
        Set.empty[Long]
      else readRemovals(spark, indexPath).filter(col("batch_id") === stampId)
        .select("doc_id").as[Long].collect().toSet
    if (declared.isEmpty)
      callerIds.toSeq.toDF("doc_id").withColumn("batch_id", lit(stampId)).coalesce(1)
        .write.mode("append").option("compression", "zstd").parquet(removalsPath(indexPath))
    else require(declared == callerSet,
      s"decrementCounted: removal stamp $stampId already declared intent " +
        s"for DIFFERENT document(s) at $indexPath — two removal requests " +
        "are sharing one stamp; their gram deltas would collapse at read, " +
        "under-decrementing every shared gram. Pass a per-request-unique " +
        "stamp (forgetDocuments: removalStamp).")
    // ONE registry scan, pushed down to the caller's ids (their whole
    // history, netted below into registered-live) and to this stamp
    // (the unregister rows a prior removal under it logged)
    val reg = readDeltaRaw(spark, docsRegistryPath(indexPath), "doc_id")
    val regRows = graft.operators.Similarity.tombstoneMatches(reg, callerIds, "doc_id")
      .unionByName(reg.filter(col("batch_id") === stampId))
      .as[(Long, Long, Option[Long])].collect()
    val registered = netRows(regRows.toSeq).collect { case (id, n) if n > 0L && callerSet(id) => id }
      .toArray.sorted
    val atStamp = regRows.collect { case (id, _, Some(`stampId`)) => id }.toSet
    // completed-removal detector: registry rows land LAST in this
    // verb, so an unregister row already logged under THIS stamp means
    // a prior removal at this stamp ran to completion — and the doc
    // being registered-LIVE again means it was re-ingested since. This
    // call is then a SECOND removal whose gram/registry rows would
    // dedupe against the first's and silently no-op on the gram
    // surface alone (the Forget residual: a stampless store
    // re-ingesting byte-identical content re-derives the same content
    // stamp). Refuse loudly instead of relying on the caller having
    // read that comment. A crash-retry of an UNFINISHED removal never
    // trips this — its registry rows were not yet written.
    require(!registered.exists(atStamp),
      s"decrementCounted: removal stamp $stampId already COMPLETED a removal " +
        s"of document(s) that are registered-live again at $indexPath — the " +
        "doc was re-ingested since, and this second removal's rows would " +
        "dedupe against the first's into a silent no-op. Pass a FRESH stamp " +
        "(forgetDocuments: set removalStamp to the removal request's own id).")
    // stamp shared by a DIFFERENT removal: unregister rows logged
    // under this stamp name docs OUTSIDE this call's set. For every
    // gram the two removals share, their identical (h, -1, stamp)
    // rows max-collapse at read into ONE decrement — the gram nets
    // positive with zero live owners and keeps deduping future
    // ingest forever (a rights-removal leak). Refuse. Compared
    // against the caller's FULL deletedDocs set (not the
    // live-filtered one): a direct-API retry of a COMPLETED removal
    // hands the same docs — no longer live, still this request's
    // own — and must stay the documented no-op. (A retry through
    // forgetDocuments runs AFTER the winner-store fold and hands an
    // EMPTY set instead; that is the early-return no-op above, which
    // this check would otherwise misread as all-different docs.)
    require(atStamp.subsetOf(callerSet),
      s"decrementCounted: removal stamp $stampId already logged unregister " +
        s"rows for DIFFERENT document(s) at $indexPath — two removal requests " +
        "are sharing one stamp, and their gram deltas would collapse at read, " +
        "under-decrementing every shared gram. Pass a per-request-unique " +
        "stamp (forgetDocuments: removalStamp).")
    if (registered.isEmpty) return 0L
    val deltas = ownerDeltas(
      graft.operators.Similarity.tombstoneMatches(deletedDocs, registered, idCol),
      textCol, idCol, hdr("k").toInt, -1, stampId)
    // gram rows already at this stamp: IDENTICAL re-derived rows are
    // the crash-retry of THIS removal (registry rows land last) — the
    // decrement is durable, skip the duplicate write and repair the
    // registry half below. DIFFERENT rows are an UNFINISHED other
    // removal sharing the stamp — the same collapse leak as above,
    // caught on the gram surface because its registry rows never
    // landed. (Residual: two byte-identical docs removed by two
    // unfinished requests under one stamp produce identical gram rows
    // and pass this check; the registry doc-set check above catches it
    // as soon as either completes.)
    val existing = readDeltaRaw(spark, indexPath, "h")
      .filter(col("batch_id") === stampId).select("h", "delta")
    val n =
      if (!graft.sources.ArtifactFiles.mayHold(spark, indexPath, "batch_id", stampId) ||
          existing.isEmpty)
        graft.sources.ArtifactFiles.appendRows(deltas.coalesce(1), indexPath)
      else {
        val fresh = deltas.select("h", "delta")
        val collides = !existing.join(fresh, Seq("h", "delta"), "left_anti")
          .unionByName(fresh.join(existing, Seq("h", "delta"), "left_anti")).isEmpty
        require(!collides,
          s"decrementCounted: removal stamp $stampId already logged DIFFERENT " +
            s"gram rows at $indexPath — two removal requests are sharing one " +
            "stamp; their deltas would collapse at read, under-decrementing " +
            "every shared gram. Pass a per-request-unique stamp " +
            "(forgetDocuments: removalStamp).")
        fresh.count()
      }
    registered.toSeq.toDF("doc_id").withColumn("delta", lit(-1L))
      .withColumn("batch_id", lit(stampId)).coalesce(1).write.mode("append")
      .option("compression", "zstd").parquet(docsRegistryPath(indexPath))
    n
  }

  /** The LIVE gram set of a counted index: retry-deduped, net count
    * positive — the drop-in `priorIdx` frame for
    * [[graft.operators.Curation.substringDedupAgainstIndex]]. Empty
    * frame when nothing was ever ingested.
    */
  def countedLive(spark: SparkSession, indexPath: String): DataFrame =
    nettedPerKey(readDeltaRaw(spark, indexPath, "h"), "h").filter(col("__net") > 0L).select("h")

  /** [[countedLive]] validated against the stamped k (the
    * [[indexFor]] twin).
    */
  def countedLiveFor(spark: SparkSession, indexPath: String, k: Int): DataFrame = {
    requireCountedK(spark, indexPath, k)
    countedLive(spark, indexPath)
  }

  /** Refuse probing a present counted index at a k it was not built
    * with; a missing path is the empty index.
    */
  private[graft] def requireCountedK(spark: SparkSession, indexPath: String, k: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) {
      val hdr = graft.sources.ArtifactHeader.required(spark, indexPath, "gramsc")
      require(hdr.get("k").contains(k.toString),
        s"counted gram index at $indexPath was built with k=" +
          s"${hdr.getOrElse("k", "?")}, probed with k=$k — rebuild or pass " +
          "the build-time k")
    }
  }

  /** [[countedLiveFor]] as of before ingest stamp `stampId`: rows the
    * log already holds under that stamp — an at-least-once retry's own
    * first attempt — are left out, so a retried batch probes the
    * history its first attempt probed. (A retry whose first attempt a
    * fold has already netted into stampless rows cannot be told apart.)
    */
  private[graft] def countedLiveBefore(spark: SparkSession, indexPath: String, k: Int,
                                       stampId: Long): DataFrame = {
    requireCountedK(spark, indexPath, k)
    nettedPerKey(readDeltaRaw(spark, indexPath, "h")
        .filter(col("batch_id").isNull || col("batch_id") =!= stampId), "h")
      .filter(col("__net") > 0L).select("h")
  }

  /** Net the delta log's INGEST side (one (h, net, null) row per
    * gram) while preserving REMOVAL rows (negative stamps) verbatim —
    * the maintenance fold that keeps probe cost from growing with log
    * length. Removal rows must survive compaction: a crash-retry of
    * the same forget re-derives the same negative stamp and relies on
    * finding its (h, stamp) rows to dedupe into a no-op — netting
    * them away would turn the retry into a SECOND decrement and kill
    * grams that surviving docs still own. The cost is that a dead
    * gram keeps its one net row plus its removal rows (bounded by
    * removal volume, never by corpus size) instead of vanishing;
    * liveness is unchanged (net over everything > 0). The log, its
    * `_docs` registry (netted under the same rule) and its `_removals`
    * manifests (kept modulo retry dedupe) are one rewrite on the
    * [[graft.sources.ArtifactRewrite]] core: each part's expected rows
    * are counted from its computed frame, its written rows read from
    * the rewrite's footers before the swap. Returns (rowsBefore,
    * rowsAfter).
    */
  def compactCounted(spark: SparkSession, indexPath: String): (Long, Long) = {
    import graft.sources.ArtifactRewrite.Part
    val live = graft.sources.ArtifactRewrite.open(spark, indexPath) // crashed prior fold
    graft.sources.ArtifactHeader.required(spark, indexPath, "gramsc")
    // a header-stamped but data-less artifact is the legitimate state
    // after a zero-admission first batch (validateOrStamp runs before
    // the first data write) — nothing to fold; a data-BEARING artifact
    // whose read fails propagates instead of reading as "nothing to do"
    if (!live.hasData) return (0L, 0L)
    val before = live.rows
    // ingest rows net to one stampless row per key; `__mb`, the key's
    // max ingest stamp, rides along only to feed the fold watermark.
    // One exchange on the key serves the retry dedupe and the netting
    // (the [[nettedPerKey]] fusion, sound for the same reason: this
    // log's stampless rows are one per key)
    def netKeepRemovals(log: DataFrame, keyCol: String): DataFrame = {
      val deduped = log.repartition(col(keyCol))
        .groupBy(col(keyCol), col("batch_id")).agg(max(col("delta")).as("delta"))
      deduped.filter(col("batch_id").isNull || col("batch_id") >= 0L)
        .groupBy(keyCol).agg(sum(col("delta")).as("delta"), max(col("batch_id")).as("__mb"))
        .withColumn("batch_id", lit(null).cast("long"))
        .unionByName(deduped.filter(col("batch_id") < 0L)
          .select(col(keyCol), col("delta"), lit(null).cast("long").as("__mb"), col("batch_id")))
    }
    def folded(netted: DataFrame): DataFrame =
      netted.filter(col("delta") =!= 0L || col("batch_id").isNotNull).drop("__mb")
    val has = (path: String) => live.fs.exists(new org.apache.hadoop.fs.Path(path))
    val grams = netKeepRemovals(readDeltaRaw(spark, indexPath, "h"), "h").localCheckpoint()
    val reg = Option.when(has(docsRegistryPath(indexPath)))(netKeepRemovals(
      readDeltaRaw(spark, docsRegistryPath(indexPath), "doc_id"), "doc_id").localCheckpoint())
    // the removal-request manifests survive the fold VERBATIM modulo
    // retry dedupe — like the removal rows themselves, a crash-retry
    // of an unfinished forget relies on finding its declared intent
    val rem = Option.when(has(removalsPath(indexPath)))(
      readRemovals(spark, indexPath).distinct().localCheckpoint())
    try {
      // ONE job counts every part and reads the fold watermark: netting
      // erases per-batch ingest stamps (batch_id NULL), so a crash-retry
      // replayed AFTER this fold can no longer find its rows and would
      // double-append — record the max ingest stamp folded (monotone
      // across folds) so the append path recognizes the folded retry
      // (see appendToIndexCounted)
      def tagged(df: DataFrame, part: Int): DataFrame =
        df.select(lit(part).as("__part"), col("delta"), col("batch_id"), col("__mb"))
      val tally = (Seq(tagged(grams, 0)) ++ reg.map(tagged(_, 1)) ++ rem.map(r => tagged(
          r.select(lit(1L).as("delta"), col("batch_id"), lit(null).cast("long").as("__mb")), 2)))
        .reduce(_ unionByName _)
        .agg(max(when(col("__part") === 0, col("__mb"))), (0 to 2).map(i => count(when(
          col("__part") === i && (col("delta") =!= 0L || col("batch_id").isNotNull), lit(1)))): _*)
        .first()
      val foldedThrough = math.max(if (tally.isNullAt(0)) -1L else tally.getLong(0),
        foldedThroughOf(spark, indexPath))
      graft.sources.ArtifactRewrite.rewrite(live, "gramcfold", "compactCounted",
        // the log at its compaction layout, so the window's compaction
        // check that follows finds it within budget
        Seq(Part("", graft.sources.ArtifactCompaction.layout(folded(grams),
            graft.sources.ArtifactCompaction.autoTargetFiles(spark, indexPath), Nil),
          tally.getLong(1))) ++
          reg.map(r => Part("_docs", folded(r), tally.getLong(2))) ++
          rem.map(r => Part("_removals", r.coalesce(1), tally.getLong(3)))) { tmp =>
        // the watermark goes INTO the rewrite (overwriting the carried
        // older one) so the swap installs rows + watermark atomically —
        // a crash between swap and a post-swap stamp would leave a
        // folded log with a stale-low watermark, exactly the
        // double-append window the watermark closes
        if (foldedThrough >= 0L)
          graft.sources.ArtifactHeader.write(spark, tmp, "gramsc_fold",
            Seq("folded_through" -> foldedThrough.toString))
      }
      (before, tally.getLong(1))
    } finally graft.plans.CheckpointHygiene.free(Seq(Some(grams), reg, rem).flatten: _*)
  }

  /** [[dedupStream]] over a COUNTED index: per micro-batch, dedup
    * arriving docs against the live gram set, then admit the batch's
    * ownership counts STAMPED WITH THE MICRO-BATCH ID — exactly the
    * at-least-once retry seam the delta-log convention exists for (a
    * replayed batch re-appends identical (h, delta, batch_id) rows,
    * which [[countedLive]] collapses at read; the plain
    * [[dedupStream]] gets the same idempotence from content
    * addressing, the counted form gets it from the stamps). Removal
    * traffic composes live: a [[decrementCounted]] landing between
    * batches takes effect at the next batch's probe, no fold needed.
    * `checkpointDir` is REQUIRED (the StreamingCurationFull rule):
    * micro-batch ids are only restart-stable under one checkpoint,
    * and the MONOTONE stamp contract makes a checkpoint-less restart
    * (ids back at 0) refuse loudly at the first append.
    */
  def dedupStreamCounted(docs: Dataset[DocRecord], indexPath: String,
                         sink: DataFrame => Unit,
                         checkpointDir: Option[String],
                         k: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    require(checkpointDir.nonEmpty,
      "dedupStreamCounted: counted gram stamps ride the micro-batch id, " +
        "which is only restart-stable under a checkpoint — pass checkpointDir " +
        "(a checkpoint-less restart would replay ids from 0 into the monotone " +
        "refusal)")
    StreamingStarters.checkpointed(docs.toDF().writeStream
      .outputMode("append"), checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        graft.sources.ArtifactHeader.validateOrStamp(spark, indexPath, "gramsc",
          Seq("k" -> k.toString))
        // snapshot the live set once: the dedup and the admission
        // must see the same prior state
        val live = countedLive(spark, indexPath).localCheckpoint()
        sink(Curation.substringDedupAgainstIndex(live, batch, "text", "doc_id", k))
        appendToIndexCounted(batch, "text", "doc_id", indexPath, k,
          stampId = batchId)
        graft.plans.CheckpointHygiene.free(live)
      }
      .start()
  }

  /** Run the stream: per micro-batch, dedup arriving docs against the
    * index (and batch-internally), hand the deduped frame to `sink`,
    * then admit the batch's new grams. Index admission happens AFTER
    * the dedup of the same batch, so a batch never dedups against its
    * own grams twice.
    */
  def dedupStream(docs: Dataset[DocRecord], indexPath: String,
                  sink: DataFrame => Unit,
                  k: Int = 8): org.apache.spark.sql.streaming.StreamingQuery =
    docs.toDF().writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // snapshot the index once per batch: the dedup and the
        // admission anti-join must see the same prior set
        val idx = readIndex(spark, indexPath).localCheckpoint()
        sink(Curation.substringDedupAgainstIndex(idx, batch, "text", "doc_id", k))
        val fresh = Curation.gramHashSet(batch, "text", "doc_id", k)
          .select("h").distinct()
          .join(idx, Seq("h"), "left_anti")
          .localCheckpoint()
        if (fresh.count() > 0) fresh.write.mode("append").parquet(indexPath)
        graft.plans.CheckpointHygiene.free(idx, fresh)
      }
      .start()
}
