package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layer compaction for the append-only DELTA-LOG artifacts
  * the streaming maintainers write (MV partial aggregates, CMS counter
  * deltas, HLL register deltas): rewrite the log to ONE row per key by
  * applying the artifact's own merge algebra, atomically swapping the
  * directory contents. Readers are unchanged — they already re-merge
  * on read, and merging a compacted log is the identical computation
  * over fewer rows (the merge functions are associative, which is
  * exactly why the delta-log design is correct in the first place).
  *
  * Compaction is an OPTIONAL storage job: it bounds artifact size
  * after many micro-batches (n_batches * keys rows -> keys rows), it
  * never changes any answer, and at 100 TB it runs as a periodic
  * partitioned rewrite exactly like any table-maintenance OPTIMIZE.
  *
  * The swap goes through a sibling `.compact.tmp` directory + two
  * renames, so a concurrent reader sees either the old log or the new
  * one, never a half-written mix; a concurrent WRITER must be paused
  * (the streaming maintainers own the artifact — same single-writer
  * contract every table-maintenance job has).
  */
object DeltaLogCompaction {

  /** Exactly-once view of an at-least-once appended STAMPED delta
    * log. foreachBatch delivery is at-least-once: a retry after a
    * partial failure re-runs the same logical batch under the SAME
    * batchId and re-appends identical (batch_id, key, ...) rows —
    * which a sum-merge would silently double-count (max-merged logs
    * like HLL registers are immune; admission-gated artifacts like
    * the band/gram/IVF-PQ indexes anti-join history and are immune
    * too). One dropDuplicates over (batch_id, keys) restores
    * exactly-once — Spark's documented batchId-dedupe pattern, done
    * once at the read seam so every consumer (estimate, rewrite,
    * compaction) inherits it. Rows with no stamp (legacy logs, or
    * compacted rows, which are one-per-key by construction) pass
    * through untouched; a MIXED log written partly before stamping
    * only regains the retry guarantee after compaction.
    *
    * PRECONDITION: batch_id must uniquely identify a LOGICAL batch
    * over the log's lifetime, which holds exactly when the stamping
    * maintainer runs with a checkpointLocation (ids resume across
    * restarts — pass `checkpointDir` to the starters; see
    * [[graft.streaming.StreamingStarters]]). A checkpoint-less
    * maintainer restarted mid-log reuses ids for DIFFERENT batches,
    * and this dedupe would collapse them into an under-count.
    */
  def dedupeRetries(df: org.apache.spark.sql.DataFrame,
                    keys: Seq[String]): org.apache.spark.sql.DataFrame =
    if (!df.columns.contains("batch_id")) df
    else {
      // aggregate form, NOT dropDuplicates: this frame is also
      // injected into already-optimized plans (the MvRewrite rule),
      // where a Deduplicate node can no longer be lowered — max over
      // identical retry copies is the same dedupe as first-row, as a
      // plain Aggregate. Unstamped rows (legacy or compacted — one
      // per key by construction) bypass: distinct legacy batches may
      // legitimately share (null, key).
      val gk = "batch_id" +: keys
      val others = df.columns.filterNot(gk.contains)
      val stamped0 = df.filter(col("batch_id").isNotNull)
      val stamped =
        if (others.isEmpty)
          stamped0.groupBy(gk.map(col): _*)
            .agg(max(lit(1)).as("__one")).drop("__one")
        else
          stamped0.groupBy(gk.map(col): _*)
            .agg(max(col(others.head)).as(others.head),
              others.tail.map(c => max(col(c)).as(c)): _*)
      stamped.select(df.columns.map(col): _*)
        .unionByName(df.filter(col("batch_id").isNull))
    }

  /** The ingest watermark of a stamped delta log: the highest batch id
    * [[appendStamped]] has logged rows under; -1 before the first
    * stamped append (or on a legacy log written before the watermark
    * existed). Rides the `deltalog_ingest` header.
    */
  def maxIngestOf(spark: SparkSession, path: String): Long =
    ArtifactHeader.read(spark, path, "deltalog_ingest")
      .flatMap(_.get("max_stamp")).map(_.toLong).getOrElse(-1L)

  /** The fold watermark: the highest ingest stamp a [[compact]] has
    * netted into unstamped rows; -1 when no fold ever ran. Rides the
    * `deltalog_fold` header, written INTO the rewrite before the swap.
    */
  def foldedThroughOf(spark: SparkSession, path: String): Long =
    ArtifactHeader.read(spark, path, "deltalog_fold")
      .flatMap(_.get("folded_through")).map(_.toLong).getOrElse(-1L)

  private def stampMaxIngest(spark: SparkSession, path: String,
                             batchId: Long): Unit =
    if (batchId > maxIngestOf(spark, path))
      ArtifactHeader.write(spark, path, "deltalog_ingest",
        Seq("max_stamp" -> batchId.toString))

  /** Append one micro-batch's delta rows under its stamp with the full
    * crash/fold/reset discipline — the counted gram index's treatment
    * generalized to every SUM-MERGED delta log (CMS counters, loghist
    * buckets, MV partials; max-merged logs like HLL registers are
    * immune and keep the plain append). The seam this closes: a crash
    * AFTER the batch's write but BEFORE its checkpoint commit leaves a
    * committed write for an uncommitted batch; if a maintenance fold
    * runs before the restart, the fold nets the stamps away and the
    * replayed batch re-appends rows the read-side (batch_id, keys)
    * dedupe can no longer see — a silent double-count. Discipline
    * (stamps must be MONOTONE — the checkpointed micro-batch id):
    *
    *   - `batchId` <= fold watermark: the folded crash-retry. The
    *     crashed batch is by definition the LAST batch, so the folded
    *     max reaches it only through its own landed write — the rows
    *     are already netted in; SKIP. (A checkpoint reset in this
    *     region is indistinguishable on a summed sketch — no per-row
    *     evidence like the gram log's content hashes — which is
    *     exactly what the monotone refusal below makes
    *     unreachable-by-contract.)
    *   - `batchId` <= ingest watermark with rows at the stamp:
    *     identical rows are the pre-fold crash-retry (durable — skip;
    *     the read-side dedupe made the duplicate harmless anyway, the
    *     skip just keeps the log tight); DIFFERENT rows are two
    *     writers or a reset sharing a stamp — refuse loudly instead
    *     of the silent (batch_id, keys) max-collapse under-count.
    *   - `batchId` <= ingest watermark with NO rows: an out-of-order
    *     fresh stamp — refuse naming the contract.
    *   - else: the normal in-order append — ONE header read and, after
    *     the data write, one header write; no extra Spark job on the
    *     hot path (the slice read runs only in the suspicious region).
    *
    * Returns rows appended (0 on a recognized-retry skip).
    */
  def appendStamped(delta: org.apache.spark.sql.DataFrame, path: String,
                    batchId: Long): Long = {
    val spark = delta.sparkSession
    require(batchId >= 0L, "appendStamped: stamps are the non-negative " +
      "checkpointed micro-batch id")
    // a crashed fold swap leaves the path missing — without repair the
    // watermarks read -1 and this append would recreate the log EMPTY,
    // silently losing every prior batch's counters
    SwapRecovery.repair(spark, path)
    val d = delta.withColumn("batch_id", lit(batchId)).localCheckpoint()
    try {
      val n = d.count()
      if (n == 0) return 0L
      val folded = foldedThroughOf(spark, path)
      val maxIngest = math.max(maxIngestOf(spark, path), folded)
      if (batchId <= folded) 0L
      else if (batchId > maxIngest) {
        d.coalesce(1).write.mode("append").parquet(path)
        // watermark AFTER the data write: a crash between the two
        // replays into the identical-rows branch below, which repairs
        // nothing and skips — the reverse order would refuse the
        // crashed first attempt's retry as out-of-order
        stampMaxIngest(spark, path, batchId)
        n
      } else {
        val existing = spark.read.parquet(path)
          .filter(col("batch_id") === batchId)
          .select(d.columns.map(col): _*).localCheckpoint()
        try {
          require(existing.limit(1).count() > 0L,
            s"appendStamped: stamp $batchId is at or below this log's ingest " +
              s"watermark ($maxIngest) at $path with no rows logged under it — " +
              "an out-of-order FRESH stamp. Stamps must be MONOTONE (the " +
              "checkpointed micro-batch id of one long-lived stream); after a " +
              "fold an out-of-order stamp becomes indistinguishable from a " +
              "folded crash-retry and would silently drop this batch. " +
              s"Append under a stamp above $maxIngest.")
          // both directions of the symmetric difference probe in ONE
          // job (they were two sequential limit-1 counts)
          val collides = existing.exceptAll(d).select(lit(1).as("x"))
            .unionAll(d.exceptAll(existing).select(lit(1).as("x")))
            .limit(1).count() > 0L
          require(!collides,
            s"appendStamped: stamp $batchId already logged DIFFERENT rows at " +
              s"$path — two writers (or a checkpoint reset) are sharing one " +
              "stamp; the read-side retry dedupe would collapse them into a " +
              "silent under-count. Stamps must be per-batch-unique and " +
              "MONOTONE (the checkpointed micro-batch id).")
          // identical rows: the pre-fold crash-retry — durable, skip,
          // but repair the watermark the crash may have lost
          stampMaxIngest(spark, path, batchId)
          0L
        } finally graft.plans.CheckpointHygiene.free(existing)
      }
    } finally graft.plans.CheckpointHygiene.free(d)
  }

  /** Append a RETRACTION to a sum-merged delta log: `delta` holds the
    * partial rows of the REMOVED data (the same shape the ingest
    * writer appends — e.g. `MvRewrite.hourlyRollup` of just the
    * removed events), and the columns in `negate` are sign-flipped so
    * the log's ordinary sum-merge subtracts them. This is the
    * decrement-not-rebuild rights-removal strategy the counted gram
    * index uses, generalized to every sum-merged artifact: O(removed
    * rows), no rebuild, no stream pause — a reader summing the log
    * sees the corpus-minus-removals truth immediately.
    *
    * Stamps live in the NEGATIVE space (`removalStamp < 0`,
    * per-request-unique — the gramsc convention), disjoint from the
    * ingest watermarks. Retraction rows are NEVER netted away by
    * [[compact]] (they survive folds verbatim, deduped to one copy),
    * so a crash-retried retraction always finds its own rows and
    * skips — the replay-after-fold seam cannot exist for retractions
    * by construction, with no watermark needed. A different row set
    * under an already-used stamp refuses (two removal requests sharing
    * one stamp would collapse at read into an under-retraction).
    *
    * Caller's contract: retract only data that was actually ingested
    * (the algebra cannot check it — over-retraction drives counters
    * negative), and derive `delta` deterministically from the removed
    * data so the crash-retry re-derives identical rows.
    */
  def retractStamped(delta: org.apache.spark.sql.DataFrame, path: String,
                     removalStamp: Long, negate: Seq[String]): Long = {
    val spark = delta.sparkSession
    require(removalStamp < 0L, "retractStamped: removal stamps are negative " +
      "(the non-negative space belongs to ingest batch ids)")
    require(negate.nonEmpty, "retractStamped: name the measure column(s) to " +
      "sign-flip — a retraction that subtracts nothing is a bug, not a no-op")
    SwapRecovery.repair(spark, path)
    require(ArtifactFiles.hasDataFiles(spark, path),
      s"retractStamped: no data at $path — a retraction must target a log " +
        "that ingested the data being removed")
    // only the STAMPED delta-log form can take retractions: appending
    // a batch_id-bearing file next to unstamped (batch-built) files
    // makes the directory's schema ambiguous — parquet reads resolve
    // it from one arbitrary footer, so the retraction would randomly
    // vanish from (or crash) later reads. Compacted logs keep the
    // column (NULL-stamped rows), so routine folds never trip this.
    require(spark.read.parquet(path).columns.contains("batch_id"),
      s"retractStamped: $path is an UNSTAMPED (batch-built) artifact — " +
        "retraction needs the stamped delta-log form (an appendStamped " +
        "maintainer). Rebuild the artifact from the filtered base instead.")
    val neg = negate.foldLeft(delta)((d, c) => d.withColumn(c, -col(c)))
    val d = neg.withColumn("batch_id", lit(removalStamp)).localCheckpoint()
    try {
      val n = d.count()
      if (n == 0) return 0L
      val existing = spark.read.parquet(path)
        .filter(col("batch_id") === removalStamp)
        .select(d.columns.map(col): _*).localCheckpoint()
      try {
        if (existing.limit(1).count() > 0L) {
          val collides = existing.exceptAll(d).select(lit(1).as("x"))
            .unionAll(d.exceptAll(existing).select(lit(1).as("x")))
            .limit(1).count() > 0L
          require(!collides,
            s"retractStamped: stamp $removalStamp already logged a DIFFERENT " +
              s"row set at $path — two removal requests are sharing one " +
              "stamp; their rows would collapse at read into a silent " +
              "under-retraction. Use a per-request-unique removal stamp.")
          0L // the crash-retry: durable (folds preserve it), skip
        } else {
          d.coalesce(1).write.mode("append").parquet(path)
          n
        }
      } finally graft.plans.CheckpointHygiene.free(existing)
    } finally graft.plans.CheckpointHygiene.free(d)
  }

  /** Compact `path` to one row per `keys` row, merging every other
    * column with `merges` (e.g. `Map("c" -> sum, "r" -> max)`).
    * Retry-duplicated stamped rows are deduped BEFORE the merge; the
    * compacted rows carry a NULL `batch_id` (unstamped — they are
    * one-per-key by construction), never a real one: a real stamp
    * could collide with a later retry of a batch already folded in.
    * The single-writer pause this job already requires (scaladoc
    * above) is also what makes folding safe at all — a stopped stream
    * has no uncommitted batch left to retry. Returns (rowsBefore,
    * rowsAfter).
    */
  def compact(spark: SparkSession, path: String, keys: Seq[String],
              merges: Map[String, Column => Column]): (Long, Long) = {
    // the counted gram index is a delta log TOO, but NOT this one's
    // algebra: its removal rows (negative stamps) must survive
    // compaction verbatim (a crash-retried forget dedupes against
    // them — netting them away turns the retry into a second
    // decrement) and its `_docs` registry subdir would not survive
    // the swap. Its own fold is
    // [[graft.streaming.StreamingSubstringDedup.compactCounted]];
    // pointing the generic verb at it is always a mistake — refuse.
    SwapRecovery.repair(spark, path) // finish/undo a previously crashed fold first
    require(ArtifactHeader.read(spark, path, "gramsc").isEmpty,
      s"DeltaLogCompaction: $path is a COUNTED gram index (gramsc header) — " +
        "its removal stamps and _docs registry do not survive a generic " +
        "net-per-key rewrite; fold it with StreamingSubstringDedup.compactCounted")
    val df = spark.read.parquet(path)
    // ONE input scan answers both pre-fold questions (row count + the
    // fold watermark below) — they were two sequential jobs over the
    // same data
    val (before, foldedThrough) =
      if (!df.columns.contains("batch_id")) (df.count(), -1L)
      else {
        // the fold watermark: netting erases per-batch stamps, so a
        // crash-retry replayed AFTER this fold can no longer find its
        // rows and would re-append (the read-side dedupe can't see
        // it) — record the max ingest stamp folded so appendStamped
        // recognizes the folded retry (the gramsc_fold convention,
        // generalized)
        val row = df.agg(count(lit(1)),
          max(when(col("batch_id") >= 0L, col("batch_id")))).collect()(0)
        val m = if (row.isNullAt(1)) -1L else row.getLong(1)
        (row.getLong(0), math.max(m, foldedThroughOf(spark, path)))
      }
    val aggs = df.columns.filterNot(keys.contains).map { c =>
      if (c == "batch_id") max(lit(null).cast("long")).as(c)
      else merges.getOrElse(c,
        sys.error(s"DeltaLogCompaction: no merge function for column $c"))(col(c)).as(c)
    }
    // retraction rows (negative stamps — [[retractStamped]]) survive
    // the fold VERBATIM, deduped to one copy per stamp: netting them
    // into the unstamped rows would erase the retry identity a crashed
    // removal's re-run matches against, turning it into a second
    // subtraction (the gramsc removal-row rule, generalized). Ingest
    // rows net as before; a log with no retractions is unchanged.
    val hasStamps = df.columns.contains("batch_id")
    val ingest =
      if (!hasStamps) df
      else df.filter(col("batch_id").isNull || col("batch_id") >= 0L)
    val netted = dedupeRetries(ingest, keys)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(col): _*) // original column order
    val compacted =
      if (!hasStamps) netted
      else netted.unionByName(dedupeRetries(
        df.filter(col("batch_id").isNotNull && col("batch_id") < 0L), keys)
        .select(df.columns.map(col): _*))

    // swap through the path's own Hadoop FileSystem (java.io renames
    // only ever worked on the local disk — the artifact lives wherever
    // the pipeline's storage is)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(p.getParent, p.getName + ".compact.old")
    fs.delete(tmp, true); fs.delete(old, true)
    compacted.write.mode("overwrite").parquet(tmp.toString)
    // the rowsAfter accounting reads the WRITTEN files' footers (a
    // metadata-only count) instead of re-running the whole netting
    // aggregate a second time — the old count-then-write shape
    // computed `compacted` twice
    val after = spark.read.parquet(tmp.toString).count()
    // artifact header sidecars (`_graft_<kind>_header` — the CMS/HLL/
    // loghist/MV stamps, plus any foreign sidecar another layer owns)
    // ride inside the artifact directory and would be deleted with
    // `old` below; carry them into the rewrite like every other
    // rewrite path does (ArtifactCompaction.compactFiles, the ANN
    // rebuilds, compactCounted) — losing the header would make the
    // next estimateFrom fail loudly and let a drifted-config writer
    // silently re-stamp, defeating the drift refusal
    graft.operators.Similarity.carrySidecars(fs, p, tmp,
      spark.sessionState.newHadoopConf())
    // stamp the fold watermark INTO the rewrite (overwriting any
    // carried older one) so the swap installs rows + watermark
    // atomically — a crash between swap and a post-swap stamp is
    // exactly the double-append window the watermark closes
    if (foldedThrough >= 0L)
      ArtifactHeader.write(spark, tmp.toString, "deltalog_fold",
        Seq("folded_through" -> foldedThrough.toString))
    // rollback-capable swap (a failed swap-in restores the original);
    // a process CRASH inside it is repaired by SwapRecovery at the
    // next writer entry
    graft.operators.Similarity.artifactSwap(fs, p, tmp, old,
      "DeltaLogCompaction")
    (before, after)
  }

  /** The artifact shapes this repo's streaming maintainers write,
    * with their merge algebra.
    */
  def compactHourlyMv(spark: SparkSession, path: String): (Long, Long) =
    compact(spark, path, Seq("hour_bucket", "event_type"),
      Map("cnt" -> (sum(_)), "cents" -> (sum(_))))

  def compactCms(spark: SparkSession, path: String): (Long, Long) =
    compact(spark, path, Seq("row", "col"), Map("c" -> (sum(_))))

  def compactLogHist(spark: SparkSession, path: String): (Long, Long) =
    compact(spark, path, Seq("source", "bucket", "lo"), Map("c" -> (sum(_))))

}
