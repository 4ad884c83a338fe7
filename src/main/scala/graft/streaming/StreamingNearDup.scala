package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming incremental near-dup: arriving documents probe the PRIOR
  * corpus's persisted LSH band index as a STREAM-STATIC join — the
  * streaming face of [[graft.operators.Dedup.nearDupAgainst]].
  *
  * Everything stateless rides the stream unchanged: shingling, the 12
  * XOR-mask minhash aggregate (per-document, inside the micro-batch)
  * and band derivation reuse the batch `bandKeys` algebra via the
  * shared mask/shingle functions; the join against the static index
  * needs NO streaming state at all (Spark broadcasts or re-reads the
  * static side per micro-batch), so there is no watermark to tune and
  * no state store to bound — the index is the state, maintained by the
  * batch pipeline that owns it.
  */
object StreamingNearDup {
  final case class DocRecord(doc_id: Long, text: String)

  /** Band keys for one arriving document batch — the same
    * minhash/band algebra as the batch index build, computed per
    * micro-batch (documents are independent, so a per-batch groupBy
    * on doc_id is safe in a streaming plan only via flatMap-per-row;
    * instead we compute the minima as a scalar fold over the shingle
    * array, which needs no aggregate at all).
    */
  def probeBands(docs: Dataset[DocRecord], shingleN: Int = 3,
                 bands: Int = 6, rows: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nHashes = bands * rows
    val masks = (0 until nHashes).map(Dedup.minhashMask)
    docs.flatMap { d =>
      val toks = Option(d.text).getOrElse("").toLowerCase
        .split(" +").filter(_.nonEmpty)
      if (toks.length < shingleN) Iterator.empty
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val mins = Array.fill(nHashes)(Long.MaxValue)
        var i = 0
        while (i + shingleN <= toks.length) {
          val s = toks.slice(i, i + shingleN).mkString(" ")
          val dig = md.digest(s.getBytes("UTF-8"))
          var h = 0L
          var b = 0
          // first 15 hex chars = high 60 bits, matching
          // CAST(conv(substr(md5(s),1,15),16,10) AS BIGINT)
          while (b < 8) {
            val v = dig(b) & 0xff
            h = if (b < 7) (h << 8) | v else (h << 4) | (v >> 4)
            b += 1
          }
          var k = 0
          while (k < nHashes) {
            val x = h ^ masks(k)
            if (x < mins(k)) mins(k) = x
            k += 1
          }
          i += 1
        }
        val md2 = java.security.MessageDigest.getInstance("MD5")
        (0 until bands).iterator.map { b =>
          val key = (0 until rows).map(r => mins(b * rows + r)).mkString("|")
          val hex = md2.digest(key.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (d.doc_id, hex)
        }
      }
    }.toDF("doc_id", "band_key")
  }

  /** Candidate (doc_new, doc_prior) pairs: arriving docs' bands
    * stream-static-joined against the prior index. A pair surfaces
    * once per colliding band (no streaming dedup state — keeping the
    * plan fully stateless); the downstream batch verifier collapses
    * multiplicity exactly as [[graft.operators.Dedup.nearDupAgainst]]
    * does with its candidate `distinct()` before the Jaccard check.
    *
    * NOTE: this composable-plan surface cannot cap the probe side (a
    * non-time window is illegal in a streaming plan), so a skewed
    * micro-batch loses the hot-bucket guard the batch operator has.
    * Production ingestion should use [[cappedCandidates]], which
    * applies the cap per micro-batch through foreachBatch.
    */
  def candidates(docs: Dataset[DocRecord], priorIndex: DataFrame,
                 shingleN: Int = 3, bands: Int = 6, rows: Int = 2): DataFrame =
    probeBands(docs, shingleN, bands, rows)
      .join(priorIndex.select(col("band_key"),
        col("doc_id").as("doc_prior")), "band_key")
      .select(col("doc_id").as("doc_new"), col("doc_prior"))

  /** [[candidates]] with the batch hot-bucket cap applied to the PROBE
    * side of every micro-batch. Spark rejects non-time windows inside
    * a streaming plan, so the cap runs through foreachBatch: each
    * completed micro-batch is plain batch data, where
    * [[graft.operators.Dedup.capBucket]] is legal — the query is still
    * stateless across batches (no state store, no watermark). The cap
    * is therefore PER MICRO-BATCH (each batch admits up to `bucketCap`
    * probe docs per band bucket) rather than global like the batch
    * operator's, but a skewed batch can no longer emit the quadratic
    * candidate blow-up the Dedup scale contract guards against. The
    * prior side arrives pre-capped (the persisted index is built
    * through capBucket).
    */
  def cappedCandidates(docs: Dataset[DocRecord], priorIndex: DataFrame,
                       sink: DataFrame => Unit,
                       shingleN: Int = 3, bands: Int = 6, rows: Int = 2,
                       bucketCap: Int = 128): org.apache.spark.sql.streaming.StreamingQuery =
    probeBands(docs, shingleN, bands, rows).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(Dedup.capBucket(batch, "band_key", "doc_id", bucketCap)
          .join(priorIndex.select(col("band_key"),
            col("doc_id").as("doc_prior")), "band_key")
          .select(col("doc_id").as("doc_new"), col("doc_prior")))
      }
      .start()

  /** Admit a batch of band rows `(doc_id, band_key)` into the persisted
    * index at `indexPath` under the per-bucket cap, APPEND-ONLY: per
    * bucket, if `n` rows are already indexed, the `bucketCap - n`
    * lowest-doc_id newcomers enter and the rest are sacrificed — the
    * same cap algebra as [[graft.operators.Dedup.capBucket]], applied
    * incrementally ([[admitToBucket]]). A row the bucket already holds
    * is no newcomer, so re-appending a batch (an at-least-once retry)
    * admits nothing twice. History is never rewritten, so the index
    * grows by one parquet append per batch regardless of its size. With
    * monotone-increasing doc ids (the normal ingest contract) the grown
    * index is exactly `capBucket(bandKeys(corpus so far))`.
    *
    * With `stampParams = Some((shingleN, bands, rows))` the index
    * carries a self-describing header ([[graft.sources.ArtifactHeader]],
    * the IVF-PQ trust convention): band keys are md5s of the
    * mask-permuted minhash tuples, so an index grown under one
    * (shingleN, bands, rows, bucketCap) setting and probed — or
    * appended — under another occupies a DIFFERENT key space and
    * silently surfaces ~no candidates; the header makes the mismatch
    * refuse loudly instead, and
    * [[graft.operators.Dedup.nearDupAgainstIndexAt]] probes with the
    * stored parameters so probe and build cannot drift.
    *
    * @return number of admitted rows
    */
  def appendToIndex(newBands: DataFrame, indexPath: String, bucketCap: Int = 128,
                    stampParams: Option[(Int, Int, Int)] = None): Long = {
    val spark = newBands.sparkSession
    stampParams.foreach { case (shingleN, bands, rows) =>
      graft.sources.ArtifactHeader.validateOrStamp(spark, indexPath, "bands",
        bandParams(shingleN, bands, rows, bucketCap))
    }
    // the deletion contract — the shared annAppendAt refusal,
    // with this family's own fold verb named
    graft.operators.Similarity.requireNoTombstoneHit(newBands, spark, indexPath,
      "doc_id", "appendToIndex", foldVerb = "neardupTombstoneFold")
    import spark.implicits._
    // a bucket's indexed ids, at most bucketCap by the cap rule
    val held = readIndex(spark, indexPath).groupBy("band_key")
      .agg(collect_list(col("doc_id").cast("long")).as("__held"))
    // the lowest bucketCap newcomers per bucket are all the rule can
    // admit, so the per-bucket lists stay bounded; materialize before
    // writing: `admitted` reads indexPath (via held), and appending to
    // a path mid-read is undefined
    val admitted = Dedup.capBucket(newBands, "band_key", "doc_id", bucketCap)
      .groupBy("band_key").agg(collect_list(col("doc_id").cast("long")).as("__new"))
      .join(held, Seq("band_key"), "left")
      .select(col("band_key"), col("__new"), coalesce(col("__held"), typedLit(Seq.empty[Long])))
      .as[(String, Seq[Long], Seq[Long])]
      .flatMap { case (key, fresh, indexed) =>
        admitToBucket(fresh, indexed, bucketCap).map(id => (id, key))
      }
      .select(col("_1").cast(newBands.schema("doc_id").dataType).as("doc_id"),
        col("_2").as("band_key"))
      .localCheckpoint()
    val n = admitted.count()
    // one file per micro-batch append (see
    // StreamingSubstringDedup.appendToIndex: O(batches x partitions)
    // part files tax every later index read)
    if (n > 0)
      admitted.coalesce(1).write.mode("append")
        .option("compression", "zstd").parquet(indexPath)
    graft.plans.CheckpointHygiene.free(admitted)
    n
  }

  /** The cap rule for one bucket, shared by both band appenders: of
    * the `newcomers` the bucket does not already hold (`indexed`, its
    * live rows' ids), the `bucketCap - indexed.size` lowest ids enter.
    */
  private[graft] def admitToBucket(newcomers: Seq[Long], indexed: Seq[Long],
                                   bucketCap: Int): Seq[Long] = {
    val present = indexed.toSet
    newcomers.distinct.filterNot(present).sorted
      .take(math.max(0, bucketCap - indexed.size))
  }

  /** [[appendToIndex]] for driver-held band rows `(doc_id, band_key)`
    * whose buckets' live ids the caller already read (`indexed(key)`,
    * empty for an unseen key): the same header stamp, tombstone refusal
    * and cap rule ([[admitToBucket]]), with the one append write as the
    * only job.
    *
    * @return number of admitted rows
    */
  private[graft] def appendRowsToIndex(spark: org.apache.spark.sql.SparkSession,
                                       newBands: Seq[(Long, String)],
                                       indexed: String => Seq[Long],
                                       indexPath: String, bucketCap: Int,
                                       shingleN: Int, bands: Int, rows: Int): Long = {
    graft.sources.ArtifactHeader.validateOrStamp(spark, indexPath, "bands",
      bandParams(shingleN, bands, rows, bucketCap))
    val tombs = graft.sources.Tombstones.read(spark, indexPath).toSet
    newBands.find(r => tombs.contains(r._1)).foreach(r =>
      graft.operators.Similarity.tombstoneHitRefusal(r._1, indexPath, "appendToIndex",
        "neardupTombstoneFold"))
    val admitted = newBands.groupBy(_._2).iterator.flatMap { case (key, rs) =>
      admitToBucket(rs.map(_._1), indexed(key), bucketCap).map(_ -> key)
    }.toSeq
    if (admitted.nonEmpty) {
      import spark.implicits._
      admitted.toDF("doc_id", "band_key").coalesce(1).write.mode("append")
        .option("compression", "zstd").parquet(indexPath)
    }
    admitted.size.toLong
  }

  /** Canonical header params for a band index. */
  def bandParams(shingleN: Int, bands: Int, rows: Int, bucketCap: Int): Seq[(String, String)] =
    Seq("shingle_n" -> shingleN.toString, "bands" -> bands.toString,
      "rows" -> rows.toString, "bucket_cap" -> bucketCap.toString)

  /** The LIVE rows of the persisted index: tombstoned doc_ids are
    * excluded AT THE READER, so every consumer — the per-batch probe
    * join in [[indexedIngest]] and the occupancy count in
    * [[appendToIndex]] — inherits the deletion contract ("a
    * tombstoned prior can never become a candidate") without each
    * call site remembering it. Occupancy consequence, deliberate: the
    * bucket cap admits against LIVE rows, so a bucket holding
    * tombstoned rows re-admits up to their count before the fold
    * (physical rows ≤ cap + live tombstones, live rows ≤ cap always)
    * — the same "grown index == capBucket(bands(surviving corpus))"
    * semantics the batch operator has over a post-fold corpus.
    */
  private def readIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame = {
    val idx =
      if (graft.sources.ArtifactFiles.hasDataFiles(spark, indexPath))
        spark.read.parquet(indexPath).select(col("doc_id"), col("band_key"))
      else {
        import spark.implicits._
        spark.emptyDataset[(Long, String)].toDF("doc_id", "band_key")
      }
    graft.operators.Similarity.tombstoneExclude(idx,
      graft.sources.Tombstones.read(spark, indexPath), "doc_id")
  }

  /** End-to-end incremental ingest: per micro-batch, (1) probe the
    * persisted band index for candidate pairs against ALL history —
    * prior corpus and every earlier batch — and hand them to `sink`,
    * then (2) grow the index with the batch's own bands via
    * [[appendToIndex]]. Closes the incremental near-dup loop the
    * batch pipeline starts with `Dedup.bandKeys`: the index artifact
    * is both the probe target and the state, no streaming state store
    * involved, and a crashed stream resumes from the index as written.
    *
    * Deletion contract on a LIVE stream: a micro-batch carrying a
    * tombstoned doc_id (a deleted document re-appearing in the ingest
    * feed — replayed history, an upstream retry) is NOT the batch
    * appenders' loud refusal, which here would kill the whole
    * streaming query and turn one bad row into unbounded ingest
    * downtime. Instead the tombstoned rows are dropped from the batch
    * before the probe AND the append (a deleted doc must neither
    * surface as doc_new nor re-enter the index), and the drop is
    * reported on stderr with the ids — the stream stays up, the
    * contract holds. Batch callers keep the refusal
    * ([[appendToIndex]] via requireNoTombstoneHit).
    */
  def indexedIngest(docs: Dataset[DocRecord], indexPath: String,
                    sink: DataFrame => Unit,
                    shingleN: Int = 3, bands: Int = 6, rows: Int = 2,
                    bucketCap: Int = 128): org.apache.spark.sql.streaming.StreamingQuery =
    probeBands(docs, shingleN, bands, rows).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val tombs = graft.sources.Tombstones.read(spark, indexPath)
        // exclusion BEFORE the cap: tombstoned replay rows must not
        // consume per-bucket cap slots (cap sacrifice is append-only-
        // permanent — dead rows winning the ORDER BY doc_id cut would
        // push live docs out of the index forever)
        val live = graft.operators.Similarity
          .tombstoneExclude(batch, tombs, "doc_id")
        val b = Dedup.capBucket(live, "band_key", "doc_id", bucketCap)
          .localCheckpoint() // feeds the probe join AND the index append
        if (tombs.nonEmpty) {
          val dropped = graft.operators.Similarity
            .tombstoneMatches(batch.select("doc_id").distinct(), tombs, "doc_id")
            .collect().map(_.getLong(0))
          if (dropped.nonEmpty)
            Console.err.println(s"[graft] indexedIngest batch $batchId at $indexPath: " +
              s"dropped ${dropped.length} tombstoned doc_id(s) " +
              s"(${dropped.take(8).mkString(",")}${if (dropped.length > 8) ",…" else ""}) — " +
              "deleted documents cannot re-enter the index or probe; fold first " +
              "(neardupTombstoneFold) if the ids should become appendable again")
        }
        val idx = readIndex(spark, indexPath)
        sink(b.join(idx.select(col("band_key"), col("doc_id").as("doc_prior")),
            "band_key")
          .select(col("doc_id").as("doc_new"), col("doc_prior")))
        appendToIndex(b, indexPath, bucketCap)
        graft.plans.CheckpointHygiene.free(b)
      }
      .start()
}
