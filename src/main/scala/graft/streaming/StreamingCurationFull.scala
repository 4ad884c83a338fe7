package graft.streaming

import graft.GraftSession.timed
import graft.operators.{Curation, Dedup, Similarity}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The WHOLE streaming curation chain as one reusable foreachBatch
  * pipeline — the production form of the composition
  * StreamingCurationFullSpec pins against `q_curation_full2`:
  *
  *   gate + keyed exact dedup  (in-plan state, watermark-bounded)
  *   -> near-dup vs history    (persisted LSH band index — see below)
  *   -> n-gram decontam        (broadcast benchmark grams)
  *   -> semantic decontam      (driver-built bench LSH index)
  *   -> substring-span dedup   (persisted gram index)
  *
  * State posture: every cross-batch stage consumes a PERSISTED
  * artifact, never re-derives history, and each micro-batch runs in
  * one of two regimes that write the same rows. A batch whose winners
  * fit a driver-memory bound ([[DriverBound]]: a heap fraction for
  * their texts, and rows to match, checked before the texts reach the
  * driver) is collected ONCE and its five stages run on the driver
  * through the same kernels and append rules the executor plans use;
  * history stays in Spark scans pushed down to the batch (its band
  * keys, candidate ids, embeddings, gram hashes and registry ids) and
  * appends stay one write each, so a small batch costs a bounded
  * number of jobs, not one per stage and count. A batch past the
  * bound runs as executor plans, scaled for 100 TB. The near-dup stage
  * probes the `(doc_id, band_key)` index grown append-only by
  * [[StreamingNearDup.appendToIndex]] ([[Dedup.nearDupAgainstIndex]]),
  * so per-batch cost is (batch shingling) + (band join against the
  * index) + (Jaccard verify over colliding docs only) — NOT a
  * re-shingle of every prior winner, which would make batch B cost
  * O(B) and the whole ingest O(B^2). Winner texts are touched only
  * for candidate ids: a broadcast semi-join, so history is never
  * shuffled — the residual per-batch cost is one columnar (id, text)
  * scan of the winner store; at extreme history sizes back that store
  * with a bucketed table so the fetch prunes. The gram index and the
  * winner store grow by one parquet append per batch;
  * [[graft.sources.ArtifactCompaction.compactFiles]] is the periodic
  * layout job that keeps their file counts bounded.
  *
  * Reference analog: the append-only event log + derived state
  * (crates/esvc-core/src/workcache.rs:60-108) — arriving data probes
  * derived artifacts and extends them, never replays history.
  */
object StreamingCurationFull {

  /** Everything a batch reports: survivors and drop counts per stage,
    * per-stage wall seconds, and the size of each persisted history
    * artifact AFTER the batch — the state-maintenance story a soak
    * reads for latency flatness and artifact growth.
    */
  final case class BatchMetrics(batch: Long, nWinners: Long, nCrossDrop: Long,
                                nWithinDrop: Long, nGramDrop: Long, nSemDrop: Long,
                                nSurvivors: Long, stageSec: Seq[(String, Double)],
                                winnersRows: Long, bandIdxRows: Long, gramIdxRows: Long)

  /** Append-file count targeting ~`targetBytes` of payload per file:
    * still 1 for small batches (the measured small-files listing tax
    * stays fixed), but a genuinely large micro-batch no longer
    * funnels its whole text volume through a single writer task (the
    * r12 watch item: winner-store appends carry full document texts).
    * Capped so a corrupt estimate cannot explode the file count.
    */
  private[graft] def fileCount(estBytes: Long, targetBytes: Long): Int =
    math.min(4096L, math.max(1L, (estBytes + targetBytes - 1) / targetBytes)).toInt

  /** Winner-store TOUCH measurement for the text-tiering decision:
    * of all the text bytes the winner store carries, how many does
    * batch `batchId`'s near-dup verify actually FETCH? The probe path
    * reads prior texts only for ids whose band keys collide with the
    * batch ([[graft.operators.Dedup.nearDupAgainstIndexAt]]'s
    * semi-join), so the touched fraction is the store's effective hot
    * set — if it stays small as history grows, the texts belong in a
    * COLD artifact fetched by id (bucketed so the fetch prunes) while
    * the hot path keeps only (doc_id, band_key).
    *
    * Derivation mirrors the production probe off the SAME persisted
    * artifacts (band params from the index's own header, retry-deduped
    * store, per-bucket cap), with the batch's own ids excluded the way
    * the pre-admit probe never sees them — including the candidate-id
    * pushdown: the touched fetch collects the (bounded) collision ids
    * and pushes them as a scan predicate, so the MEASUREMENT costs
    * what the production fetch costs, O(batch + candidates), not a
    * full-store text scan per call. The prior-store TOTAL is the one
    * inherently O(history) aggregate: pass `priorStoreBytes` (the
    * caller's running accumulation of [[batchTextBytes]] increments —
    * what the soak probe does, keeping an N-batch soak linear) to skip
    * it; `None` computes it exactly (the audited form, and the spec
    * pins accumulated == scanned). Measurement-only: nothing in the
    * chain calls this; the soak probe does, per batch.
    */
  def touchedTextBytes(spark: org.apache.spark.sql.SparkSession,
                       winnersPath: String, bandIdxPath: String,
                       batchId: Long,
                       priorStoreBytes: Option[Long] = None): (Long, Long, Long) = {
    val store = graft.sources.DeltaLogCompaction.dedupeRetries(
      spark.read.parquet(winnersPath), Seq("doc_id"))
    val hdr = graft.sources.ArtifactHeader.required(spark, bandIdxPath, "bands")
    val batchDocs = store.filter(col("batch_id") === batchId)
      .select(col("doc_id"), col("text").as("__text"))
    val batchBands = Dedup.capBucket(
      Dedup.bandKeys(batchDocs, hdr("shingle_n").toInt,
        hdr("bands").toInt, hdr("rows").toInt),
      "band_key", "doc_id", hdr("bucket_cap").toInt)
    val candPrior = spark.read.parquet(bandIdxPath)
      .join(batchBands.select("band_key").distinct(), Seq("band_key"), "left_semi")
      .select("doc_id").distinct()
      .join(batchDocs.select("doc_id"), Seq("doc_id"), "left_anti")
    val priorStore = store.filter(col("batch_id") < batchId)
    def bytes(df: DataFrame): Long = df
      .agg(coalesce(sum(octet_length(col("text")).cast("long")), lit(0L)))
      .collect()(0).getLong(0)
    // same pushdown-or-semi-join policy as the production fetch
    // (Dedup.verifyAgainst): candidate ids are bounded by the batch's
    // band keys x bucket_cap, so the collect is small by construction
    val candIds = candPrior.limit(Dedup.PriorIdPushdownMax + 1).collect().map(_.get(0))
    val touched =
      if (candIds.length <= Dedup.PriorIdPushdownMax)
        priorStore.filter(col("doc_id").isin(candIds: _*))
      else priorStore.join(candPrior, Seq("doc_id"), "left_semi")
    (priorStoreBytes.getOrElse(bytes(priorStore)), bytes(touched),
      touched.select("doc_id").distinct().count())
  }

  /** One batch's admitted text bytes in the winner store — the
    * O(batch) increment a caller accumulates into the running
    * prior-store total for [[touchedTextBytes]] (the `batch_id`
    * equality predicate reaches the parquet scan, and appends are
    * per-batch files, so row-group stats prune the rest of history).
    */
  def batchTextBytes(spark: org.apache.spark.sql.SparkSession,
                     winnersPath: String, batchId: Long): Long =
    graft.sources.DeltaLogCompaction.dedupeRetries(
        spark.read.parquet(winnersPath).filter(col("batch_id") === batchId),
        Seq("doc_id"))
      .agg(coalesce(sum(octet_length(col("text")).cast("long")), lit(0L)))
      .collect()(0).getLong(0)

  /** The small-batch regime's bound, as driver memory: a micro-batch
    * runs on the driver when its winners fit in `rows` rows and
    * `textBytes` bytes of text. Both are checked as the rows stream
    * out of one partition, before they reach the driver
    * ([[holdOnDriver]]).
    */
  private[graft] final case class DriverBound(rows: Int, textBytes: Long)

  private[graft] object DriverBound {
    /** 1/1024 of the driver heap for the winners' texts, and one row per
      * KiB of that budget. The driver stages' working set (held rows,
      * tokens, shingle sets, gram arrays, spans) measured 26-30x the
      * batch's text bytes at its stage-5 peak (SizeEstimator, on the
      * stream-curation benchmark's batches of 13-33 winners of ~400 B
      * each, 4-core VM), so a batch at the bound peaks near 3% of the
      * heap. The multiplier is unverified for long documents and large
      * batches; the row bound also covers what a row costs beyond its
      * text, such as its embedding.
      */
    def ofHeap(): DriverBound = {
      val bytes = Runtime.getRuntime.maxMemory / 1024
      DriverBound(math.min(bytes / 1024, Int.MaxValue - 1L).toInt, bytes)
    }
  }

  /** Start the five-stage chain over `stream`. `docTexts` is the
    * stream-static (doc_id, text) lookup (texts re-attach after the
    * keyed dedup state, which carries only hashes); `emb` the static
    * (vec_id, embedding) side for the semantic stage. Survivors land
    * append-only under `$stateDir/survivors`; the three history
    * artifacts live under `$stateDir/{winners,bands,grams}`.
    *
    * `countedGrams` routes the substring stage through the COUNTED
    * gram index ([[StreamingSubstringDedup.appendToIndexCounted]] /
    * `countedLiveFor`) instead of the plain content-addressed one:
    * identical dedup semantics on clean data (the live set equals the
    * plain index's hash set while nothing was removed — spec-held),
    * but rights-removal becomes an O(deleted-docs)
    * [[StreamingSubstringDedup.decrementCounted]] that takes effect
    * at the NEXT batch's probe with no rebuild and no stream pause —
    * the 100 TB forget path for the chain's one rebuild-priced
    * artifact. Admission stamps ride the micro-batch id, so the flag
    * REQUIRES `checkpointDir` (a checkpoint-less restart would reuse
    * ids for different batches — the stamp-collision refusal would
    * halt the chain loudly rather than corrupt, but a production
    * chain should never be startable into that state). The artifact
    * kinds differ (`gramsc` vs `grams`), so flipping the flag over an
    * existing stateDir refuses at the header seam instead of probing
    * a foreign index shape.
    *
    * `countedGrams = true` is the RECOMMENDED configuration for NEW
    * chains: identical clean-data semantics are spec-held, the
    * 500k-doc deletion soak measured +3% chain wall for a close-out
    * forget of 9.3 s -> 3.2 s with zero gram-rebuild work, and the
    * restart seam is proven end-to-end (CurationRestartProbe: a
    * mid-soak stop + checkpoint resume keeps stamps monotone across
    * generations, costs at most one relearn fold, and closes out with
    * the live gram set exactly equal to the surviving-corpus
    * derivation). With it, an at-least-once retry of a batch id leaves
    * the band index and the gram log row-identical to a single run, and
    * the batch_id-stamped logs (winners, survivors, spans) re-appended,
    * which their readers dedupe by stamp. A plain-index retry leaves the
    * same rows, but writes no spans when its stamp already has some
    * (its probe would find its first attempt's grams). The plain index
    * remains for LEGACY stateDirs whose gram artifact predates stamps —
    * their removal path is the rebuild-from-surviving-corpus verb. The
    * default stays `false` only so existing deployments never flip
    * artifact kind on upgrade (the header refusal above is the
    * migration guard).
    */
  def start(stream: Dataset[StreamingCuration.DocRecord],
            docTexts: DataFrame, emb: DataFrame,
            benchGrams: Broadcast[Set[String]],
            benchIdx: StreamingSemDecontaminate.BenchIndex,
            stateDir: String,
            minMarkers: Int = 3, minWords: Int = 30, maxStopRatio: Double = 0.3,
            shingleN: Int = 3, bands: Int = 6, rows: Int = 2,
            threshold: Double = 0.4, bucketCap: Int = 128,
            gramN: Int = 3, minOverlap: Int = 3,
            semThreshold: Double = 0.3, substrK: Int = 8,
            onBatch: BatchMetrics => Unit = _ => (),
            checkpointDir: Option[String] = None,
            targetAppendBytes: Long = 64L << 20,
            countedGrams: Boolean = false): StreamingQuery = {
    require(!countedGrams || checkpointDir.nonEmpty,
      "StreamingCurationFull: countedGrams stamps gram ownership with the " +
        "micro-batch id, which is only restart-stable under a checkpoint — " +
        "pass checkpointDir")
    val chain = new Chain(docTexts, emb, benchGrams, benchIdx, stateDir,
      shingleN, bands, rows, threshold, bucketCap, gramN, minOverlap,
      semThreshold, substrK, onBatch, targetAppendBytes, countedGrams)
    val curated = StreamingCuration.curate(stream, minMarkers, minWords, maxStopRatio)
    // checkpointDir is a REQUIREMENT of the batch_id stamps below in
    // any deployment that can restart — see StreamingStarters
    StreamingStarters.checkpointed(
      curated.writeStream.outputMode("append"), checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) => chain.runBatch(batch, batchId))
      .start()
  }

  /** The chain's per-micro-batch body over (doc_id, content_hash)
    * winners of the in-plan gate + keyed exact dedup; [[start]] wires
    * it into foreachBatch. `bound` picks the regime per batch.
    */
  private[graft] final class Chain(
      docTexts: DataFrame, emb: DataFrame,
      benchGrams: Broadcast[Set[String]],
      benchIdx: StreamingSemDecontaminate.BenchIndex,
      stateDir: String,
      shingleN: Int, bands: Int, rows: Int, threshold: Double, bucketCap: Int,
      gramN: Int, minOverlap: Int, semThreshold: Double, substrK: Int,
      onBatch: BatchMetrics => Unit, targetAppendBytes: Long, countedGrams: Boolean,
      bound: DriverBound = DriverBound.ofHeap()) {
    private val winnersPath = s"$stateDir/winners"
    private val bandIdxPath = s"$stateDir/bands"
    private val gramIdxPath = s"$stateDir/grams"
    private val survivorsPath = s"$stateDir/survivors"
    private val spansPath = s"$stateDir/substr_spans"

    private[graft] def runBatch(batch: DataFrame, batchId: Long): Unit = {
      val spark = batch.sparkSession
      // -- stage 1 landed in-plan (gate + keyed exact dedup);
      // re-attach texts to this batch's winners
      val winners = batch.select("doc_id", "content_hash")
        .join(docTexts.select("doc_id", "text"), "doc_id")
      // the bounded collect doubles as the data check: watermark
      // eviction fires extra NO-DATA micro-batches, and only data
      // batches run the chain
      val (held, tHold) = timed(holdOnDriver(winners, bound))
      if (!held.exists(_.isEmpty)) {
        // a maintenance swap (layout compaction, gram fold) that
        // crashed mid-rename leaves its artifact path missing; the
        // raw mode("append") writes below would recreate it EMPTY —
        // repair before this batch touches any chain artifact
        // (no-op without crash evidence; the band/gram appends also
        // repair via their own header bootstrap)
        Seq(winnersPath, survivorsPath, spansPath, bandIdxPath, gramIdxPath)
          .foreach(graft.sources.SwapRecovery.repair(spark, _))
        held match {
          case Some(docs) => runOnDriver(spark, docs, batchId, tHold)
          // The whole distributed body is a checkpoint-hygiene scope:
          // every localCheckpoint created in it — INCLUDING ones inside
          // called operators the chain holds no handle to — is freed at
          // batch end, so sustained ingest carries zero dead blocks
          // between batches.
          case None => graft.plans.CheckpointHygiene.scoped(spark) {
            runDistributed(spark, winners, batchId)
          }
        }
      }
    }

    /** The executor regime: each stage a Spark plan over checkpointed
      * frames, for batches past the driver bound.
      */
    private def runDistributed(spark: SparkSession, winnersIn: DataFrame,
                               batchId: Long): Unit = {
      import spark.implicits._
      val (winners, tWin) = timed(winnersIn.localCheckpoint())
      val nWinners = winners.count()

      // -- stage 2: near-dup — cross-batch via the PERSISTED band
      // index, within-batch via the self-join; history texts are
      // read only for colliding candidate ids
      val ((crossDrop, withinDrop, ndSurv), tNd) = timed {
        // retry-dedupe seam: winner rows are batch_id-stamped, so
        // an at-least-once re-append of a batch cannot duplicate
        // the prior corpus this (and every later) batch probes
        val priorTexts = graft.sources.DeltaLogCompaction.dedupeRetries(
            readOr(spark, winnersPath, Seq.empty[(Long, String)].toDF("doc_id", "text")),
            Seq("doc_id"))
          .select("doc_id", "text")
        // trusted probe: shingle/band/row/cap come FROM the
        // index's own header (stamped by the admit below), so a
        // restarted chain with drifted config refuses instead of
        // silently probing a foreign key space. A doc of this batch
        // is never its prior: a retried batch finds its own first
        // attempt's bands in the index.
        val cross = Dedup.nearDupAgainstIndexAt(spark, priorTexts, winners,
            bandIdxPath, "text", "doc_id", threshold)
          .join(winners.select(col("doc_id").as("doc_prior")), Seq("doc_prior"), "left_anti")
          .select(col("doc_new").as("doc_id")).distinct().localCheckpoint()
        val within = Dedup.nearDupPairs(winners, "text", "doc_id",
            shingleN, bands, rows, threshold, bucketCap)
          .select(col("doc_b").as("doc_id")).distinct().localCheckpoint()
        val surv = winners
          .join(cross.unionByName(within).distinct(), Seq("doc_id"), "left_anti")
          .localCheckpoint()
        (cross, within, surv)
      }
      val nCross = crossDrop.count(); val nWithin = withinDrop.count()

      // admit the batch's winners into history AFTER probing:
      // texts into the winner store, capped bands into the index
      val (_, tAdmit) = timed {
        // the winner store carries full TEXTS, so its append is sized
        // to the batch's measured text bytes (one aggregate over the
        // already-checkpointed winners)
        val winBytes = winners
          .agg(coalesce(sum(octet_length(col("text")).cast("long")), lit(0L)))
          .collect()(0).getLong(0)
        appendWinners(winners.select("doc_id", "text"), winBytes, batchId)
        StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(winners.select(col("doc_id"), col("text").as("__text")),
              shingleN, bands, rows),
            "band_key", "doc_id", bucketCap),
          bandIdxPath, bucketCap, stampParams = Some((shingleN, bands, rows)))
      }

      // -- stage 3: n-gram decontamination (broadcast grams)
      val (clean1, tGram) = timed {
        val verdicts = StreamingDecontaminate.verdicts(
          ndSurv.select(col("doc_id"), col("text"))
            .as[StreamingDecontaminate.DocRecord],
          benchGrams, n = gramN, minOverlap = minOverlap)
        ndSurv.join(verdicts.filter(col("keep")).select("doc_id"), "doc_id")
          .localCheckpoint()
      }
      val nGramDrop = ndSurv.count() - clean1.count()

      // -- stage 4: semantic decontamination (driver bench index)
      val ((flagged, fin), tSem) = timed {
        val fl = StreamingSemDecontaminate.flags(
          emb.join(clean1.select(col("doc_id").as("vec_id")), "vec_id")
            .select(col("vec_id"), col("embedding"))
            .as[StreamingSemDecontaminate.VecRecord],
          benchIdx, threshold = semThreshold)
          .select(col("vec_id").as("doc_id")).distinct().localCheckpoint()
        (fl, clean1.join(fl, Seq("doc_id"), "left_anti").localCheckpoint())
      }
      val nSem = flagged.count(); val nSurv = fin.count()

      // -- stage 5: substring-span dedup vs the persisted gram
      // index; survivors' grams admitted after
      val (_, tSub) = timed {
        if (!plainRetry(spark, batchId)) {
          // the index is consumed straight off parquet — a
          // localCheckpoint here would copy the WHOLE (growing)
          // index into executor memory every batch, turning an O(1)
          // stage into O(history); the span write happens before
          // the append, so the join never reads a path being
          // appended to. The counted probe leaves out rows already
          // logged under this batch's stamp (a retry's first attempt).
          val gIdx =
            if (countedGrams)
              StreamingSubstringDedup.countedLiveBefore(spark, gramIdxPath, substrK, batchId)
            else StreamingSubstringDedup.indexFor(spark, gramIdxPath, substrK)
          // the span frame carries kept_text (near-full document
          // text per survivor), so it is sized by its own bytes, off
          // a checkpoint the scoped sweep frees
          val spans = Curation.substringDedupAgainstIndex(
              gIdx, fin, "text", "doc_id", k = substrK)
            .withColumn("batch_id", lit(batchId))
            .localCheckpoint()
          val spanBytes = spans
            .agg(coalesce(
              sum(octet_length(col("kept_text")).cast("long") + lit(64L)),
              lit(0L)))
            .collect()(0).getLong(0)
          appendSpans(spans, spanBytes)
        }
        if (countedGrams)
          // ownership stamped with the (checkpoint-stable)
          // micro-batch id — the at-least-once retry seam; a
          // decrementCounted landing between batches already took
          // effect in this batch's probe above
          StreamingSubstringDedup.appendToIndexCounted(
            fin.select("doc_id", "text"), "text", "doc_id", gramIdxPath,
            k = substrK, stampId = batchId)
        else StreamingSubstringDedup.appendToIndex(
          fin.select("doc_id", "text"), "text", "doc_id", gramIdxPath, k = substrK)
      }
      appendSurvivors(fin.select("doc_id", "content_hash"), nSurv, batchId)
      report(spark, batchId, nWinners, nCross, nWithin, nGramDrop, nSem, nSurv,
        Seq(tWin, tNd, tAdmit, tGram, tSem, tSub))
    }

    /** The driver regime: the five stages over the held rows, calling
      * the kernels the executor plans call ([[Dedup.DriverKernels]],
      * [[StreamingDecontaminate.verdictOf]],
      * [[StreamingSemDecontaminate.flagOf]],
      * [[Curation.gramHashArray]]), so both regimes write the same
      * rows. History stays in Spark scans pushed down to this batch —
      * band keys, candidate ids, gram hashes, registry ids — and every
      * count and byte size comes from the held rows.
      */
    private def runOnDriver(spark: SparkSession, docs: Array[HeldDoc], batchId: Long,
                            tWin: Double): Unit = {
      import spark.implicits._
      val kernels = new Dedup.DriverKernels(spark)
      val toks = docs.map(d => d.id -> kernels.tokensOf(d.text)).toMap
      val batchIds = docs.map(_.id).toSet
      def cappedBands(n: Int, b: Int, r: Int, cap: Int): Seq[(Long, String)] =
        docs.toSeq.flatMap(d => kernels.bandKeysOf(toks(d.id), n, b, r).map(d.id -> _))
          .groupBy(_._2).valuesIterator.flatMap(_.sortBy(_._1).take(cap)).toSeq
      val shingleSets = scala.collection.mutable.Map.empty[(Long, Int), ArrayData]
      def shingleSet(id: Long, n: Int): ArrayData =
        shingleSets.getOrElseUpdate((id, n), kernels.shingleSet(toks(id), n))

      // -- stage 2: near-dup
      val ((crossDrop, withinDrop, ownBands, indexedIds), tNd) = timed {
        val own = cappedBands(shingleN, bands, rows, bucketCap)
        // the probe runs under the index's own header parameters
        val hdr = if (!exists(spark, bandIdxPath)) None
          else Some(graft.sources.ArtifactHeader.required(spark, bandIdxPath, "bands"))
        val probe = hdr.map { h =>
          val (n, b, r, cap) = (h("shingle_n").toInt, h("bands").toInt, h("rows").toInt,
            h("bucket_cap").toInt)
          (if ((n, b, r, cap) == (shingleN, bands, rows, bucketCap)) own
           else cappedBands(n, b, r, cap), n)
        }
        // ONE band-index scan, pushed down to this batch's keys, serves
        // the probe and the admit's bucket contents; tombstoned rows
        // leave it, as they leave every index read
        val tombs = graft.sources.Tombstones.read(spark, bandIdxPath).toSet
        val keys = (own.iterator ++ probe.iterator.flatMap(_._1)).map(_._2).toSet
        val indexed = scanMatching(spark, bandIdxPath, BandSchema, keys)(
            (r, ks) => ks.contains(r.getString(1)))
          .map(r => (r.getLong(0), r.getString(1))).filterNot(r => tombs.contains(r._1))
        val byKey = indexed.groupBy(_._2)
        val cross = probe.fold(Set.empty[Long]) { case (probeBands, n) =>
          val pairs = probeBands.iterator.flatMap { case (newId, key) =>
            byKey.getOrElse(key, Array.empty[(Long, String)]).iterator
              .collect { case (prior, _) if prior != newId && !batchIds.contains(prior) =>
                (prior, newId) }
          }.toSet
          val priorSets = priorTexts(spark, pairs.map(_._1))
            .map { case (id, ts) => id -> ts.map(t => kernels.shingleSet(kernels.tokensOf(t), n)) }
          pairs.collect { case (prior, newId) if priorSets.getOrElse(prior, Nil).exists(p =>
              kernels.jaccard(shingleSet(newId, n), p) >= threshold) => newId }
        }
        val within: Set[Long] = own.groupBy(_._2).valuesIterator.flatMap { bucket =>
          val ids = bucket.map(_._1)
          for (a <- ids.iterator; b <- ids.iterator if a < b) yield (a, b)
        }.distinct.filter { case (a, b) =>
          kernels.jaccard(shingleSet(a, shingleN), shingleSet(b, shingleN)) >= threshold
        }.map(_._2).toSet
        (cross, within, own, byKey.map { case (k, rs) => k -> rs.map(_._1).toSeq })
      }
      val ndSurv = docs.filterNot(d => crossDrop.contains(d.id) || withinDrop.contains(d.id))

      // admit the batch's winners into history AFTER probing
      val (_, tAdmit) = timed {
        appendWinners(docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text"),
          docs.iterator.map(d => utf8Bytes(d.text)).sum, batchId)
        StreamingNearDup.appendRowsToIndex(spark, ownBands, indexedIds.getOrElse(_, Nil),
          bandIdxPath, bucketCap, shingleN, bands, rows)
      }

      // -- stage 3: n-gram decontamination
      val (clean1, tGram) = timed {
        val set = benchGrams.value
        ndSurv.filter(d => StreamingDecontaminate.verdictOf(d.text, set, gramN, minOverlap)._2)
      }

      // -- stage 4: semantic decontamination
      val ((nSem, fin), tSem) = timed {
        val keysOf = Similarity.bucketKeysScalar(benchIdx.planes, benchIdx.tables, benchIdx.dim)
        val vecs = embeddingsOf(clean1.map(_.id).toSet)
        val flagged = clean1.filter(d => vecs.getOrElse(d.id, Nil).exists(v =>
          StreamingSemDecontaminate.flagOf(v, benchIdx, keysOf, semThreshold).nonEmpty))
          .map(_.id).toSet
        (flagged.size.toLong, clean1.filterNot(d => flagged.contains(d.id)))
      }

      // -- stage 5: substring-span dedup vs the persisted gram index
      val (_, tSub) = timed {
        val k = substrK
        val grams = fin.map(d => d.id -> Curation.gramHashArray(toks(d.id).toSeq, k)).toMap
        val owned = fin.toSeq.map(d => d.id -> grams(d.id).distinct)
        val hashes = owned.iterator.flatMap(_._2).toSet
        // ONE gram-log scan, pushed down to this batch's hashes (and,
        // counted, to rows already under its stamp), answers the probe
        // and every read of the append
        val (prior, atStamp, inLog) =
          if (countedGrams) {
            StreamingSubstringDedup.requireCountedK(spark, gramIdxPath, k)
            val logged = scanMatching(spark, gramIdxPath, DeltaSchema("h"), hashes)(
                (r, hs) => hs.contains(r.getLong(0)) || (!r.isNullAt(2) && r.getLong(2) == batchId))
              .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
            val live = StreamingSubstringDedup.netRows(logged.toSeq.filterNot(_._3.contains(batchId)))
              .collect { case (h, net) if net > 0L => h }.toSet
            (live, logged.collect { case (h, d, Some(`batchId`)) => (h, d) }.toSeq,
              logged.map(_._1).toSet)
          } else {
            StreamingSubstringDedup.requireIndexK(spark, gramIdxPath, k)
            val indexed = scanMatching(spark, gramIdxPath, PlainGramSchema, hashes)(
              (r, hs) => hs.contains(r.getLong(0))).map(_.getLong(0)).toSet
            (indexed, Seq.empty[(Long, Long)], indexed)
          }
        // keep-first within the batch by (doc_id, pos); a window is a
        // duplicate when the prior set holds it or an earlier one does
        val firsts = scala.collection.mutable.HashMap.empty[Long, (Long, Int)]
        fin.iterator.map(_.id).toSeq.sorted.foreach { id =>
          grams(id).iterator.zipWithIndex.foreach { case (h, p) =>
            if (!firsts.contains(h)) firsts(h) = (id, p)
          }
        }
        val spans = fin.toSeq.map { d =>
          val t = toks(d.id)
          val covered = new Array[Boolean](t.length)
          grams(d.id).iterator.zipWithIndex.foreach { case (h, p) =>
            if (prior.contains(h) || firsts(h) != ((d.id, p)))
              java.util.Arrays.fill(covered, p, p + k, true)
          }
          val kept = t.indices.filterNot(i => covered(i)).map(t)
          (d.id, t.length.toLong, (t.length - kept.length).toLong, kept.mkString(" "), batchId)
        }
        if (!plainRetry(spark, batchId))
          appendSpans(spans.toDF("doc_id", "n_tokens", "n_removed", "kept_text", "batch_id"),
            spans.iterator.map(s => utf8Bytes(s._4) + 64L).sum)
        if (countedGrams) {
          val registered = StreamingSubstringDedup.netRows(
              scanMatching(spark, StreamingSubstringDedup.docsRegistryPath(gramIdxPath),
                DeltaSchema("doc_id"), fin.map(_.id).toSet)((r, ids) => ids.contains(r.getLong(0)))
                .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
                .toSeq)
            .collect { case (id, net) if net > 0L => id }.toSet
          StreamingSubstringDedup.appendCountedRows(spark, owned, registered, atStamp, inLog,
            gramIdxPath, k, batchId)
        } else
          StreamingSubstringDedup.appendRows(spark, (hashes -- prior).toSeq, gramIdxPath, k)
      }
      appendSurvivors(fin.toSeq.map(d => (d.id, d.hash)).toDF("doc_id", "content_hash"),
        fin.length.toLong, batchId)
      report(spark, batchId, docs.length.toLong, crossDrop.size.toLong, withinDrop.size.toLong,
        (ndSurv.length - clean1.length).toLong, nSem, fin.length.toLong,
        Seq(tWin, tNd, tAdmit, tGram, tSem, tSub))
    }

    /** The winner store's append: few files per batch (a growing
      * artifact must not accumulate O(batches x partitions) part
      * files), sized to the batch's text bytes, id-clustered — the
      * probe fetch pushes candidate ids as a scan predicate, and sorted
      * row groups give it tight min/max stats to prune against.
      */
    private def appendWinners(idText: DataFrame, textBytes: Long, batchId: Long): Unit =
      idText.withColumn("batch_id", lit(batchId))
        .coalesce(fileCount(textBytes, targetAppendBytes))
        .sortWithinPartitions("doc_id")
        .write.mode("append")
        .option("compression", "zstd").parquet(winnersPath)

    /** Whether this is a plain-index retry of a batch whose spans are
      * already logged under its stamp. The plain index has no stamps,
      * so the retry's probe would find the first attempt's grams and
      * trim every window; the logged spans stand instead. The counted
      * probe leaves its own stamp out, so a counted retry never asks.
      */
    private def plainRetry(spark: SparkSession, batchId: Long): Boolean =
      !countedGrams && graft.sources.ArtifactFiles.hasDataFiles(spark, spansPath) &&
        !spark.read.schema(SpanStampSchema).parquet(spansPath)
          .filter(col("batch_id") === batchId).isEmpty

    private def appendSpans(spans: DataFrame, spanBytes: Long): Unit =
      spans.coalesce(fileCount(spanBytes, targetAppendBytes))
        .write.mode("append").option("compression", "zstd").parquet(spansPath)

    private def appendSurvivors(idHash: DataFrame, nSurv: Long, batchId: Long): Unit =
      idHash.withColumn("batch_id", lit(batchId))
        .coalesce(fileCount(nSurv * 48L, targetAppendBytes))
        .write.mode("append")
        .option("compression", "zstd").parquet(survivorsPath)

    /** Hand the batch's metrics to `onBatch`, with each history
      * artifact's size AFTER the batch read from its parquet footers.
      */
    private def report(spark: SparkSession, batchId: Long, nWinners: Long, nCross: Long,
                       nWithin: Long, nGramDrop: Long, nSem: Long, nSurv: Long,
                       secs: Seq[Double]): Unit = {
      val sizes = Seq(winnersPath, bandIdxPath, gramIdxPath)
        .map(graft.sources.ArtifactFiles.footerRows(spark, _))
      onBatch(BatchMetrics(batchId, nWinners, nCross, nWithin, nGramDrop, nSem, nSurv,
        Seq("winners", "neardup", "admit", "gram_decontam", "semantic", "substring").zip(secs),
        sizes(0), sizes(1), sizes(2)))
    }

    /** Embeddings of `ids` from `emb` (a doc may have several, as the
      * executor stage's join gives it): one fetch, the ids pushed down
      * as a filter predicate up to [[Dedup.PriorIdPushdownMax]] and as a
      * broadcast typed filter past it.
      */
    private def embeddingsOf(ids: Set[Long]): Map[Long, Seq[Seq[Float]]] = {
      val vecs = emb.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      val rows =
        if (ids.size <= Dedup.PriorIdPushdownMax)
          if (ids.isEmpty) Array.empty[Row]
          else vecs.filter(col("vec_id").isin(ids.toSeq: _*)).collect()
        else keepMatching(vecs, ids)((r, s) => !r.isNullAt(0) && s.contains(r.getLong(0)))
      rows.filterNot(_.isNullAt(1)).toSeq.groupMap(_.getLong(0))(_.getSeq[Float](1))
    }

    /** Prior texts of `ids` from the winner store, retry-deduped the
      * way [[graft.sources.DeltaLogCompaction.dedupeRetries]] dedupes
      * them (max text per (batch_id, doc_id); unstamped rows pass): one
      * fetch, the ids pushed down as a scan predicate up to
      * [[Dedup.PriorIdPushdownMax]] and as a broadcast filter past it.
      */
    private def priorTexts(spark: SparkSession, ids: Set[Long]): Map[Long, Seq[String]] = {
      val rows =
        if (ids.isEmpty) Array.empty[Row]
        else if (ids.size <= Dedup.PriorIdPushdownMax) {
          if (!graft.sources.ArtifactFiles.hasDataFiles(spark, winnersPath)) Array.empty[Row]
          else spark.read.schema(WinnerSchema).parquet(winnersPath)
            .filter(col("doc_id").isin(ids.toSeq: _*)).collect()
        } else scanMatching(spark, winnersPath, WinnerSchema, ids)((r, s) => s.contains(r.getLong(0)))
      val (stamped, loose) = rows.partition(!_.isNullAt(2))
      val deduped = stamped.groupBy(r => (r.getLong(2), r.getLong(0))).valuesIterator
        .map(_.maxBy(r => UTF8String.fromString(r.getString(1)))) ++ loose.iterator
      deduped.toSeq.groupMap(_.getLong(0))(_.getString(1))
    }
  }

  /** One winner of a small batch, held on the driver; `over` marks the
    * text-less row that stands for a batch past the bound.
    */
  private[graft] final case class HeldDoc(id: Long, hash: String, text: String,
                                          over: Boolean = false)

  /** A batch's winners `(doc_id, content_hash, text)` when they fit
    * `bound`, else None; None too when a doc_id repeats (the driver
    * stages key rows by id). The bound holds before anything reaches
    * the driver: one partition streams rows until the next one would
    * pass `bound.rows` rows or `bound.textBytes` text bytes, and yields
    * a text-less overflow marker in its place. So the one collect (one
    * job) carries at most the bound plus that marker, and a batch past
    * the bound is read no further than the marker.
    */
  private[graft] def holdOnDriver(winners: DataFrame,
                                  bound: DriverBound): Option[Array[HeldDoc]] = {
    val spark = winners.sparkSession
    import spark.implicits._
    val (maxRows, maxBytes) = (bound.rows.toLong, bound.textBytes)
    val held = winners.select(col("doc_id").cast("long"), col("content_hash"), col("text"))
      .as[(Long, String, String)].coalesce(1)
      .mapPartitions { it =>
        var n = 0L; var bytes = 0L; var over = false
        new Iterator[HeldDoc] {
          def hasNext: Boolean = !over && it.hasNext
          def next(): HeldDoc = {
            val (id, hash, text) = it.next()
            n += 1; bytes += utf8Bytes(text)
            over = n > maxRows || bytes > maxBytes
            if (over) HeldDoc(0L, null, null, over = true) else HeldDoc(id, hash, text)
          }
        }
      }.collect()
    if (held.exists(_.over) || held.map(_.id).distinct.length != held.length) None
    else Some(held)
  }

  private val BandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("band_key", StringType)))
  private val WinnerSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("batch_id", LongType)))
  private val PlainGramSchema = StructType(Seq(StructField("h", LongType)))
  private val SpanStampSchema = StructType(Seq(StructField("batch_id", LongType)))
  private def DeltaSchema(key: String) = StructType(Seq(StructField(key, LongType),
    StructField("delta", LongType), StructField("batch_id", LongType)))

  /** Rows of the parquet artifact at `path` (none when it holds no
    * data) that `keep` accepts against the driver-held `keys`: one
    * scan under a known schema (no inference job), through
    * [[keepMatching]].
    */
  private def scanMatching[K](spark: SparkSession, path: String, schema: StructType,
                              keys: Set[K])(keep: (Row, Set[K]) => Boolean): Array[Row] =
    if (keys.isEmpty || !graft.sources.ArtifactFiles.hasDataFiles(spark, path)) Array.empty[Row]
    else keepMatching(spark.read.schema(schema).parquet(path), keys)(keep)

  /** Rows of `df` that `keep` accepts against the driver-held `keys`,
    * filtered on the executors against a broadcast of the key set — a
    * typed filter, whose planning cost does not grow with the set the
    * way an `isin` list does.
    */
  private def keepMatching[K](df: DataFrame, keys: Set[K])(
      keep: (Row, Set[K]) => Boolean): Array[Row] = {
    val b = df.sparkSession.sparkContext.broadcast(keys)
    try df.filter((r: Row) => keep(r, b.value)).collect()
    finally b.destroy()
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  private def readOr(spark: SparkSession, path: String, empty: => DataFrame): DataFrame =
    if (graft.sources.ArtifactFiles.hasDataFiles(spark, path)) spark.read.parquet(path)
    else empty

  private def utf8Bytes(s: String): Long =
    if (s == null) 0L else UTF8String.fromString(s).numBytes().toLong
}
