package graft

import graft.operators.{Curation, Dedup}
import graft.streaming.{StreamingCuration, StreamingDecontaminate, StreamingSemDecontaminate, StreamingSubstringDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The WHOLE streaming curation chain as ONE job: every stage's
  * streaming twin exists and is spec'd in isolation, but until round
  * 11 they had never run composed. Here a 3-micro-batch document
  * stream flows through
  *
  *   gate + keyed exact dedup  (StreamingCuration, in-plan state)
  *   -> near-dup vs history    (the StreamingNearDup posture: probe
  *                              prior winners, then admit the batch)
  *   -> n-gram decontam        (StreamingDecontaminate, broadcast grams)
  *   -> semantic decontam      (StreamingSemDecontaminate, driver index)
  *   -> substring-span dedup   (StreamingSubstringDedup, gram index)
  *
  * in a single foreachBatch pipeline, and the surviving doc set must
  * equal the BATCH pipeline `q_curation_full2` on the same corpus —
  * with cross-batch exact-dup, near-dup and decontam hits all live.
  * Ingest is id-ordered (the documented contract under which
  * first-arrival-wins == keep-lowest-id).
  */
class StreamingCurationFullSpec extends AnyFunSuite with SharedSpark {

  test("3-batch composed chain == q_curation_full2; cross-batch hits on every stateful stage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = "/root/testdata/sf0.001"
    // plain reads (NOT checkpointed): these frames live across every
    // micro-batch, and the per-batch cleanup below frees checkpoints
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")

    // static decontamination assets, built ONCE (the stream-static
    // pattern): benchmark gram set and the sign-LSH bench index —
    // same % 50 == 3 held-out split as q_curation_full2
    val benchDocs = docsDf.filter(col("doc_id") % 50 === 3)
    val grams = StreamingDecontaminate.benchGrams(spark, benchDocs, "text", n = 3)
    val benchIdx = StreamingSemDecontaminate.benchIndex(
      embDf.filter(col("vec_id") % 50 === 3), dim = 64)

    val tmp = java.nio.file.Files.createTempDirectory("cur_full").toFile
    val winnersPath = new java.io.File(tmp, "winners").getPath
    val gramIdxPath = new java.io.File(tmp, "grams").getPath
    def readWinners(): DataFrame =
      if (new java.io.File(winnersPath).exists()) spark.read.parquet(winnersPath)
      else Seq.empty[(Long, String)].toDF("doc_id", "text")

    // per-batch outcome accumulators (driver state, like any
    // foreachBatch sink)
    val survivors = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val substrOut = scala.collection.mutable.ArrayBuffer.empty[Map[Long, (Long, Long, String)]]
    val gramIdxSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var nBatches = 0
    var crossExactSeen = 0L
    var crossNearDrops = 0L
    var decontamDrops = 0L

    val stream = MemoryStream[StreamingCuration.DocRecord]
    val curated = StreamingCuration.curate(stream.toDS(),
      minMarkers = 3, minWords = 30, maxStopRatio = 0.3)
    val query = curated.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the watermark's state-eviction machinery fires extra NO-DATA
        // micro-batches; only data batches run the chain
        if (!batch.isEmpty) {
        nBatches += 1
        // exact-dedup winners of this micro-batch, texts re-attached
        val winners = batch.select("doc_id", "content_hash")
          .join(docsDf.select("doc_id", "text"), "doc_id")
          .localCheckpoint()
        // -- near-dup: within-batch pairs + probe vs ALL prior winners
        // (prior = every exact winner so far, dropped-or-not — the
        // batch operator generates pairs among all winners, so the
        // probe target must too)
        val prior = readWinners().localCheckpoint()
        val crossDrop = Dedup.nearDupAgainst(prior, winners, "text", "doc_id",
            shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
          .select(col("doc_new").as("doc_id")).distinct().localCheckpoint()
        val withinDrop = Dedup.nearDupPairs(winners, "text", "doc_id",
            shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
          .select(col("doc_b").as("doc_id")).distinct()
        crossNearDrops += crossDrop.count()
        val ndSurv = winners
          .join(crossDrop.unionByName(withinDrop).distinct(), Seq("doc_id"), "left_anti")
          .localCheckpoint()
        // admit the batch's winners into history AFTER probing
        winners.select("doc_id", "text").write.mode("append").parquet(winnersPath)
        // -- n-gram decontamination (stream-static broadcast grams)
        val verdicts = StreamingDecontaminate.verdicts(
          ndSurv.select(col("doc_id"), col("text"))
            .as[StreamingDecontaminate.DocRecord],
          grams, n = 3, minOverlap = 3)
        val clean1 = ndSurv.join(
          verdicts.filter(col("keep")).select("doc_id"), "doc_id")
        // -- semantic decontamination (driver-built bench index, the
        // same planes/tables/cap as the batch LSH operator)
        val flagged = StreamingSemDecontaminate.flags(
          embDf.join(clean1.select(col("doc_id").as("vec_id")), "vec_id")
            .select(col("vec_id"), col("embedding"))
            .as[StreamingSemDecontaminate.VecRecord],
          benchIdx, threshold = 0.3)
          .select(col("vec_id").as("doc_id")).distinct().localCheckpoint()
        decontamDrops += flagged.count()
        val fin = clean1.join(flagged, Seq("doc_id"), "left_anti").localCheckpoint()
        survivors ++= fin.select("doc_id", "content_hash")
          .collect().map(r => (r.getLong(0), r.getString(1)))
        // -- substring-span dedup of the FINAL survivors, incremental
        // against the persisted gram index (admission after dedup)
        val gIdx = StreamingSubstringDedup.readIndex(spark, gramIdxPath).localCheckpoint()
        gramIdxSizes += gIdx.count()
        substrOut += Curation.substringDedupAgainstIndex(gIdx, fin, "text", "doc_id", k = 8)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
        StreamingSubstringDedup.appendToIndex(
          fin.select("doc_id", "text"), "text", "doc_id", gramIdxPath, k = 8)
        // free THIS batch's checkpoints only (releaseAll would also
        // kill frames the next micro-batch still needs)
        graft.plans.CheckpointHygiene.free(winners, prior, crossDrop, ndSurv,
          flagged, fin, gIdx)
        }
      }
      .start()

    // 3 id-ordered micro-batches; batch 3 re-ingests five batch-1 docs
    // under new ids — cross-batch exact duplicates the keyed state
    // must swallow before they ever reach the chain
    val all = docsDf.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, text) =>
        StreamingCuration.DocRecord(id, text, 1700000000000000L + id * 1000L) }
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val reingested = b1.take(5).map(d =>
      d.copy(doc_id = d.doc_id + 1000000L, ingest_ts = d.ingest_ts + 90000000L))
    try {
      stream.addData(b1.toIndexedSeq); query.processAllAvailable()
      stream.addData(b2.toIndexedSeq); query.processAllAvailable()
      stream.addData((b3 ++ reingested).toIndexedSeq); query.processAllAvailable()
    } finally query.stop()
    crossExactSeen = reingested.length.toLong

    // ---- the contract: composed stream == q_curation_full2 ----
    val batchRef = SparkEntry.queries("q_curation_full2")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(survivors.toSet == batchRef,
      s"stream ${survivors.size} rows vs batch ${batchRef.size}: " +
        s"only-stream=${(survivors.toSet -- batchRef).take(5)} " +
        s"only-batch=${(batchRef -- survivors.toSet).take(5)}")
    assert(batchRef.nonEmpty && nBatches == 3)
    // no re-ingested id leaked through the exact-dedup state
    assert(survivors.forall(_._1 < 1000000L))
    // every stateful stage took CROSS-BATCH hits on this corpus
    assert(crossNearDrops > 0, "no cross-batch near-dup drop")
    assert(decontamDrops > 0, "no semantic decontamination hit")
    // substring stage: per-batch output equals the batch incremental
    // operator at the same boundaries, over the same survivor slices
    assert(substrOut.size == 3)
    val survSet = survivors.map(_._1).toSet
    val survDocs = docsDf.filter(col("doc_id").isin(survSet.toSeq: _*))
      .select("doc_id", "text").localCheckpoint()
    val bounds = Seq(b1.last.doc_id, b2.last.doc_id, Long.MaxValue)
    var priorMax = Long.MinValue
    bounds.zipWithIndex.foreach { case (hi, i) =>
      val priorSlice = survDocs.filter(col("doc_id") <= priorMax)
      val slice = survDocs.filter(col("doc_id") > priorMax && col("doc_id") <= hi)
      val ref = Curation.substringDedupAgainst(priorSlice, slice, "text", "doc_id", k = 8)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      assert(substrOut(i) == ref, s"substring stage batch ${i + 1} diverged")
      priorMax = hi
    }
    // the cross-batch index path is LIVE even though this corpus's
    // final survivors share no 8-gram (near-dup upstream removes
    // exactly the doc pairs that would — verified: 0 shared grams among
    // q_curation_full2 survivors): batches 2-3 deduped against a
    // nonempty, growing prior index, and re-admitting a survivor's
    // grams after the run admits nothing (the index owns them)
    assert(gramIdxSizes(0) == 0L && gramIdxSizes(1) > 0L &&
      gramIdxSizes(2) > gramIdxSizes(1), s"gram index growth: $gramIdxSizes")
    assert(StreamingSubstringDedup.appendToIndex(
      survDocs.limit(20), "text", "doc_id", gramIdxPath, k = 8) == 0L)
  }

  test("StreamingCurationFull (persisted-band-index near-dup) == q_curation_full2") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
    val grams = StreamingDecontaminate.benchGrams(spark,
      docsDf.filter(col("doc_id") % 50 === 3), "text", n = 3)
    val benchIdx = StreamingSemDecontaminate.benchIndex(
      embDf.filter(col("vec_id") % 50 === 3), dim = 64)
    val stateDir = java.nio.file.Files.createTempDirectory("cur_api").toString

    val metrics = scala.collection.mutable.ArrayBuffer
      .empty[graft.streaming.StreamingCurationFull.BatchMetrics]
    val stream = MemoryStream[StreamingCuration.DocRecord]
    val query = graft.streaming.StreamingCurationFull.start(
      stream.toDS(), docsDf, embDf, grams, benchIdx, stateDir,
      onBatch = m => metrics += m)

    val all = docsDf.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, text) =>
        StreamingCuration.DocRecord(id, text, 1700000000000000L + id * 1000L) }
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    try {
      stream.addData(b1.toIndexedSeq); query.processAllAvailable()
      stream.addData(b2.toIndexedSeq); query.processAllAvailable()
      stream.addData(b3.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    // same corpus, same boundaries as the first test minus the
    // re-ingest wrinkle: survivors read back from the chain's OWN sink
    // must equal the batch pipeline
    val got = spark.read.parquet(s"$stateDir/survivors")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val ref = SparkEntry.queries("q_curation_full2")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == ref, s"api-chain ${got.size} vs batch ${ref.size}: " +
      s"only-api=${(got -- ref).take(5)} only-batch=${(ref -- got).take(5)}")
    assert(ref.nonEmpty && metrics.size == 3)
    // cross-batch near-dup hits went through the PERSISTED index path
    assert(metrics.map(_.nCrossDrop).sum > 0, "no cross-batch near-dup drop")
    // every history artifact grew monotonically across batches
    assert(metrics.map(_.winnersRows) == metrics.map(_.winnersRows).sorted)
    assert(metrics.last.bandIdxRows > metrics.head.bandIdxRows)
  }

  test("countedGrams chain == plain chain on clean data (survivors, spans, live gram set)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val embDf = spark.read.parquet(s"$dir/embeddings.parquet")
    val grams = StreamingDecontaminate.benchGrams(spark,
      docsDf.filter(col("doc_id") % 50 === 3), "text", n = 3)
    val benchIdx = StreamingSemDecontaminate.benchIndex(
      embDf.filter(col("vec_id") % 50 === 3), dim = 64)

    val all = docsDf.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1)
      .map { case (id, text) =>
        StreamingCuration.DocRecord(id, text, 1700000000000000L + id * 1000L) }
    val (b1, rest) = all.splitAt(all.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)

    def runChain(counted: Boolean): String = {
      val stateDir = java.nio.file.Files
        .createTempDirectory(if (counted) "cur_cnt" else "cur_pln").toString
      val stream = MemoryStream[StreamingCuration.DocRecord]
      val query = graft.streaming.StreamingCurationFull.start(
        stream.toDS(), docsDf, embDf, grams, benchIdx, stateDir,
        checkpointDir = Some(s"$stateDir/ckpt"), countedGrams = counted)
      try {
        Seq(b1, b2, b3).foreach { b =>
          stream.addData(b.toIndexedSeq); query.processAllAvailable()
        }
      } finally query.stop()
      stateDir
    }
    val plainDir = runChain(counted = false)
    val cntDir = runChain(counted = true)

    def survivorsOf(d: String) = spark.read.parquet(s"$d/survivors")
      .select("doc_id", "content_hash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(survivorsOf(cntDir) == survivorsOf(plainDir) && survivorsOf(cntDir).nonEmpty)
    def spansOf(d: String) = spark.read.parquet(s"$d/substr_spans")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet
    assert(spansOf(cntDir) == spansOf(plainDir) && spansOf(cntDir).nonEmpty)
    // the two strategies hold the SAME live gram set on clean data —
    // and through different artifact kinds (flipping the flag over an
    // existing stateDir refuses at the header seam)
    val plainSet = StreamingSubstringDedup.readIndex(spark, s"$plainDir/grams")
      .collect().map(_.getLong(0)).toSet
    val cntSet = StreamingSubstringDedup.countedLive(spark, s"$cntDir/grams")
      .collect().map(_.getLong(0)).toSet
    assert(cntSet == plainSet && cntSet.nonEmpty)
    intercept[Exception] {
      StreamingSubstringDedup.indexFor(spark, s"$cntDir/grams", 8).count()
    }
  }

  test("countedGrams chain: a forget between batches takes effect at the next " +
    "batch's probe with NO rebuild (shared grams die only when every owner is forgotten)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // gate-passing synthetic corpus with globally unique vocabulary:
    // 3 language markers (the/and/of = 3 marker hits, stop ratio
    // ~0.09) + 33 nonsense tokens >= the 30-word floor
    def doc(tag: String, extra: Seq[String] = Nil): String =
      ("the and of" +: ((1 to (33 - extra.size)).map(i => s"${tag}tok$i") ++ extra))
        .mkString(" ")
    val span = (1 to 10).map(i => s"sptok$i")  // 10-token span -> 3 shared 8-gram windows
    val vText = doc("v", span)                 // victim owns the span
    val c1Text = doc("ca", span)               // batch-2 copy: shares ONLY the span
    val c2Text = doc("cb", span)               // batch-3 copy, fresh vocab
    val docTexts = Seq((5551L, vText), (5552L, c1Text), (5553L, c2Text))
      .toDF("doc_id", "text")
    // stage-4 static side: one unrelated embedding so the index is
    // nonempty; none of the synthetic ids carries a vector
    val emb = Seq((999999L, (1 to 64).map(_ => 0.1f))).toDF("vec_id", "embedding")
    val grams = StreamingDecontaminate.benchGrams(spark,
      docTexts.limit(0), "text", n = 3)
    val benchIdx = StreamingSemDecontaminate.benchIndex(emb, dim = 64)

    val stateDir = java.nio.file.Files.createTempDirectory("cur_forget").toString
    val stream = MemoryStream[StreamingCuration.DocRecord]
    val query = graft.streaming.StreamingCurationFull.start(
      stream.toDS(), docTexts, emb, grams, benchIdx, stateDir,
      checkpointDir = Some(s"$stateDir/ckpt"), countedGrams = true)
    def spansOf(id: Long): Map[Long, String] =
      spark.read.parquet(s"$stateDir/substr_spans").filter(col("doc_id") === id)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    try {
      stream.addData(StreamingCuration.DocRecord(5551L, vText, 1700000000000000L))
      query.processAllAvailable()
      // batch 2: low-jaccard copy passes near-dup, but its span is
      // OWNED by the victim's live grams -> trimmed
      stream.addData(StreamingCuration.DocRecord(5552L, c1Text, 1700000001000000L))
      query.processAllAvailable()
      assert(!spansOf(5552L)(5552L).contains("sptok5"),
        s"span not deduped while its owner was live: ${spansOf(5552L)}")

      // rights-removal BETWEEN batches, against the LIVE chain state:
      // forget the victim AND the admitted copy (both own the span
      // now — forgetting only one must keep the gram alive, so the
      // full id set is the one that kills it). No rebuild: the gram
      // surface settles via the O(deleted-docs) decrement.
      val report = graft.operators.Forget.forgetDocuments(spark,
        Seq(5551L, 5552L),
        graft.operators.Forget.Targets(
          bandIndexPath = Some(s"$stateDir/bands"),
          winnerStorePath = Some(s"$stateDir/winners"),
          gramIndexPath = Some(s"$stateDir/grams"),
          removalStamp = Some(424242L)))
      assert(report.gramDecrement.exists(_ > 0L), report.summary)
      assert(report.gramRebuild.isEmpty, "counted path must not rebuild")

      // batch 3: the span's grams are DEAD (every owner forgotten) —
      // the copy keeps its full text, and admission re-registers it
      stream.addData(StreamingCuration.DocRecord(5553L, c2Text, 1700000002000000L))
      query.processAllAvailable()
      assert(spansOf(5553L)(5553L).contains("sptok5"),
        s"removed owners' grams still deduped the next batch: ${spansOf(5553L)}")
    } finally query.stop()
    // nothing of the forgotten docs is reachable anywhere: store and
    // band index folded physically, gram ownership netted dead
    assert(spark.read.parquet(s"$stateDir/winners")
      .filter(col("doc_id").isin(5551L, 5552L)).count() == 0L)
    assert(spark.read.parquet(s"$stateDir/bands")
      .filter(col("doc_id").isin(5551L, 5552L)).count() == 0L)
  }

  test("nearDupAgainstIndex over the grown index == nearDupAgainst recomputed") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val prior = docs.filter(col("doc_id") % 3 =!= 0).localCheckpoint()
    val probe = docs.filter(col("doc_id") % 3 === 0).localCheckpoint()
    // grow the index in two monotone-id slices, the appendToIndex way
    val idxPath = java.nio.file.Files.createTempDirectory("nd_idx").toString + "/idx"
    def bandsOf(df: DataFrame) = Dedup.capBucket(
      Dedup.bandKeys(df.select(col("doc_id"), col("text").as("__text")), 3, 6, 2),
      "band_key", "doc_id", 128)
    val half = prior.agg(expr("percentile(doc_id, 0.5)")).collect()(0).getDouble(0)
    graft.streaming.StreamingNearDup.appendToIndex(
      bandsOf(prior.filter(col("doc_id") <= half)), idxPath)
    graft.streaming.StreamingNearDup.appendToIndex(
      bandsOf(prior.filter(col("doc_id") > half)), idxPath)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaIndex = pairs(Dedup.nearDupAgainstIndex(prior, probe,
      spark.read.parquet(idxPath), "text", "doc_id",
      shingleN = 3, bands = 6, rows = 2, threshold = 0.4))
    val recomputed = pairs(Dedup.nearDupAgainst(prior, probe, "text", "doc_id",
      shingleN = 3, bands = 6, rows = 2, threshold = 0.4))
    assert(viaIndex == recomputed && recomputed.nonEmpty)
  }

  // -- the two batch regimes, driven through Chain.runBatch ---------------

  /** A seeded synthetic corpus for the regime cases: 300 docs of 40-80
    * words over a 60-word vocabulary. Every fifth doc is a near-copy of
    * an earlier one (three words changed), inside its batch or across
    * batches; every seventh carries a 12-word span of an earlier doc;
    * every ninth embedding sits next to a held-out bench vector.
    */
  private lazy val (docsDf, embDf) = {
    import spark.implicits._
    val rnd = new scala.util.Random(6)
    val vocab = (0 until 60).map(i => s"w$i")
    def words(n: Int) = Array.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    (0 until 300).foreach { i =>
      texts += (
        if (i > 0 && i % 5 == 0) {
          val c = texts(rnd.nextInt(i)).clone()
          (0 until 3).foreach(_ => c(rnd.nextInt(c.length)) = vocab(rnd.nextInt(vocab.size)))
          c
        } else if (i > 0 && i % 7 == 0) {
          val src = texts(rnd.nextInt(i))
          val at = rnd.nextInt(src.length - 12)
          words(20) ++ src.slice(at, at + 12) ++ words(20 + rnd.nextInt(21))
        } else words(40 + rnd.nextInt(41)))
    }
    val vecs = Array.fill(300)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val emb = vecs.indices.map { i =>
      val v = if (i % 9 == 0 && i % 50 != 2) vecs(50 * (i % 6) + 2).map(_ + 0.05f * rnd.nextGaussian().toFloat)
              else vecs(i)
      (i + 1L, v)
    }
    (texts.zipWithIndex.map { case (t, i) => (i + 1L, t.mkString(" ")) }.toSeq.toDF("doc_id", "text"),
      emb.toDF("vec_id", "embedding"))
  }
  private lazy val benchGrams = StreamingDecontaminate.benchGrams(spark,
    docsDf.filter(col("doc_id") % 50 === 3), "text", n = 3)
  private lazy val benchVecs = StreamingSemDecontaminate.benchIndex(
    embDf.filter(col("vec_id") % 50 === 3), dim = 64)

  /** Every bound a test batch meets, and none. */
  private val Small = graft.streaming.StreamingCurationFull.DriverBound(1 << 20, 1L << 40)
  private val Distributed = graft.streaming.StreamingCurationFull.DriverBound(0, 0L)

  /** Three id-ordered exact-dedup winner batches (doc_id, content_hash)
    * of ~100 docs each.
    */
  private def winnerBatches: Seq[DataFrame] = {
    val ids = docsDf.select("doc_id").collect().map(_.getLong(0)).sorted.take(300)
    ids.grouped(100).map { g =>
      docsDf.filter(col("doc_id").between(g.head, g.last))
        .select(col("doc_id"), md5(lower(trim(col("text")))).as("content_hash"))
    }.toSeq
  }

  private def chainOf(stateDir: String, counted: Boolean,
                      bound: graft.streaming.StreamingCurationFull.DriverBound,
                      onBatch: graft.streaming.StreamingCurationFull.BatchMetrics => Unit = _ => ()) =
    new graft.streaming.StreamingCurationFull.Chain(docsDf, embDf, benchGrams, benchVecs,
      stateDir, shingleN = 3, bands = 6, rows = 2, threshold = 0.4, bucketCap = 128,
      gramN = 3, minOverlap = 3, semThreshold = 0.3, substrK = 8, onBatch = onBatch,
      targetAppendBytes = 64L << 20, countedGrams = counted, bound = bound)

  /** The chain's batch_id-stamped append logs: a retry of a batch
    * re-appends its rows by design, and their readers dedupe by stamp.
    */
  private val StampedLogs = Set("survivors", "winners", "substr_spans")

  /** Each chain artifact's rows, with their multiplicity (one count per
    * distinct row for the stamped logs).
    */
  private def artifacts(stateDir: String): Map[String, Map[Seq[Any], Int]] =
    Seq("survivors", "winners", "bands", "substr_spans", "grams", "grams/_docs").map { a =>
      val p = s"$stateDir/$a"
      val rows =
        if (!graft.sources.ArtifactFiles.hasDataFiles(spark, p)) Seq.empty[Seq[Any]]
        else spark.read.parquet(p).collect().map(_.toSeq).toSeq
      a -> rows.groupMapReduce(identity)(_ => 1)((m, n) => if (StampedLogs(a)) 1 else m + n)
    }.toMap

  private def assertSameArtifacts(a: String, b: String): Unit =
    artifacts(a).zip(artifacts(b)).foreach { case ((name, x), (_, y)) =>
      val (onlyX, onlyY) = (x.toSet -- y.toSet, y.toSet -- x.toSet)
      assert(x == y, s"$name differs: only-first=${onlyX.take(3)} only-second=${onlyY.take(3)}")
    }

  /** `f`'s result, the Spark jobs it started and the serialized task
    * result bytes those jobs shipped to the driver.
    */
  private def traced[T](f: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val tag = "cur-trace-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val resultBytes = new java.util.concurrent.atomic.AtomicLong()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("graft.test.tag")).foreach {
          case `tag` => jobs.incrementAndGet(); js.stageIds.foreach(stages.add)
          case t if t == tag + "-end" => drained.countDown()
          case _ => ()
        }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null)
          resultBytes.addAndGet(te.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      val r = f
      sc.setLocalProperty("graft.test.tag", tag + "-end")
      sc.parallelize(Seq(0), 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (r, jobs.get(), resultBytes.get())
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  test("driver and executor regimes write identical rows, across the bound both ways " +
    "(countedGrams on and off)") {
    val batches = winnerBatches
    Seq(false, true).foreach { counted =>
      def run(regimes: Seq[graft.streaming.StreamingCurationFull.DriverBound]): (String,
          Seq[graft.streaming.StreamingCurationFull.BatchMetrics]) = {
        val dir = java.nio.file.Files.createTempDirectory("cur_regime").toString
        val ms = scala.collection.mutable.ArrayBuffer
          .empty[graft.streaming.StreamingCurationFull.BatchMetrics]
        batches.zip(regimes).zipWithIndex.foreach { case ((b, bound), i) =>
          // a rights-removal between batches: the probes must skip it
          if (i == 2) Dedup.neardupIndexDeleteAt(spark, s"$dir/bands",
            Seq(batches.head.select("doc_id").head().getLong(0)))
          chainOf(dir, counted, bound, ms += _).runBatch(b, i.toLong)
        }
        (dir, ms.toSeq)
      }
      val (driverDir, driverMs) = run(Seq(Small, Small, Small))
      val (mixedDir, mixedMs) = run(Seq(Distributed, Small, Distributed))
      assertSameArtifacts(driverDir, mixedDir)
      def counts(ms: Seq[graft.streaming.StreamingCurationFull.BatchMetrics]) =
        ms.map(_.copy(stageSec = Nil))
      assert(counts(driverMs) == counts(mixedMs))
      // the batches exercise every drop path
      assert(driverMs.map(_.nCrossDrop).sum > 0 && driverMs.map(_.nWithinDrop).sum > 0 &&
        driverMs.map(_.nGramDrop).sum > 0 && driverMs.map(_.nSemDrop).sum > 0 &&
        driverMs.map(_.nSurvivors).sum > 0, driverMs.mkString("; "))
      assert(artifacts(driverDir)("substr_spans").keys.exists(_(2) != 0L), "no span was trimmed")
    }
  }

  test("a small batch runs in at most 15 jobs and leaves no checkpoint block live") {
    val sc = spark.sparkContext
    val batches = winnerBatches
    val dir = java.nio.file.Files.createTempDirectory("cur_jobs").toString
    chainOf(dir, counted = true, Small).runBatch(batches(0), 0L)
    val before = sc.getPersistentRDDs.keySet
    val (_, jobs, _) = traced(chainOf(dir, counted = true, Small).runBatch(batches(1), 1L))
    assert(jobs <= 15, s"$jobs jobs for one small batch")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      s"live blocks after the batch: ${sc.getPersistentRDDs.keySet -- before}")
  }

  test("the driver bound is checked in text bytes before the texts reach the driver") {
    import spark.implicits._
    // 40 docs of ~14 KiB of random words each (collect results travel
    // compressed, so the text must not compress away): under the row
    // bound, ~9x past the byte bound
    val rnd = new scala.util.Random(40)
    val long = (1L to 40L).map(i => (i, s"h$i",
        Seq.fill(2000)(rnd.alphanumeric.take(6).mkString).mkString(" ")))
      .toDF("doc_id", "content_hash", "text")
    val textBytes = long.select(sum(octet_length(col("text")))).head().getLong(0)
    val bound = graft.streaming.StreamingCurationFull.DriverBound(1 << 20, 64L << 10)
    val (held, jobs, shipped) =
      traced(graft.streaming.StreamingCurationFull.holdOnDriver(long, bound))
    assert(held.isEmpty, "a batch past the byte bound must take the executor regime")
    assert(jobs == 1, s"$jobs jobs for the bound check")
    assert(shipped < bound.textBytes + (16L << 10),
      s"$shipped result bytes reached the driver for a $textBytes-byte batch")
    // the same batch under a bound it fits comes back whole
    val fits = graft.streaming.StreamingCurationFull.DriverBound(40, textBytes)
    assert(graft.streaming.StreamingCurationFull.holdOnDriver(long, fits)
      .map(_.map(_.id).toSeq.sorted).contains((1L to 40L).toSeq))
    // one row past the row bound is past the bound too
    assert(graft.streaming.StreamingCurationFull.holdOnDriver(long,
      graft.streaming.StreamingCurationFull.DriverBound(39, textBytes)).isEmpty)
  }

  test("an at-least-once retry of one batch id leaves the band index and the counted " +
    "gram log row-identical and the stamped logs set-identical, in each regime, " +
    "and the next batch's results unchanged") {
    val batches = winnerBatches
    // the plain gram index has no stamps: its retry keeps the spans its
    // first attempt logged
    for (counted <- Seq(true, false); bound <- Seq(Small, Distributed)) {
      def run(retry: Boolean): (String, Seq[graft.streaming.StreamingCurationFull.BatchMetrics]) = {
        val dir = java.nio.file.Files.createTempDirectory("cur_retry").toString
        val ms = scala.collection.mutable.ArrayBuffer
          .empty[graft.streaming.StreamingCurationFull.BatchMetrics]
        chainOf(dir, counted, bound).runBatch(batches(0), 0L)
        chainOf(dir, counted, bound).runBatch(batches(1), 1L)
        if (retry) chainOf(dir, counted, bound).runBatch(batches(1), 1L)
        chainOf(dir, counted, bound, ms += _).runBatch(batches(2), 2L)
        (dir, ms.map(_.copy(stageSec = Nil, winnersRows = 0L)).toSeq)
      }
      val (onceDir, onceMs) = run(retry = false)
      val (retryDir, retryMs) = run(retry = true)
      withClue(s"counted=$counted bound=$bound: ") {
        assertSameArtifacts(onceDir, retryDir)
        assert(onceMs == retryMs)
      }
    }
  }

  test("reported artifact sizes are the parquet row counts, across a fold and a " +
    "compaction between batches") {
    val batches = winnerBatches.take(2)
    val dir = java.nio.file.Files.createTempDirectory("cur_sizes").toString
    val checked = scala.collection.mutable.ArrayBuffer.empty[Long]
    def check(m: graft.streaming.StreamingCurationFull.BatchMetrics): Unit = {
      Seq("winners" -> m.winnersRows, "bands" -> m.bandIdxRows, "grams" -> m.gramIdxRows)
        .foreach { case (a, rows) =>
          assert(rows == spark.read.parquet(s"$dir/$a").count(), s"$a after batch ${m.batch}")
        }
      checked += m.batch
    }
    chainOf(dir, counted = true, Small, check).runBatch(batches(0), 0L)
    // maintenance between the batches: a tombstone fold of the winner
    // store and band index, the counted log's fold, and compaction
    Dedup.neardupIndexDeleteAt(spark, s"$dir/bands",
      Seq(batches.head.select("doc_id").head().getLong(0)))
    Dedup.neardupTombstoneFold(spark, s"$dir/bands", Some(s"$dir/winners"))
    StreamingSubstringDedup.compactCounted(spark, s"$dir/grams")
    Seq("winners", "bands").foreach(a =>
      graft.sources.ArtifactCompaction.compactFiles(spark, s"$dir/$a"))
    chainOf(dir, counted = true, Small, check).runBatch(batches(1), 1L)
    chainOf(dir, counted = true, Distributed, check).runBatch(batches(1), 2L)
    assert(checked == Seq(0L, 1L, 2L))
  }
}
