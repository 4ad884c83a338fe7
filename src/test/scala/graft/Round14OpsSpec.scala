package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.operators.Similarity
import graft.plans.CheckpointHygiene
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-14 seams: the ivfPqRebuild scope guards (mis-scoped corpus,
  * oversized recall gate, vacuous-relative-gate absolute floor) and
  * the attribution-scoped checkpoint sweep that makes
  * CheckpointHygiene.scoped safe beside concurrent queries on one
  * session.
  */
class Round14OpsSpec extends AnyFunSuite with SharedSpark {

  private def tmpIdx(prefix: String): String =
    new java.io.File(
      java.nio.file.Files.createTempDirectory(prefix).toFile, "idx").getPath

  /** The r13 covariate-shift fixture: day 1 uniform over [-1,1]^8,
    * day 2 a dense positively-aligned cluster (80% of the grown
    * corpus), probes from the shifted region only.
    */
  private def driftCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1307)
    val day1 = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
    val day2 = (1000 until 1256).map { i =>
      (i.toLong, Seq.fill(8)((0.85 + rnd.nextDouble() * 0.1).toFloat))
    }
    val probes = (5000 until 5008).map { i =>
      (i.toLong, Seq.fill(8)((0.85 + rnd.nextDouble() * 0.1).toFloat))
    }
    (day1.toDF("vec_id", "embedding").localCheckpoint(),
      day2.toDF("vec_id", "embedding").localCheckpoint(),
      probes.toDF("vec_id", "embedding").localCheckpoint())
  }

  test("ivfPqRebuild: a corpus smaller than the live artifact refuses (mis-scoped snapshot), allowShrink overrides") {
    val dir = tmpIdx("ann_rebuild_shrink")
    val (day1, day2, _) = driftCorpus()
    Similarity.ivfPqIndexWrite(day1, dir, dim = 8, lists = 4, m = 8)
    Similarity.ivfPqIndexAppend(day2, dir, dim = 8, lists = 4, m = 8)
    // a stale snapshot that predates the day-2 appends: every other
    // check is green (rows == corpus), but swapping it in would DROP
    // 256 vectors — the artifact knows its own row count, so refuse
    val ex = intercept[RuntimeException] {
      Similarity.annRebuildAt(day1, dir, Similarity.RebuildPolicy(kmIters = 1, pqIters = 1))
    }
    assert(ex.getMessage.contains("DROP"), ex.getMessage)
    assert(ex.getMessage.contains("allowShrink"), ex.getMessage)
    // live artifact untouched, original generation still serving
    assert(spark.read.parquet(dir).count() == 320L)
    assert(Similarity.annProbeAt(spark, dir,
      day1.filter(col("vec_id") < 2), k = 3).count() > 0)
    // no tmp residue from the refusal
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".rebuild.tmp")))
    // a DELIBERATE shrink (deletion compaction) passes the flag
    val rep = Similarity.annRebuildAt(day1, dir,
      Similarity.RebuildPolicy(kmIters = 1, pqIters = 1, allowShrink = true))
    assert(rep.rowsBefore == 320L && rep.rowsAfter == 64L)
    assert(spark.read.parquet(dir).count() == 64L)
  }

  test("ivfPqRebuild: an oversized recallQueries frame refuses naming the bound; the absolute floor catches a 0.0 -> 0.0 'pass'") {
    val dir = tmpIdx("ann_rebuild_gatebounds")
    val (day1, day2, probes) = driftCorpus()
    Similarity.ivfPqIndexWrite(day1, dir, dim = 8, lists = 4, m = 8)
    Similarity.ivfPqIndexAppend(day2, dir, dim = 8, lists = 4, m = 8)
    val corpus = day1.unionByName(day2).localCheckpoint()
    // the gate's ground truth is a broadcast nested-loop over
    // corpus x queries — the brute-guard convention refuses an
    // oversized query frame BEFORE the retrain spends anything
    val ex = intercept[IllegalArgumentException] {
      Similarity.annRebuildAt(corpus, dir,
        Similarity.RebuildPolicy(recallQueries = Some(probes), maxRecallQueryRows = 4L))
    }
    assert(ex.getMessage.contains(">4"), ex.getMessage)
    assert(ex.getMessage.contains("sample"), ex.getMessage)
    assert(spark.read.parquet(dir).count() == 320L) // untouched

    // drifted stale index: recallBefore == 0.0, so the relative gate
    // (after >= ratio * 0.0) passes ANY retrain — the absolute floor
    // must hold instead. An impossible floor proves the branch fires;
    // the flagship r13 drift test is the floor's happy path (1.0 > 0)
    val ex2 = intercept[RuntimeException] {
      Similarity.annRebuildAt(corpus, dir,
        Similarity.RebuildPolicy(recallQueries = Some(probes), k = 5, nprobe = 2,
          minRecallAbs = 1.01))
    }
    assert(ex2.getMessage.contains("absolute floor"), ex2.getMessage)
    assert(spark.read.parquet(dir).count() == 320L) // untouched
    // with the default floor (0.0) the same rebuild passes: 0.0 -> 1.0
    val rep = Similarity.annRebuildAt(corpus, dir,
      Similarity.RebuildPolicy(recallQueries = Some(probes), k = 5, nprobe = 2))
    assert(rep.recallBefore == 0.0 && rep.recallAfter > 0.0)
    // the floor is UNCONDITIONAL, not an exactly-0.0 special case: a
    // near-zero (or here: healthy) stale recall cannot bypass a
    // caller's explicit absolute bar via the relative gate alone
    val ex3 = intercept[RuntimeException] {
      Similarity.annRebuildAt(corpus, dir,
        Similarity.RebuildPolicy(recallQueries = Some(probes), k = 5, nprobe = 2,
          minRecallAbs = 1.01))
    }
    assert(ex3.getMessage.contains("absolute floor"), ex3.getMessage)
    assert(spark.read.parquet(dir).count() == 320L) // untouched
  }

  private def checkpointRddId(df: DataFrame): Int =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.id
      case other => fail(s"not a checkpoint leaf: $other")
    }

  test("CheckpointHygiene.scoped sweeps its own checkpoints and leaves a concurrent query's blocks alone") {
    import spark.implicits._
    val sc = spark.sparkContext
    val scopeStarted = new CountDownLatch(1)
    val otherDone = new CountDownLatch(1)
    @volatile var other: DataFrame = null
    @volatile var otherErr: Throwable = null
    // "the other query": a localCheckpoint persisted by ANOTHER
    // thread strictly INSIDE the scope window — the global-diff sweep
    // this replaces would have unpersisted it (unrecoverably: lineage
    // is truncated)
    val t = new Thread(() => {
      try {
        scopeStarted.await(30, TimeUnit.SECONDS)
        other = Seq(10, 20, 30).toDF("x").localCheckpoint()
        assert(other.count() == 3)
      } catch { case e: Throwable => otherErr = e }
      finally otherDone.countDown()
    })
    t.start()
    var inner: DataFrame = null
    CheckpointHygiene.scoped(spark) {
      inner = Seq(1, 2).toDF("y").localCheckpoint()
      scopeStarted.countDown()
      assert(otherDone.await(30, TimeUnit.SECONDS))
      assert(inner.count() == 2) // fully consumed, per the contract
    }
    t.join(30000)
    assert(otherErr == null, s"concurrent query failed: $otherErr")
    val persisted = sc.getPersistentRDDs.keySet
    assert(!persisted.contains(checkpointRddId(inner)),
      "the scope's own checkpoint must be swept")
    assert(persisted.contains(checkpointRddId(other)),
      "a concurrent query's checkpoint must survive the sweep")
    // ...and stays USABLE, the actual hazard (truncated lineage means
    // a swept block cannot be recomputed)
    assert(other.count() == 3)
    CheckpointHygiene.free(other)
  }

  test("CheckpointHygiene.scoped attributes operator-internal checkpoints; two sequential scopes carry nothing over") {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a completely different document about spark physical plans"))
      .toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet
    for (_ <- 1 to 2) {
      CheckpointHygiene.scoped(spark) {
        // nearDupPairs checkpoints internally (the banding frame the
        // caller holds no handle to) — attribution must catch it
        val pairs = graft.operators.Dedup.nearDupPairs(
          docs, "text", "doc_id", shingleN = 3, bands = 4, rows = 2,
          threshold = 0.5, bucketCap = 16)
        assert(pairs.count() >= 1)
      }
    }
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"scope leaked persistent RDDs: $leaked")
  }

  test("filtered ANN probe: the k-cut is taken WITHIN the allowed set; pushdown and semi-join branches agree") {
    import spark.implicits._
    val dir = tmpIdx("ann_filtered")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val queries = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 16)
    Similarity.ivfPqIndexWrite(corpus, dir, dim = 64)
    val allowedPred = col("vec_id") % 5 <= 1
    val allowed = emb.filter(allowedPred).select("vec_id")
    val filtered = Similarity.annProbeAt(
      spark, dir, queries, k = 5, allowedIds = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth for the SEMANTICS claim: rank the FULL ADC ordering
    // (k = corpus size, nothing cut), restrict to allowed, re-rank,
    // cut to 5 — "top-k among allowed", not "allowed among top-k"
    val n = corpus.count().toInt
    val full = Similarity.annProbeAt(spark, dir, queries, k = n)
    val allowedSet = emb.filter(allowedPred)
      .select("vec_id").as[Long].collect().toSet
    val expected = full.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .filter { case (_, nb, _) => allowedSet.contains(nb) }
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy { case (_, nb, s) => (-s, nb) }.take(5).zipWithIndex
          .map { case ((_, nb, _), i) => (q, (i + 1).toLong, nb) }
      }.toSet
    assert(filtered == expected, "filtered probe is not the in-set rank cut")
    // and the claim post-filtering misses: some allowed neighbor ranks
    // inside the filtered top-5 but OUTSIDE the unfiltered top-5
    val post = Similarity.annProbeAt(spark, dir, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .filter { case (_, nb) => allowedSet.contains(nb) }.toSet
    assert(post.size < filtered.size, "fixture too permissive to show under-fill")
    // the large-set fallback (semi-join) must equal the pushdown
    // branch on the same EFFECTIVE set: pad the allowed frame past the
    // pushdown bound with ids outside the corpus
    val padded = allowed.as[Long]
      .union(spark.range(10000000L, 10000000L +
        graft.operators.Similarity.AnnFilterPushdownMax + 1).as[Long])
      .toDF("vec_id")
    val viaSemiJoin = Similarity.annProbeAt(
      spark, dir, queries, k = 5, allowedIds = Some(padded))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSemiJoin == filtered)
  }

  test("mmrRerank: lambda=1 is pure relevance; lower lambda surfaces the diverse candidate ahead of near-copies") {
    import spark.implicits._
    // three near-copies of one direction (rel ~0.9, pairwise sim
    // ~0.9999) and one genuinely diverse candidate (rel 0.8, sim to
    // the copies ~0.72): relevance alone ranks the copies 1-2-3; MMR
    // at lambda=0.5 pays the redundancy penalty and promotes the
    // diverse one to rank 2 (0.5*0.8 - 0.5*0.72 = +0.04 vs
    // 0.5*0.9 - 0.5*0.9999 = -0.05)
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val corpus = Seq(
      (10L, v(0.9, 0.43570, 0, 0, 0, 0, 0, 0)),
      (11L, v(0.9, 0.43580, 0.0028, 0, 0, 0, 0, 0)),
      (12L, v(0.9, 0.43589, 0, 0.0040, 0, 0, 0, 0)),
      (20L, v(0.8, 0, 0, 0, 0.6, 0, 0, 0))
    ).toDF("vec_id", "embedding").localCheckpoint()
    val queries = Seq((1L, v(1.0, 0, 0, 0, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val cands = Similarity.topKCosine(corpus, queries, k = 4).localCheckpoint()
    def picks(lamE6: Long, k: Int) =
      Similarity.mmrRerank(cands, corpus, k = k, lambdaE6 = lamE6)
        .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(picks(1000000L, 3) == Seq(10L, 11L, 12L),
      "lambda=1 must reduce to pure relevance order")
    val diverse = picks(500000L, 3)
    assert(diverse.head == 10L && diverse(1) == 20L,
      s"lambda=0.5 must promote the diverse candidate to rank 2, got $diverse")
    // deterministic: same inputs, same picks
    assert(picks(500000L, 3) == diverse)
  }

  test("touchedTextBytes: accumulated batch increments equal the exact prior-store scan") {
    import graft.streaming.{StreamingCurationFull, StreamingNearDup}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("touch_acc").toString
    val winnersPath = s"$dir/winners"
    val bandsPath = s"$dir/bands"
    def bandsOf(df: DataFrame) = operators.Dedup.capBucket(
      operators.Dedup.bandKeys(
        df.select(col("doc_id"), col("text").as("__text")), 3, 6, 2),
      "band_key", "doc_id", 128)
    (0 until 3).foreach { b =>
      val slice = docs.filter(col("doc_id") % 3 === b)
      slice.withColumn("batch_id", lit(b.toLong))
        .write.mode("append").parquet(winnersPath)
      StreamingNearDup.appendToIndex(bandsOf(slice), bandsPath,
        stampParams = Some((3, 6, 2)))
    }
    // the audited form scans batches 0+1; the soak form takes the
    // caller's running accumulation of per-batch increments — the
    // measurement the 100x soak pays must equal the exact scan
    val exact = StreamingCurationFull.touchedTextBytes(
      spark, winnersPath, bandsPath, batchId = 2L)
    val acc = StreamingCurationFull.batchTextBytes(spark, winnersPath, 0L) +
      StreamingCurationFull.batchTextBytes(spark, winnersPath, 1L)
    val viaAcc = StreamingCurationFull.touchedTextBytes(
      spark, winnersPath, bandsPath, batchId = 2L,
      priorStoreBytes = Some(acc))
    assert(exact._1 == acc, s"accumulated $acc != scanned ${exact._1}")
    assert(viaAcc == exact)
    assert(exact._1 > 0L)
  }

  /** Clustered corpus for the SQ8 tests: quantization error is only
    * meaningful when true neighbors exist (cosine ~1), so build a few
    * tight clusters instead of uniform noise.
    */
  private def sqCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1408)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextDouble() * 0.05).toFloat).toSeq)
    }
    rows.toDF("vec_id", "embedding").localCheckpoint()
  }

  test("annIvfSq: codes are one uint8 per dim; decoded scores track exact cosine within quantizer error") {
    val emb = sqCorpus()
    val idx = Similarity.ivfSqIndex(emb, dim = 16, lists = 4)
    val codeRows = idx.select(col("codes")).collect()
    assert(codeRows.length == 200)
    codeRows.foreach { r =>
      val cs = r.getSeq[Int](0)
      assert(cs.length == 16)
      assert(cs.forall(c => c >= 0 && c <= 255))
    }
    val qs = emb.filter(col("vec_id") < 4)
    val sq = Similarity.annIvfSq(emb, qs, k = 5, dim = 16, lists = 4)
      .select("query_id", "neighbor_id", "score").collect()
    val exact = Similarity.topKCosine(emb, qs, k = 50, "vec_id", "embedding")
      .select("query_id", "neighbor_id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sq.nonEmpty)
    sq.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach { ex =>
        // 256 levels/dim on a [-1,1]-ish corpus: decode error per dim
        // <= step/2 ~ 0.004, cosine error far under 0.01
        assert(math.abs(r.getDouble(2) - ex) < 0.01,
          s"$key sq=${r.getDouble(2)} exact=$ex")
      }
    }
  }

  test("IVF-SQ8 artifact: probeAt over the written index == inline composition bit-for-bit; headerless refuses") {
    val emb = sqCorpus()
    val dir = tmpIdx("ann_sq")
    val qs = emb.filter(col("vec_id") >= 196)
    val n = Similarity.ivfSqIndexWrite(emb.filter(col("vec_id") < 196), dir,
      dim = 16, lists = 4)
    assert(n == 196L)
    val at = Similarity.annProbeAt(spark, dir, qs, k = 5)
      .orderBy("query_id", "rank").collect()
    val bounds = Similarity.sqTrainBounds(emb.filter(col("vec_id") < 196), dim = 16)
    val inline = Similarity.annIvfSq(emb.filter(col("vec_id") < 196), qs,
      k = 5, dim = 16, lists = 4, bounds = Some(bounds))
      .orderBy("query_id", "rank").collect()
    assert(at.toSeq == inline.toSeq)
    assert(at.nonEmpty)

    // stored codes decoded under guessed bounds are silently wrong
    // neighbors — a headerless artifact must refuse, not guess
    val bare = tmpIdx("ann_sq_bare")
    spark.read.parquet(dir).write.parquet(bare)
    val ex = intercept[RuntimeException] {
      Similarity.annProbeAt(spark, bare, qs, k = 5)
    }
    assert(ex.getMessage.contains("header"), ex.getMessage)
  }

  /** Clusters FAR from the origin (centers ~ scale 3, noise 0.05):
    * the regime residual encoding exists for — plain PQ must span the
    * global coordinate range with unit-cube codewords, while residual
    * codes only cover the tiny local detail once the coarse term is
    * carried exactly.
    */
  private def resCorpus() = {
    import spark.implicits._
    val rnd = new scala.util.Random(1412)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 6 - 3))
    val rows = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(x => (x + rnd.nextDouble() * 0.05).toFloat).toSeq)
    }
    rows.toDF("vec_id", "embedding").localCheckpoint()
  }

  test("residual IVF-PQ: ADC tracks the true dot far tighter than plain PQ once centroids are learned") {
    val emb = resCorpus()
    val qs = emb.filter(col("vec_id") < 4)
    val cents = Similarity.kmeansCentroids(emb, k = 4, iters = 3, dim = 16,
      seedFromData = true)
    val exact = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .join(broadcast(qs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dotx", Similarity.dot(col("qv"), col("nv")))
      .select("query_id", "neighbor_id", "dotx")
    def mae(residual: Boolean): Double =
      Similarity.annIvfPq(emb, qs, k = 30, dim = 16, lists = 4, m = 8,
          centroids = Some(cents), residual = residual)
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(avg(abs(col("score_e6") / 1e6 - col("dotx"))))
        .collect()(0).getDouble(0)
    val (resErr, plainErr) = (mae(true), mae(false))
    // the coarse term carries |x| ~ 3-magnitude structure exactly;
    // plain codes must approximate it with unit-cube codewords
    assert(resErr < plainErr / 2,
      s"residual ADC error $resErr not well under plain $plainErr")
  }

  test("residual artifact lifecycle: header-trusted probe == inline; appends adopt the encoding; plain/residual mismatch refuses; rebuild preserves it") {
    val emb = resCorpus()
    val dir = tmpIdx("ann_res")
    val prior = emb.filter(col("vec_id") < 160)
    val qs = emb.filter(col("vec_id") >= 196)
    Similarity.ivfPqIndexWrite(prior, dir, dim = 16, lists = 4, m = 8,
      residual = true)
    assert(Similarity.ivfPqReadHeader(spark, dir).exists(_.residual))
    val at = Similarity.annProbeAt(spark, dir, qs, k = 5)
      .orderBy("query_id", "rank").collect()
    val inline = Similarity.annIvfPq(prior, qs, k = 5, dim = 16, lists = 4,
        m = 8, residual = true)
      .orderBy("query_id", "rank").collect()
    assert(at.toSeq == inline.toSeq)
    assert(at.nonEmpty)

    // a plain-encoding append onto a residual artifact would mix
    // incompatible code spaces — the params hash refuses it
    val mid = emb.filter(col("vec_id") >= 160 && col("vec_id") < 196)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqIndexAppend(mid, dir, dim = 16, lists = 4, m = 8)
    }
    assert(ex.getMessage.contains("residual"), ex.getMessage)

    // the header-driven appender ADOPTS the artifact's encoding:
    // grown artifact == one-shot residual build, byte for byte
    assert(Similarity.annAppendAt(mid, dir) == 36L)
    val grown = spark.read.parquet(dir).orderBy("vec_id").collect()
    val oneShot = Similarity.ivfPqIndex(emb.filter(col("vec_id") < 196),
        dim = 16, lists = 4, m = 8, residual = true)
      .orderBy("vec_id").collect()
    assert(grown.toSeq == oneShot.toSeq)

    // rebuild retrains BOTH quantizers (codebooks on residuals) and
    // re-stamps the header with the encoding preserved
    val rep = Similarity.annRebuildAt(emb.filter(col("vec_id") < 196), dir,
      Similarity.RebuildPolicy(kmIters = 1, pqIters = 1))
    assert(rep.rowsAfter == 196L)
    val hdr2 = Similarity.ivfPqReadHeader(spark, dir).get
    assert(hdr2.residual)
    assert(Similarity.annProbeAt(spark, dir, qs, k = 5).count() > 0)
  }

  test("sqTrainBounds: sample-trained bounds clamp out-of-range encodes instead of failing") {
    val emb = sqCorpus()
    // train on the deterministic hash-order half; encode everything —
    // values outside the trained span must clamp to 0/255, not wrap
    val (vmin, vmax) = Similarity.sqTrainBounds(emb, dim = 16,
      trainFraction = 0.5)
    val idx = Similarity.ivfSqIndex(emb, dim = 16, lists = 4,
      bounds = Some((vmin, vmax)))
    val cs = idx.select(explode(col("codes")).as("c"))
      .agg(min("c"), max("c")).collect()(0)
    assert(cs.getInt(0) >= 0 && cs.getInt(1) <= 255)
    assert(idx.count() == 200)
  }

  test("annIvfSqRefineAt: with all lists probed and rerank covering the corpus, refine == exact topKCosine") {
    val dir = tmpIdx("ann_sq_refine")
    val (day1, day2, probes) = driftCorpus()
    val corpus = day1.unionByName(day2).localCheckpoint()
    Similarity.ivfSqIndexWrite(corpus, dir, dim = 8, lists = 4)
    // nprobe = lists and rerank >= |corpus| makes the SQ stage a pure
    // candidate generator over everything — the exact re-rank must
    // then reproduce brute-force cosine top-k bit for bit (probes are
    // disjoint from corpus ids, so self-exclusion never differs)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong, r.getLong(2), r.getDouble(3)))
      .toSet
    val refined = rows(Similarity.annRefineAt(spark, dir, corpus, probes,
      k = 3, nprobe = 4, rerank = 1024))
    val brute = rows(Similarity.topKCosine(corpus, probes, k = 3))
    assert(refined == brute && refined.size == 24)
    // the shipped posture (bounded rerank) still returns full k per
    // query with exact-cosine scores for what it returns
    val shipped = Similarity.annRefineAt(spark, dir, corpus, probes,
      k = 3, nprobe = 2, rerank = 8)
    assert(shipped.groupBy("query_id").count()
      .agg(min("count")).collect()(0).getLong(0) == 3L)
    CheckpointHygiene.free(corpus)
  }

  test("SQ8 artifact lifecycle: append clamps at stale bounds, saturation audit trips, rebuild unclamps and heals recall") {
    import spark.implicits._
    val dir = tmpIdx("ann_sq_lifecycle")
    val rnd = new scala.util.Random(1409)
    // day 1 uniform over [-1,1]^8; day 2 OUTSIDE the day-1 span
    // (1.5..2.5 on every dim) so stale-bounds encoding rail-clamps
    val day1 = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val day2 = (1000 until 1256).map(i =>
      (i.toLong, Seq.fill(8)((1.5 + rnd.nextDouble()).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val probes = (5000 until 5008).map(i =>
      (i.toLong, Seq.fill(8)((1.5 + rnd.nextDouble()).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val corpus = day1.unionByName(day2).localCheckpoint()

    assert(Similarity.ivfSqIndexWrite(day1, dir, dim = 8, lists = 4) == 64L)
    // headerless append refuses (trust seam shared with the probe)
    val bare = tmpIdx("ann_sq_bare")
    day1.write.parquet(bare)
    val ex = intercept[RuntimeException] {
      Similarity.annAppendAt(day2, bare)
    }
    assert(ex.getMessage.contains("not a stamped ANN artifact"), ex.getMessage)

    // header-driven append: admits day 2 under day-1 bounds, and a
    // re-sent batch is idempotent (content-addressed by id)
    assert(Similarity.annAppendAt(day2, dir) == 256L)
    assert(Similarity.annAppendAt(day2, dir) == 0L)
    assert(spark.read.parquet(dir).count() == 320L)
    // every appended value exceeded the stale span -> rail code 255
    val railed = spark.read.parquet(dir).filter(col("neighbor_id") >= 1000L)
      .select(explode(col("codes")).as("c")).agg(min("c")).collect()(0).getInt(0)
    assert(railed == 255)

    // the audit notices: 256 of 320 codes per dim at the rails
    val sat = Similarity.ivfSqSaturation(spark, dir)
      .agg(min(col("sat_pm")), max(col("sat_pm"))).collect()(0)
    assert(sat.getLong(0) >= 800L, s"expected heavy saturation, got $sat")
    assert(Similarity.annNeedsRebuild(spark, dir, corpus).isDefined)
    // stale-bounds recall on drifted probes is degenerate (all day-2
    // codes identical -> decode-dot cannot separate them)
    val rep = Similarity.annRebuildAt(corpus, dir,
      Similarity.RebuildPolicy(trainFraction = 0.0, recallQueries = Some(probes), k = 3,
        nprobe = 4))
    assert(rep.rowsBefore == 320L && rep.rowsAfter == 320L)
    assert(rep.recallAfter > rep.recallBefore && rep.recallAfter >= 0.9,
      s"rebuild should heal drifted recall: $rep")
    // bounds retrained over the grown corpus: rails back to min/max
    // rows only, audit calm, one-call maintainer is now a no-op
    val satAfter = Similarity.ivfSqSaturation(spark, dir)
      .agg(max(col("sat_pm"))).collect()(0).getLong(0)
    assert(satAfter < 100L, s"post-rebuild saturation $satAfter")
    assert(Similarity.annRebuildIfNeeded(corpus, dir).isEmpty)

    // mis-scoped corpus refuses; allowShrink overrides (the
    // ivfPqRebuild guard, same seam)
    val ex2 = intercept[RuntimeException] {
      Similarity.annRebuildAt(day1, dir)
    }
    assert(ex2.getMessage.contains("partial corpus"), ex2.getMessage)
    assert(Similarity.annRebuildAt(day1, dir,
      Similarity.RebuildPolicy(allowShrink = true)).rowsAfter == 64L)

    CheckpointHygiene.free(day1, day2, probes, corpus)
  }

  test("SQ8 saturation stats sidecar: increments equal the exact scan across the lifecycle; legacy falls back; restamp repairs") {
    import spark.implicits._
    val dir = tmpIdx("ann_sq_stats")
    val rnd = new scala.util.Random(1411)
    val day1 = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    val day2 = (1000 until 1128).map(i =>
      (i.toLong, Seq.fill(8)((1.5 + rnd.nextDouble()).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    Similarity.ivfSqIndexWrite(day1, dir, dim = 8, lists = 4)
    // seeded at write: stats == scan before any append
    assert(rows(Similarity.ivfSqSaturationFromStats(spark, dir).get) ==
      rows(Similarity.ivfSqSaturation(spark, dir)))
    // accumulated across two appends (the second a clamping one)
    Similarity.annAppendAt(day2.filter(col("vec_id") < 1064), dir)
    Similarity.annAppendAt(day2.filter(col("vec_id") >= 1064), dir)
    val viaStats = rows(Similarity.ivfSqSaturationFromStats(spark, dir).get)
    assert(viaStats == rows(Similarity.ivfSqSaturation(spark, dir)))
    assert(viaStats.exists(_._5 >= 600L), s"clamped appends must rail: $viaStats")
    // rebuild re-seeds the sidecar inside the swapped artifact
    Similarity.annRebuildAt(day1.unionByName(day2), dir)
    assert(rows(Similarity.ivfSqSaturationFromStats(spark, dir).get) ==
      rows(Similarity.ivfSqSaturation(spark, dir)))

    // legacy artifact (no stats sidecar): FromStats is None and the
    // audit's fallback scan still answers — same verdict either way
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val sc = new org.apache.hadoop.fs.Path(dir,
      graft.sources.ArtifactHeader.sidecarName("ivfsq_stats"))
    assert(fs.delete(sc, false))
    assert(Similarity.ivfSqSaturationFromStats(spark, dir).isEmpty)
    assert(Similarity.annNeedsRebuild(spark, dir, day1.unionByName(day2)).isEmpty)
    // ...and the repair verb recomputes it from the canonical scan
    Similarity.ivfSqStatsRestamp(spark, dir)
    assert(rows(Similarity.ivfSqSaturationFromStats(spark, dir).get) ==
      rows(Similarity.ivfSqSaturation(spark, dir)))
    CheckpointHygiene.free(day1, day2)
  }

  test("jacobiEigen: analytic eigenpairs, orthonormal canonical rotation, A v = lambda v") {
    val (eigs, vecs) = Similarity.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(eigs(0) - 3.0) < 1e-12 && math.abs(eigs(1) - 1.0) < 1e-12)
    val r = 1.0 / math.sqrt(2.0)
    assert(vecs(0).zip(Array(r, r)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    assert(vecs(1).zip(Array(r, -r)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    // a bigger random symmetric matrix: rotation orthonormal, each
    // eigenpair satisfies A v = lambda v, eigenvalues sorted desc
    val rnd = new scala.util.Random(1415)
    val n = 12
    val a = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- i until n) {
      val x = rnd.nextDouble() * 2 - 1; a(i)(j) = x; a(j)(i) = x
    }
    val (ev, rot) = Similarity.jacobiEigen(a)
    assert(ev.sliding(2).forall(p => p(0) >= p(1) - 1e-12))
    for (i <- 0 until n; j <- 0 until n) {
      val dot = (0 until n).map(k => rot(i)(k) * rot(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9, s"RRt($i,$j)=$dot")
    }
    for (i <- 0 until n) {
      val av = (0 until n).map(r0 => (0 until n).map(c => a(r0)(c) * rot(i)(c)).sum)
      assert(av.zip(rot(i)).forall { case (x, v) =>
        math.abs(x - ev(i) * v) < 1e-8 }, s"A v != lambda v for pair $i")
    }
  }

  test("PCA pre-transform: anisotropic corpus projects losslessly enough that PCA-8 refine == exact; artifact carries the rotation") {
    import spark.implicits._
    // rank-4 signal in 16 dims + small noise: the top-variance
    // subspace PCA exists for; neighbors are decided by the signal
    val rnd = new scala.util.Random(1417)
    val dirs = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 2 - 1))
    def mk(id: Long): (Long, Seq[Float]) = {
      val z = Array.fill(4)(rnd.nextDouble() * 2 - 1)
      val v = Array.tabulate(16)(d =>
        ((0 until 4).map(c => z(c) * dirs(c)(d)).sum +
          0.01 * (rnd.nextDouble() - 0.5)).toFloat)
      (id, v.toSeq)
    }
    val corpus = (0 until 256).map(i => mk(i.toLong))
      .toDF("vec_id", "embedding").localCheckpoint()
    val probes = (5000 until 5008).map(i => mk(i.toLong))
      .toDF("vec_id", "embedding").localCheckpoint()

    // the rotation is orthonormal and the projected per-dim variance
    // is non-increasing (the eigenvalue ordering made spatial)
    val rot = Similarity.pcaRotation(corpus, dim = 16, outDim = 16)
    for (i <- rot.indices; j <- rot.indices) {
      val dot = rot(i).zip(rot(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-6)
    }
    val proj = Similarity.pcaProject(corpus, rot)
    val vars = proj.select(posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy("d").agg(avg(col("x") * col("x")).as("m2"), avg("x").as("m1"))
      .orderBy("d").collect().map(r => r.getDouble(1) - r.getDouble(2) * r.getDouble(2))
    assert(vars.sliding(2).forall(p => p(0) >= p(1) - 1e-4),
      s"projected variance not sorted: ${vars.mkString(",")}")
    // rank-4 signal: dims past the noise floor carry ~nothing
    assert(vars(3) > 100 * vars(8), s"variance spectrum too flat: ${vars.mkString(",")}")

    // composed artifact: PCA-8 + IVF-PQ, refine in the ORIGINAL space
    // recovers exact cosine top-k on this corpus (all lists probed,
    // rerank wide) — the projection loss is inside the noise floor
    val dir = tmpIdx("ann_pca")
    assert(Similarity.pcaIvfPqIndexWrite(corpus, dir, dim = 16, outDim = 8,
      lists = 4, m = 8) == 256L)
    // score stringified: exact-cosine paths carry DOUBLE, the ADC
    // probe carries its fixed-point BIGINT — both compare exactly
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong, r.getLong(2), r.get(3).toString))
      .toSet
    val refined = rows(Similarity.annRefineAt(spark, dir, corpus, probes,
      k = 3, nprobe = 4, rerank = 300))
    assert(refined == rows(Similarity.topKCosine(corpus, probes, k = 3)))
    // probeAt == the inline composition bit-for-bit (the stored
    // rotation IS the trained rotation): the inline side builds the
    // SAME index as a plain artifact over the projected corpus —
    // identical shape params resolve identical salted quantizers
    val atPath = rows(Similarity.annProbeAt(spark, dir, probes, k = 3))
    val rot8 = Similarity.pcaRotation(corpus, dim = 16, outDim = 8)
    assert(rot8.flatMap(_.toSeq).sameElements(
        Similarity.pcaRotationAt(spark, dir).flatMap(_.toSeq)),
      "stored rotation must equal the (deterministic) retrained one")
    val plain = tmpIdx("ann_pca_plain")
    Similarity.ivfPqIndexWrite(Similarity.pcaProject(corpus, rot8), plain,
      dim = 8, lists = 4, m = 8)
    val inline = rows(Similarity.annProbeAt(spark, plain,
      Similarity.pcaProject(probes, rot8), k = 3))
    assert(atPath == inline && atPath.nonEmpty)

    // a plain IVF-PQ artifact has no pcarot header: the rotation
    // accessor refuses, and the one probe entry scores it unprojected
    val bare = tmpIdx("ann_pca_bare")
    Similarity.ivfPqIndexWrite(corpus, bare, dim = 16, m = 8)
    val ex = intercept[RuntimeException] {
      Similarity.pcaRotationAt(spark, bare)
    }
    assert(ex.getMessage.contains("no pcarot header"), ex.getMessage)
    assert(rows(Similarity.annProbeAt(spark, bare, probes, k = 3)) ==
      rows(Similarity.annIvfPq(corpus, probes, k = 3, dim = 16)))

    // the dim guards close every raw-vs-projected seam: an
    // already-PROJECTED frame against the projecting artifact refuses at
    // probe AND append instead of slicing the rotation's input
    val late = (9000 until 9032).map(i => mk(i.toLong))
      .toDF("vec_id", "embedding").localCheckpoint()
    val exP = intercept[IllegalArgumentException] {
      Similarity.annProbeAt(spark, dir, Similarity.pcaProject(probes, rot8), k = 3)
    }
    assert(exP.getMessage.contains("PROJECTED"), exP.getMessage)
    val exA = intercept[IllegalArgumentException] {
      Similarity.annAppendAt(Similarity.pcaProject(late, rot8), dir)
    }
    assert(exA.getMessage.contains("PROJECTED"), exA.getMessage)
    // the one appender projects: grown artifact == one-shot build over
    // the union (same rotation, same quantizers)
    assert(Similarity.annAppendAt(late, dir) == 32L)
    assert(Similarity.annAppendAt(late, dir) == 0L) // idempotent
    val grownProbe = rows(Similarity.annProbeAt(spark, dir, probes, k = 3))
    assert(grownProbe.nonEmpty &&
      spark.read.parquet(dir).count() == 288L)
    CheckpointHygiene.free(late)

    // the covariance trainer refuses an unbounded training frame
    val big = spark.range(2200000L)
      .select(col("id").as("vec_id"), array(lit(0.1f)).as("embedding"))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.embedCovariance(big, dim = 1)
    }
    assert(ex2.getMessage.contains("trainSample"), ex2.getMessage)
    CheckpointHygiene.free(corpus, probes)
  }
}
