package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact brute-force cosine top-k as the
  * correctness baseline, and a bucketed sign-random-projection LSH
  * variant as the 100 TB scale path (candidates only within hash
  * buckets, never all-pairs).
  */
object Similarity {
  /** Bench-side row bound for the brute-force
    * [[semanticContamination]] baseline — the largest public eval sets
    * are tens of thousands of items; anything bigger must go through
    * the LSH scale path.
    */
  val DefaultMaxBenchRows: Long = 100000L

  /** Sequential double-precision dot product of two float arrays via
    * codegen'd higher-order functions (zip_with + left-fold aggregate —
    * deterministic summation order, so the DuckDB oracle matches
    * bit-for-bit before rounding).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors of each query vector. `queries` must
    * be small (it is broadcast against the full embedding table); the
    * per-query ranking is a window rank, executed distributed — no
    * driver-side collection of scores.
    */
  def topKCosine(embeddings: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms are computed ONCE per vector, not per candidate pair
    val base = embeddings.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .withColumn("vn", norm(col("v")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv"))))
    val scored = base.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Exact top-k by INNER PRODUCT — the maximum-inner-product-search
    * (MIPS) twin of [[topKCosine]], and the correct ground truth for
    * the IVF-PQ family's recall gates: ADC approximates the raw dot
    * product, not the normalized cosine, and on data whose norms vary
    * the two rankings genuinely disagree (measured: recall of a
    * perfect-codebook ADC ranking against COSINE truth sat at noise
    * level on a norm-varying cluster — the codes were fine, the
    * ground truth was answering a different question).
    */
  def topKDot(embeddings: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = embeddings.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    base.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Semantic decontamination: flag corpus vectors whose best cosine
    * against a (small, broadcast) benchmark set reaches `threshold` —
    * the embedding-space complement of the n-gram
    * [[graft.operators.Curation]] contamination check (paraphrased
    * benchmark leakage that shares no 3-gram still lands next to the
    * original in embedding space).
    *
    * 100 TB shape: benchmark sets are small by nature (thousands of
    * eval items vs billions of train docs), so the bench side is
    * broadcast and the corpus is read ONCE; the per-vector arg-max is
    * a map-side partial `max(struct)` — the shuffle carries one row
    * per corpus vector, never the pair matrix. Tie-break on the
    * highest bench_id (struct max), mirrored in the oracle's
    * `ORDER BY score DESC, bench_id DESC`.
    */
  def semanticContamination(corpus: DataFrame, bench: DataFrame, threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            maxBenchRows: Long = DefaultMaxBenchRows): DataFrame = {
    // Size contract, enforced: this is the EXACTNESS BASELINE and its
    // plan is a broadcast nested-loop (corpus x bench). A large bench
    // side turns it quadratic (measured 37x on the 10x sf1 soak), so
    // refuse early instead of silently melting — the scale path is
    // [[semanticContaminationLsh]]. The limit bounds the probe scan.
    // clamp: maxBenchRows >= Int.MaxValue would overflow the limit()
    // argument into a negative, failing confusingly instead of passing
    val benchRows =
      bench.limit(math.min(maxBenchRows, Int.MaxValue - 1L).toInt + 1).count()
    require(benchRows <= maxBenchRows,
      s"semanticContamination is the brute-force exactness baseline: bench side has " +
        s">$maxBenchRows rows (broadcast nested-loop would go quadratic); " +
        s"use semanticContaminationLsh for large benchmark sets")
    val base = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("vn", norm(col("v")))
    val b = broadcast(bench.select(col(idCol).as("bench_id"), col(vecCol).as("bv"))
      .withColumn("bn", norm(col("bv"))))
    base.join(b, col("vec_id") =!= col("bench_id"))
      .withColumn("score", dot(col("v"), col("bv")) / (col("vn") * col("bn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score").as("s"), col("bench_id").as("b"))).as("m"))
      .select(col("vec_id"), col("m.b").as("bench_id"), round(col("m.s"), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** The scale path of [[semanticContamination]]: sign-LSH bucketed
    * candidate generation (same multi-table hyperplane scheme as
    * [[embedNearDup]]), so each corpus vector is scored only against
    * same-bucket benchmark vectors instead of the whole benchmark —
    * the brute-force variant is exact but O(corpus × bench), which the
    * sf1 soak measured going quadratic (37× on 10× data).
    *
    * 100 TB shape: the bench bucket table (ids only, per-bucket cap)
    * is BROADCAST, so candidate generation is a map-side hash join on
    * the corpus bucket explode — zero shuffle until the candidate set
    * exists; the corpus then re-joins by id ONCE for exact-cosine
    * verification (vectors never ride through the bucket explode), and
    * the per-vector arg-max is the same map-side `max(struct)`. Like
    * every LSH operator here, the bucket algebra is SQL-derivable, so
    * the approximation itself is oracle-checked.
    *
    * PARAMETER CONTRACT AT SCALE — `planes` is sign-LSH's `nlist`:
    * bucket count is FIXED at `2^planes x tables`, so if corpus and
    * bench grow together, per-bucket occupancy grows on both sides and
    * candidate pairs grow ~quadratically until the bench cap
    * saturates. Scale `planes` with the data (≈ log2(corpus /
    * target-bucket-occupancy)), exactly as IVF scales `lists`:
    * measured at the 100x soak (PLANS.md round 9), planes=6 took
    * 130 s where planes=10 took 15.6 s on identical data, sub-linear
    * vs the 10x-smaller corpus. Statistics note: at a fixed
    * `threshold`, a GROWING benchmark raises every corpus vector's
    * max-over-bench cosine (max of n near-independent ~N(0, 1/sqrt d)
    * draws), so the flagged fraction legitimately rises with bench
    * size — set production thresholds from the near-duplicate regime
    * (~0.8+), not the noise floor.
    */
  def semanticContaminationLsh(corpus: DataFrame, bench: DataFrame, threshold: Double,
                               dim: Int, planes: Int = 6, tables: Int = 8,
                               idCol: String = "vec_id", vecCol: String = "embedding",
                               bucketCap: Int = 128): DataFrame = {
    val keys = lshBucketKeysUdf(planes, tables, dim)
    val cv = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("vn", norm(col("v")))
    val bv = bench.select(col(idCol).as("bench_id"), col(vecCol).as("bv"))
      .withColumn("bn", norm(col("bv")))
    val bb = Dedup.capBucket(
      bv.withColumn("bucket", explode(keys(col("bv")))).select("bucket", "bench_id"),
      "bucket", "bench_id", bucketCap)
    val cb = cv.withColumn("bucket", explode(keys(col("v"))))
      .select(col("bucket"), col("vec_id"))
    val candidates = cb.join(broadcast(bb), "bucket")
      .select(col("vec_id"), col("bench_id")).distinct()
    candidates
      .join(cv, "vec_id")
      .join(broadcast(bv), "bench_id")
      .withColumn("score", dot(col("v"), col("bv")) / (col("vn") * col("bn")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("score").as("s"), col("bench_id").as("b"))).as("m"))
      .select(col("vec_id"), col("m.b").as("bench_id"), round(col("m.s"), 6).as("score"))
      .filter(col("score") >= threshold)
  }

  /** Deterministic pseudo-random hyperplane for sign-LSH, derived from
    * md5 so it is reproducible across executors/sessions with no RNG
    * state, and SQL-expressible for the oracle-checked operators:
    * the first 15 hex chars of md5("k|d") as
    * a 60-bit integer, mapped to [-1, 1). DuckDB computes the identical
    * value via `('0x' || substr(md5(k||'|'||d), 1, 15))::BIGINT`.
    */
  def hyperplaneSql(k: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val hex = md.digest(s"$k|$d".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 576460752303423488.0 - 1.0 // / 2^59
    }
  }

  /** Embedding near-duplicate pairs: sign-LSH bucketed candidate
    * generation (candidates ONLY within a bucket — never all-pairs),
    * exact-cosine verification at `threshold`. The whole algebra
    * (hyperplanes included, via [[hyperplaneSql]]) is reproducible in
    * SQL, so the DuckDB oracle mirrors candidate generation and misses
    * match on both sides — same contract as the MinHash near-dup.
    *
    * Default 6 planes x 8 tables is tuned for genuine near-duplicates
    * (cos >= 0.9 -> ~0.98 recall) while keeping the random-pair
    * candidate rate ~10%; the synthetic embeddings have no pairs above
    * cos 0.52, so measured recall there is the worst case, mirrored by
    * the oracle either way.
    */
  /** Sign-LSH bucket keys `"t:bits"` for `tables` tables of `planes`
    * hyperplanes (salts `t*planes+p` through [[hyperplaneSql]]) — the
    * shared candidate-generation kernel of [[embedNearDup]] and
    * [[semanticContaminationLsh]].
    */
  /** Scalar per-row twin of the sign-LSH bucket-key kernel — shared by
    * the batch UDF and the streaming probe
    * ([[graft.streaming.StreamingSemDecontaminate]]) so batch and
    * stream bucket algebra cannot drift. Serializable closure: the
    * hyperplane table is plain doubles.
    */
  private[graft] def bucketKeysScalar(planes: Int, tables: Int, dim: Int)
      : Seq[Float] => Seq[String] = {
    val hps: Array[Array[Double]] = Array.tabulate(tables * planes)(k => hyperplaneSql(k, dim))
    val nPlanes = planes
    val nTables = tables
    (v: Seq[Float]) => {
      val arr = v.toArray
      (0 until nTables).map { t =>
        val sb = new StringBuilder(nPlanes + 4)
        sb.append(t).append(':')
        var p = 0
        while (p < nPlanes) {
          val hp = hps(t * nPlanes + p)
          var dot = 0.0
          var i = 0
          while (i < arr.length) { dot += arr(i).toDouble * hp(i); i += 1 }
          sb.append(if (dot >= 0) '1' else '0')
          p += 1
        }
        sb.result()
      }
    }
  }

  /** Scalar twin of the sequential [[dot]] fold: identical summation
    * order and double ops, so stream-side cosine scores are
    * bit-identical to the batch column algebra.
    */
  private[graft] def dotScalar(a: Seq[Float], b: Seq[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private def lshBucketKeysUdf(planes: Int, tables: Int, dim: Int)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(bucketKeysScalar(planes, tables, dim))

  def embedNearDup(embeddings: DataFrame, threshold: Double,
                   dim: Int, planes: Int = 6, tables: Int = 8,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   bucketCap: Int = 128): DataFrame = {
    val bucketKeys = lshBucketKeysUdf(planes, tables, dim)
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("vn", norm(col("v"))).localCheckpoint()
    // bucket table carries ids only — candidate pairs must never
    // shuffle the vector payloads (that is the whole cost at scale).
    // Hot buckets (k identical vectors -> k^2 pairs) are capped
    // deterministically; see Dedup.capBucket.
    val b = Dedup.capBucket(
      vecs.withColumn("bucket", explode(bucketKeys(col("v")))).select("bucket", "id"),
      "bucket", "id", bucketCap)
      .localCheckpoint()
    val candidates = b.as("l").join(b.as("r"), Seq("bucket"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("vec_a"), col("r.id").as("vec_b"))
      .distinct()
    candidates
      .join(vecs.select(col("id").as("vec_a"), col("v").as("va"), col("vn").as("na")), "vec_a")
      .join(vecs.select(col("id").as("vec_b"), col("v").as("vb"), col("vn").as("nb")), "vec_b")
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Recall@k of an approximate neighbor list against the exact one:
    * per query, the fraction of exact top-k neighbors the index
    * surfaced. The "measure, don't guess" companion of every ANN
    * operator here — index quality (nprobe/lists, planes/tables)
    * becomes an oracle-checkable number instead of a hope. Both inputs
    * are (query_id, neighbor_id[, ...]) frames; exact drives the
    * denominator, so queries the index missed entirely still appear
    * with recall 0.
    */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(
        approx.select(col("query_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        round(col("n_hit").cast("double") / k, 6).as("recall"))

  /** Symmetric int8 quantization of an embedding column — the memory
    * lever at 100 TB (4x smaller vectors, integer SIMD dot products):
    * per-vector scale s = max(|v_i|), q_i = floor(v_i * 127 / s).
    * One imperative UDF pass per row — the HOF formulation
    * (transform + aggregate) produced identical values but never
    * enters whole-stage codegen (same pathology as shinglesRaw /
    * winnowUdf); the double ops here are the exact IEEE sequence the
    * DuckDB oracle runs, and `floor` keeps the engines' differing CAST
    * rounding modes out of the contract.
    */
  private[graft] val quantizeUdf = udf { (v: Seq[Double]) =>
    if (v == null) null
    else {
      var s = 0.0d
      var i = 0
      while (i < v.length) { val a = math.abs(v(i)); if (a > s) s = a; i += 1 }
      if (s == 0.0d) s = 1.0d
      val q = new Array[Long](v.length)
      i = 0
      while (i < v.length) { q(i) = math.floor(v(i) * 127.0 / s).toLong; i += 1 }
      (q, s)
    }
  }

  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol), quantizeUdf(col(vecCol).cast("array<double>")).as("qs"))
      .select(col(idCol), col("qs._1").as("qv"), col("qs._2").as("scale"))

  /** Integer dot product as a NATIVE Catalyst expression
    * (graft.functions.IntDotExpr): stays inside whole-stage codegen,
    * reads ArrayData primitives in place — supersedes both the
    * interpreted HOF tree and the boxing Scala UDF it replaced.
    */
  private[graft] def qdotNative(a: Column, b: Column): Column =
    graft.functions.IntDotCol(a, b)

  /** Per-dimension embedding moment statistics over the int8 codes —
    * the aggregate a whitening/PCA-prep stage needs (means, variances,
    * adjacent-dim covariances), computed as INTEGER sums so the
    * distributed aggregation is bit-reproducible under any
    * partitioning (float moment sums are summation-order-dependent —
    * the same trap [[kmeans]] avoids with fixed-point means).
    *
    * Scale shape: one posexplode (dim x n rows of 3 small ints) + one
    * map-side-combined groupBy(dim) — 64 output rows regardless of
    * corpus size. The full 64x64 covariance would follow the same
    * pattern with a dim-pair explode; adjacent-dim products cover the
    * oracle-checked exactness contract without the 64x row blowup.
    */
  def embedMoments(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val q = quantizeInt8(embeddings, idCol, vecCol)
    q.select(col("qv"), posexplode(col("qv")).as(Seq("dim", "c")))
      // code of the NEXT dim (0 past the end) for the adjacent-dim
      // cross moment; try_element_at is 1-based and null past the end
      .withColumn("cn", coalesce(expr("try_element_at(qv, dim + 2)"), lit(0L)))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("sum_c"),
        sum(col("c") * col("c")).as("sum_c2"),
        sum(col("c") * col("cn")).as("sum_c_next"))
      .withColumn("dim", col("dim").cast("long"))
  }

  /** Exact top-k by QUANTIZED cosine: integer dot products over the
    * int8 codes (the arithmetic a SIMD kernel would run), ranked
    * per query. Scores are reported at quantized precision — the
    * approximation is the point; QuantizeSpec bounds its error vs the
    * float cosine.
    */
  def topKQuantized(embeddings: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // integer dot product: order-independent sums -> exact; native
    // expression keeps the scoring projection in one codegen span
    def qdot(a: Column, b: Column): Column = qdotNative(a, b)
    val base = quantizeInt8(embeddings, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("qv").as("v"))
      .withColumn("vn", sqrt(qdot(col("v"), col("v")).cast("double")))
    val q = broadcast(quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("qv").as("qv"))
      .withColumn("qn", sqrt(qdot(col("qv"), col("qv")).cast("double"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    base.join(q, col("query_id") =!= col("neighbor_id"))
      .withColumn("score", qdot(col("qv"), col("v")).cast("double") / (col("qn") * col("vn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Deterministic pseudo-centroid for IVF list `c`: md5-derived like
    * [[hyperplaneSql]] (salt "ivf|c|d"), so the coarse quantizer is
    * reproducible across executors/sessions AND SQL-expressible for
    * the oracle. A production deployment would swap in k-means||
    * centroids; the index/probe algebra is identical.
    */
  def ivfCentroidSql(c: Int, dim: Int): Array[Double] = saltedCentroid("ivf", c, dim)

  /** Deterministic pseudo-random unit-cube point from md5(salt|c|d) —
    * the SQL-derivable centroid/seed primitive shared by the IVF index
    * and k-means init (the oracle inlines the identical algebra).
    */
  def saltedCentroid(salt: String, c: Int, dim: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { d =>
      val hex = md.digest(s"$salt|$c|$d".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16).toDouble / 576460752303423488.0 - 1.0 // / 2^59
    }
  }

  /** Distributed Lloyd's k-means over an embedding column — the
    * workhorse of corpus clustering (topic bucketing, SemDeDup's
    * cluster stage, mixture balancing). `iters` rounds of
    * assign-then-recompute from deterministic md5 seeds, returning the
    * final `(vec_id, cluster_id, score)` assignment (`score` is the
    * argmax decision value `v.c - ||c||^2/2`, rounded to 6 digits).
    *
    * Scale + determinism design:
    *  - per round: ONE scan of the (checkpointed, quantized) vectors,
    *    a k x dim map-side-combined partial aggregate, and a k-row
    *    collect — centroids are driver state, exactly like every
    *    production distributed k-means (MLlib included);
    *  - the mean recompute sums FIXED-POINT coordinates (floor(x *
    *    2^20) as long): integer addition is associative/commutative,
    *    so the distributed sum is bit-reproducible regardless of
    *    partitioning/AQE/speculation — and exactly reproducible by the
    *    DuckDB oracle. A double sum here would make the result depend
    *    on partition merge order. (At extreme scale the long sum needs
    *    ~2^26 headroom per element: 2^20 scale x 1e12-row clusters
    *    still fits 2^63 for |x| <= 60; larger corpora would shard the
    *    sum or widen to decimal.)
    *  - empty clusters keep their previous centroid (mirrored by the
    *    oracle's per-dimension coalesce).
    */
  def kmeans(embeddings: DataFrame, k: Int = 8, iters: Int = 3, dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qdf = kmQuantized(embeddings, idCol, vecCol)
    val cents = kmeansCentroidsOf(qdf, k, iters, dim)
    val assign = kmAssignUdf(cents)
    qdf.select(col("id").as(idCol), assign(col("v")).as("a"))
      .select(col(idCol), col("a._1").as("cluster_id"),
        round(col("a._2"), 6).as("score"))
  }

  /** The learned centroids alone — for operators that consume them as
    * an index parameter ([[annIvf]]'s `centroids` option). Same loop,
    * same fixed-point algebra, bit-identical to what [[kmeans]]
    * assigns against.
    *
    * `trainSample > 0` bounds TRAINING to that many vectors, picked in
    * deterministic md5-hash order (the `sampleK`/`hashSplit`
    * convention — stable under re-runs and partitioning, zero RNG
    * state): at 100 TB an index build must not scan the corpus
    * `iters` times, and k-means needs only a representative sample —
    * Faiss's convention is ~max(10k, 256·k) training vectors
    * regardless of corpus size. 0 (the default) trains on everything,
    * preserving the oracle-gated bit-exact contract.
    */
  def kmeansCentroids(embeddings: DataFrame, k: Int = 8, iters: Int = 3, dim: Int = 64,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      trainSample: Int = 0, trainFraction: Double = 0.0,
                      seedFromData: Boolean = false): Array[Array[Double]] = {
    val qdf = kmQuantized(
      trainFrameOf(embeddings, idCol, trainSample, trainFraction), idCol, vecCol)
    val init = if (seedFromData) Some(dataSeedVectors(qdf, k, "id", "v")) else None
    val cents = kmeansCentroidsOf(qdf, k, iters, dim, init)
    graft.plans.CheckpointHygiene.free(qdf)
    cents
  }

  /** Deterministic data-derived k-means initialization: the `n`
    * training vectors smallest in md5("kmseed|" + id) order — the
    * fixed-seed analog of Forgy-style random-from-data seeding every
    * production trainer uses (uniform hash-order sampling; NOT
    * k-means++ — no D²-distance spreading between picks, the
    * mass-proportionality comes purely from row density). Salted
    * CONSTANT seeds (the oracle-shared
    * default) have a real failure mode that matters exactly when a
    * REBUILD is needed: Lloyd's iteration can only subdivide a dense
    * region if >= 2 seeds end up claiming parts of it, and a drifted
    * cluster far from every constant seed is captured whole by one
    * seed forever (measured: rebuilding a 80%-mass drifted corpus
    * with salted seeds made BOTH balance and ADC recall worse).
    * Hash-order data seeds land in dense regions in proportion to
    * their mass, so the dominant cluster gets multiple seeds and
    * splits. Still zero RNG state, stable under re-runs and
    * partitioning, and SQL-derivable (ORDER BY md5(...) LIMIT n), so
    * data-seeded training remains oracle-checkable end to end.
    */
  private[graft] def dataSeedVectors(train: DataFrame, n: Int,
                                     idCol: String, vecCol: String): Array[Array[Double]] = {
    val rows = train
      .select(col(idCol).cast("string").as("__id"), col(vecCol).as("__v"))
      .withColumn("__h", md5(concat(lit("kmseed|"), col("__id"))))
      .orderBy(col("__h"), col("__id"))
      .limit(n)
      .collect()
    require(rows.length == n,
      s"seedFromData needs >= $n training vectors, got ${rows.length}")
    rows.map(_.getAs[Seq[Float]]("__v").map(_.toDouble).toArray)
  }

  /** Deterministic bounded training sample: keep the vectors whose
    * 60-bit md5("kmtrain|" + id) value falls below a threshold fraction
    * of the hash space — a pure map-side FILTER (zero shuffle, zero
    * sort). The first cut used a hash-order sort-limit, but a global
    * limit funnels every partition's candidates through ONE task — at
    * the 100x soak that moved ~400 MB of vectors through a single
    * thread and cost MORE than the bounded training saved (probe:
    * 8.1 s vs 6.4 s full). The threshold form is reproducible across
    * runs/partitionings, a larger fraction strictly extends a smaller
    * one (thresholds nest), and the size is ~Binomial(total, p) —
    * exact-k is not a training requirement.
    *
    * Two entry forms: `trainFraction` (preferred) is a STATIC fraction
    * — the threshold is a compile-time constant shared with the oracle
    * by construction, and building the frame runs NO Spark job;
    * `trainSample` is an absolute target count, which must derive the
    * fraction from one eager count() of the input (kept for callers
    * who genuinely think in rows; at scale the count is parquet footer
    * metadata, but plan construction stops being lazy).
    */
  private def trainFrameOf(embeddings: DataFrame, idCol: String,
                           n: Int, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction < 1.0,
      s"trainFraction $fraction must be in [0, 1): 1.0 means 'train on everything' — pass 0")
    require(n <= 0 || fraction == 0.0,
      "pass trainSample or trainFraction, not both")
    if (fraction > 0.0) trainThreshOf(embeddings, idCol, fractionThresh(fraction))
    else if (n <= 0) embeddings
    else {
      val total = embeddings.count()
      if (total <= n) embeddings
      else trainThreshOf(embeddings, idCol,
        (BigDecimal(n) / BigDecimal(total) * BigDecimal(1152921504606846976L)).toLong)
    }
  }

  /** `fraction` of the 60-bit hash space as an exact threshold — the
    * constant the DuckDB oracle embeds literally (0.25 ->
    * 288230376151711744 = 2^60/4), equal on both engines by
    * construction instead of via two data-dependent counts.
    */
  private[graft] def fractionThresh(fraction: Double): Long =
    (BigDecimal(fraction) * BigDecimal(1152921504606846976L)).toLong

  private def trainThreshOf(embeddings: DataFrame, idCol: String, thresh: Long): DataFrame =
    embeddings.filter(
      conv(substring(md5(concat(lit("kmtrain|"), col(idCol).cast("string"))), 1, 15), 16, 10)
        .cast("long") < thresh)

  private def kmQuantized(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val scale = 1048576.0 // 2^20
    val quantize = udf { (v: Seq[Float]) =>
      v.map(x => math.floor(x.toDouble * scale).toLong).toArray
    }
    Par.spread(embeddings)
      .select(col(idCol).as("id"), col(vecCol).as("v"), quantize(col(vecCol)).as("qv"))
      .localCheckpoint() // re-scanned every round; lineage cut once
  }

  private def kmeansCentroidsOf(qdf: DataFrame, k: Int, iters: Int, dim: Int,
                                init: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    val scale = 1048576.0
    var cents: Array[Array[Double]] =
      init.getOrElse(Array.tabulate(k)(c => saltedCentroid("km", c, dim)))
    for (_ <- 1 to iters) {
      val assign = kmAssignUdf(cents)
      val sums = qdf
        .select(assign(col("v")).getField("_1").as("cl"), col("qv"))
        .groupBy("cl")
        .agg(count(lit(1)).as("n"), (0 until dim).map(d => sum(col("qv")(d)).as(s"s$d")): _*)
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { row =>
        val c = row.getAs[Int]("cl")
        val n = row.getAs[Long]("n")
        var d = 0
        while (d < dim) { next(c)(d) = row.getAs[Long](s"s$d").toDouble / (n * scale); d += 1 }
      }
      cents = next
    }
    cents
  }

  /** Cluster-balanced sampling: k-means topic clusters, then a
    * deterministic per-cluster quota in md5-hash order — the
    * "balance the corpus across semantic clusters" stage (SemDeDup /
    * D4-style diversification): without it, dominant topics keep their
    * share through every quality gate. Hash-order picks make the
    * sample stable under re-runs AND corpus growth with zero RNG state
    * across 1000 executors (the `hashSplit`/`sampleK` convention), and
    * smaller quotas are prefixes of larger ones. The rank filter runs
    * as a partial map-side WindowGroupLimit — each map task forwards
    * at most `perCluster` rows per cluster.
    */
  def clusterBalancedSample(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
                            dim: Int = 64, perCluster: Int = 25,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    kmeans(embeddings, k, iters, dim, idCol, vecCol)
      .select(col(idCol), col("cluster_id"))
      .withColumn("__h", md5(concat(lit("cbs|"), col(idCol).cast("string"))))
      .withColumn("pick_rank", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("__h"), col(idCol))))
      .filter(col("pick_rank") <= perCluster)
      .select(col("cluster_id"), col(idCol), col("pick_rank").cast("long").as("pick_rank"))
  }

  /** Cluster-id-only assignment over an explicit centroid table (the
    * shared argmax rule) — diagnostics and learned-centroid reuse.
    */
  private[graft] def assignClCol(cents: Array[Array[Double]])(v: Column): Column =
    kmAssignUdf(cents)(v).getField("_1")

  /** argmax_c (v . c - ||c||^2/2) with ties to the smaller cluster id —
    * sequential-order double folds so the oracle's list_sum agrees
    * bit-for-bit (the q_ann_ivf-proven pattern). Returns (cl, score) as
    * a tuple: case classes nested in objects break the encoder's
    * codegen (zero-arg constructor call) and silently drop the whole
    * projection to interpreted eval.
    */
  private def kmAssignUdf(cents: Array[Array[Double]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val normHalf: Array[Double] = cents.map(c => 0.5 * c.foldLeft(0.0)((a, x) => a + x * x))
    udf { (v: Seq[Float]) =>
      val arr = v.toArray
      var best = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var dotv = 0.0
        var i = 0
        while (i < arr.length) { dotv += arr(i).toDouble * cent(i); i += 1 }
        val s = dotv - normHalf(c)
        if (s > bestS) { bestS = s; best = c }
        c += 1
      }
      (best, bestS)
    }
  }

  /** Semantic dedup (the SemDeDup shape): coarse-cluster every
    * embedding to its nearest deterministic IVF centroid, generate
    * candidate pairs ONLY within a cluster (capped — see
    * [[Dedup.capBucket]]), verify by exact cosine >= `tau`, and drop
    * the higher id of each verified pair. Returns the surviving
    * (vec_id, list_id) rows.
    *
    * Scale shape: identical to the IVF index build — assignment is one
    * scan, the pair join carries ids only within list_id buckets, and
    * vectors re-join per candidate. Near-identical embeddings land in
    * the same list by construction (same argmax), so the restriction
    * to within-cluster pairs is the semantic-dedup contract, not an
    * approximation loss worth verifying globally.
    */
  def semanticDedup(embeddings: DataFrame, tau: Double, dim: Int,
                    lists: Int = 16, idCol: String = "vec_id",
                    vecCol: String = "embedding", bucketCap: Int = 128): DataFrame = {
    val assigned = Par.spread(embeddings)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id", ivfAssignUdf(dim, lists)(col("v")))
      .withColumn("vn", norm(col("v")))
      .localCheckpoint() // feeds bucket table, both verify sides, and the output
    val b = Dedup.capBucket(assigned.select("list_id", "id"), "list_id", "id", bucketCap)
    val candidates = b.as("l").join(b.as("r"), Seq("list_id"))
      .filter(col("l.id") < col("r.id"))
      .select(col("l.id").as("vec_a"), col("r.id").as("vec_b"))
    val drop = candidates
      .join(assigned.select(col("id").as("vec_a"), col("v").as("va"), col("vn").as("na")), "vec_a")
      .join(assigned.select(col("id").as("vec_b"), col("v").as("vb"), col("vn").as("nb")), "vec_b")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
      .select(col("vec_b").as("id")).distinct()
    assigned.join(drop, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("list_id"))
  }

  /** Hard-negative mining for contrastive training data: for each
    * query vector, the top-k most cosine-similar vectors OUTSIDE the
    * query's own IVF coarse cluster — semantically close enough to be
    * hard, but from a different coarse region, the standard
    * in-batch-negatives upgrade for embedding-model training sets.
    *
    * Scale shape: queries broadcast with precomputed norms + list
    * assignments; candidates keep per-vector norms computed once; the
    * per-query ranking is a distributed window rank. This is the
    * exhaustive-scan contract (same as [[topKCosine]]); at index
    * scale the [[annIvf]] probe path composes identically with the
    * `nlist != qlist` exclusion.
    */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame, k: Int,
                    dim: Int = 64, lists: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assign = ivfAssignUdf(dim, lists)
    val base = embeddings.select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .withColumn("nlist", assign(col("v")))
      .withColumn("vn", norm(col("v")))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qlist", assign(col("qv")))
      .withColumn("qn", norm(col("qv"))))
    val scored = base
      .join(q, col("query_id") =!= col("neighbor_id") && col("nlist") =!= col("qlist"))
      .withColumn("score", dot(col("qv"), col("v")) / (col("qn") * col("vn")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Nearest-centroid assignment UDF shared by [[semanticDedup]],
    * [[hardNegatives]] and the streaming index maintainer
    * ([[graft.streaming.StreamingIvf]]) over the salted centroids:
    * [[ivfNearestFn]], exact L2 argmin with ties to the smaller list
    * id, refusing a ragged row.
    */
  def ivfAssignUdf(dim: Int, lists: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(ivfNearestFn(Array.tabulate(lists)(c => ivfCentroidSql(c, dim))))

  /** IVF (inverted-file) approximate nearest neighbors — the classic
    * coarse-quantize-then-probe scale path, complementing the sign-LSH
    * variant: every vector is assigned to its nearest of `lists`
    * centroids (exact L2 argmin = argmax of dot - ||c||^2/2); a query
    * probes its `nprobe` nearest lists and ranks ONLY those lists'
    * members by exact cosine. At 100 TB the index table carries
    * (list_id, id) pairs, the probe join is an equi-join on list_id,
    * and per-query work is corpus_size * nprobe / lists — vectors
    * never pairwise-join outside probed lists.
    *
    * All float math is sequential-order double arithmetic (same
    * contract as [[dot]]), so the DuckDB oracle reproduces assignment,
    * probing and scores bit-for-bit.
    */
  def annIvf(embeddings: DataFrame, queries: DataFrame, k: Int,
             dim: Int, lists: Int = 16, nprobe: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding",
             centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    // Default: salted deterministic centroids (SQL-derivable, so the
    // oracle mirrors the whole index algebra). SCALE CONTRACT: random
    // centroids do not partition isotropic data — growing `lists`
    // without learning makes the argmax winner-take-all (measured at
    // the 100x soak: 160 salted centroids put 99.2% of 200k vectors in
    // ONE list, so probing top-4 lists scanned the whole corpus).
    // Production IVF passes `centroids = Some(kmeansCentroids(...))` —
    // learned, periodically re-trained (the StreamingIvf posture) —
    // and scales nlist ~ sqrt(n) with balanced lists.
    val cents: Array[Array[Double]] =
      centroids.getOrElse(Array.tabulate(lists)(c => ivfCentroidSql(c, dim)))
    require(cents.length == lists, s"centroids.length ${cents.length} != lists $lists")
    val assign = udf(ivfNearestFn(cents))
    val probe = udf(ivfProbeListsFn(cents, nprobe))

    val base = Par.spread(embeddings)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .withColumn("list_id", assign(col("v")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("list_id", explode(probe(col("qv"))))
    val candidates = base.join(q, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .withColumn("score", dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Bucketed approximate nearest neighbors: `planes` sign bits form an
    * LSH bucket key; candidates are generated ONLY within a bucket
    * (equi-join), then exact-cosine ranked per query. Multiple
    * independent tables (`tables`) trade recall for cost. The scale
    * path for large query sets where [[topKCosine]]'s broadcast is no
    * longer viable.
    *
    * Bucket keys are computed in one compiled pass over the vector
    * (tables x planes sign projections) — the HOF-expression
    * equivalent builds a (tables x planes)-node expression tree that
    * codegen chokes on.
    *
    * Note: on uniformly random vectors (like the synthetic embeddings
    * table — max pairwise cosine ~0.5) sign-LSH is information-poor by
    * construction; recall is asserted against brute force in
    * SimilaritySpec with data-appropriate expectations.
    */
  def annLsh(embeddings: DataFrame, queries: DataFrame, k: Int,
             dim: Int, planes: Int = 4, tables: Int = 8,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val hps: Array[Array[Double]] =
      Array.tabulate(tables * planes)(i => hyperplaneSql(i, dim))
    val nPlanes = planes
    val nTables = tables
    val bucketKeys = udf { (v: Seq[Float]) =>
      val arr = v.toArray
      (0 until nTables).map { t =>
        val sb = new StringBuilder(nPlanes + 4)
        sb.append(t).append(':')
        var p = 0
        while (p < nPlanes) {
          val hp = hps(t * nPlanes + p)
          var dot = 0.0
          var i = 0
          while (i < arr.length) { dot += arr(i).toDouble * hp(i); i += 1 }
          sb.append(if (dot >= 0) '1' else '0')
          p += 1
        }
        sb.result()
      }
    }

    val base = Par.spread(embeddings)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .withColumn("bucket", explode(bucketKeys(col("v"))))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("bucket", explode(bucketKeys(col("qv"))))

    val candidates = base.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "v")
      .dropDuplicates("query_id", "neighbor_id")

    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    candidates
      .withColumn("score", dot(col("qv"), col("v")) / (norm(col("qv")) * norm(col("v"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) scoring —
    * the memory lever that makes billion-vector search feasible: each
    * base vector is reduced to `m` sub-space code bytes (here 8 codes
    * of 16 centroids = 8 x 4 bits ~ 4 bytes vs 256 bytes of floats, a
    * 64x shrink), and queries score candidates through a per-query
    * m x codes lookup table without ever touching the raw base
    * vectors. This is the residual-free half of IVF-PQ (Jegou et al.,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011);
    * compose with [[annIvf]]'s coarse lists for the full shape.
    *
    * Scale + determinism design:
    *  - codebooks are the same md5-salted deterministic centroids as
    *    the IVF index ([[saltedCentroid]] with salt `pq<s>`), so the
    *    whole index algebra — encode, LUT, ADC — is SQL-derivable and
    *    oracle-checked end-to-end, not just "returns k rows";
    *  - encoding is ONE compiled pass per vector (m x codes x subDim
    *    multiply-adds in a while loop), emitting a tiny int array; at
    *    100 TB the coded table is what you persist and scan, which is
    *    the entire point of PQ;
    *  - ADC scores are fixed-point: each LUT cell is
    *    floor(dot(q_sub, codeword) * 1e6) as a long, and a candidate's
    *    score is an integer SUM of m cells — associative/commutative,
    *    so ranking is bit-identical under any partitioning, AQE plan,
    *    or speculative re-execution (a double sum here would tie the
    *    ranking to partition merge order);
    *  - queries are broadcast (one LUT row each); the base side never
    *    shuffles — the rank window partitions by query_id only.
    *
    * Returns (query_id, rank, neighbor_id, score_e6) — `score_e6` is
    * the micro-unit ADC approximation of the dot product.
    */
  def annPq(embeddings: DataFrame, queries: DataFrame, k: Int, dim: Int,
            m: Int = 8, codes: Int = 16,
            idCol: String = "vec_id", vecCol: String = "embedding",
            codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    // Salted deterministic codebooks by default (SQL-derivable -> the
    // oracle mirrors encode/LUT/ADC end-to-end). Same scale contract
    // as annIvf's centroids: random codewords quantize isotropic data
    // poorly (the nearest-codeword argmax concentrates on few cells),
    // which is most of the measured recall gap; production passes
    // codebooks = Some(pqLearnedCodebooks(...)) — per-subspace k-means,
    // re-trained with the data like any Faiss PQ index.
    val cbs = codebooks.getOrElse(pqCodebooks(m, codes, subDim))
    require(cbs.length == m && cbs.forall(_.length == codes),
      s"codebooks shape ${cbs.length}x${cbs.headOption.map(_.length).getOrElse(0)} != ${m}x$codes")
    val encode = pqEncodeUdf(cbs, subDim)
    val lut = pqLutUdf(cbs, subDim)
    val adc = pqAdcUdf(m, codes)

    val base = Par.spread(embeddings)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .withColumn("codes", encode(col("v"))).drop("v")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("lut", lut(col("qv"))).drop("qv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_e6").desc, col("neighbor_id"))
    base.join(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score_e6", adc(col("codes"), col("lut")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score_e6"))
  }

  private[graft] def pqCodebooks(m: Int, codes: Int, subDim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(m)(s => Array.tabulate(codes)(c => saltedCentroid(s"pq$s", c, subDim)))

  /** Learned PQ codebooks: per-subspace k-means over the sliced
    * vectors — the production counterpart of the salted defaults,
    * exactly as [[kmeansCentroids]] is to [[annIvf]]'s salted
    * centroids. m driver-looped trainings of `iters` rounds each (an
    * index-build cost, amortized over the index lifetime); the same
    * fixed-point mean algebra as [[kmeans]], so training is
    * bit-reproducible under any partitioning.
    *
    * `trainSample > 0` bounds training to a deterministic hash-order
    * sample (see [[kmeansCentroids]]) picked ONCE and shared by all m
    * subspace trainings — at 100 TB the build cost drops from
    * m·iters corpus scans to m·iters scans of a fixed-size sample.
    */
  def pqLearnedCodebooks(embeddings: DataFrame, dim: Int, m: Int = 8,
                         codes: Int = 16, iters: Int = 2,
                         vecCol: String = "embedding", idCol: String = "vec_id",
                         trainSample: Int = 0,
                         trainFraction: Double = 0.0,
                         seedFromData: Boolean = false): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    // one sample for every subspace: the slice UDFs all read the same
    // (lazily checkpointed) bounded frame instead of m corpus scans
    val train =
      if (trainSample <= 0 && trainFraction <= 0.0) embeddings
      else trainFrameOf(embeddings, idCol, trainSample, trainFraction)
        .localCheckpoint(eager = false)
    // data seeds: ONE hash-order pick of `codes` full vectors shared
    // by all m subspaces (sliced per subspace) — the [[dataSeedVectors]]
    // rationale; salted constants otherwise (the oracle-shared default)
    val initSeeds: Option[Array[Array[Double]]] =
      if (seedFromData) Some(dataSeedVectors(
        train.select(col(idCol), col(vecCol)), codes, idCol, vecCol))
      else None
    // ALL m subspace trainings ride ONE aggregate per iteration
    // (grouped by (subspace, cluster)) instead of m independent
    // kmeans runs: iters corpus passes instead of m x iters, and
    // 1 + iters Spark jobs instead of m x (1 + iters) — bit-identical
    // per subspace (same salted seeds, same slice/quantize/argmax/
    // fixed-point-mean algebra; grouping by s partitions the rows
    // exactly as the per-subspace frames did), held by Round11OpsSpec
    // against the per-subspace loop and by the q_ann_pq_learned /
    // q_ann_pq_sampled oracles end to end.
    val scale = 1048576.0
    val explodeSlices = udf { (v: Seq[Float]) =>
      (0 until m).map { s =>
        val sl = v.slice(s * subDim, (s + 1) * subDim)
        (s, sl, sl.map(x => math.floor(x.toDouble * scale).toLong))
      }
    }
    val qdf = Par.spread(train)
      .select(explode(explodeSlices(col(vecCol))).as("e"))
      .select(col("e._1").as("s"), col("e._2").as("v"), col("e._3").as("qv"))
      .localCheckpoint()
    var cents: Array[Array[Array[Double]]] = initSeeds match {
      case Some(sv) =>
        Array.tabulate(m)(s => Array.tabulate(codes)(c =>
          sv(c).slice(s * subDim, (s + 1) * subDim)))
      case None =>
        Array.fill(m)(Array.tabulate(codes)(c => saltedCentroid("km", c, subDim)))
    }
    for (_ <- 1 to iters) {
      val cur = cents
      val normHalf: Array[Array[Double]] =
        cur.map(_.map(c => 0.5 * c.foldLeft(0.0)((a, x) => a + x * x)))
      val assign = udf { (s: Int, v: Seq[Float]) =>
        val arr = v.toArray
        var best = 0
        var bestS = Double.NegativeInfinity
        var c = 0
        while (c < codes) {
          val cent = cur(s)(c)
          var dotv = 0.0
          var i = 0
          while (i < arr.length) { dotv += arr(i).toDouble * cent(i); i += 1 }
          val sc = dotv - normHalf(s)(c)
          if (sc > bestS) { bestS = sc; best = c }
          c += 1
        }
        best
      }
      val sums = qdf
        .select(col("s"), assign(col("s"), col("v")).as("cl"), col("qv"))
        .groupBy("s", "cl")
        .agg(count(lit(1)).as("n"),
          (0 until subDim).map(d => sum(col("qv")(d)).as(s"s$d")): _*)
        .collect()
      val next = cents.map(_.map(_.clone()))
      sums.foreach { row =>
        val s = row.getAs[Int]("s")
        val c = row.getAs[Int]("cl")
        val n = row.getAs[Long]("n")
        var d = 0
        while (d < subDim) {
          next(s)(c)(d) = row.getAs[Long](s"s$d").toDouble / (n * scale); d += 1
        }
      }
      cents = next
    }
    graft.plans.CheckpointHygiene.free(qdf)
    cents
  }

  /** Nearest codeword per subspace: argmax(dot - ||c||^2/2), strict >
    * keeps the smaller code on ties (oracle: ORDER BY score DESC, c).
    */
  private def pqEncodeUdf(cbs: Array[Array[Array[Double]]], subDim: Int) = {
    val normHalf: Array[Array[Double]] =
      cbs.map(_.map(cv => 0.5 * cv.map(x => x * x).sum))
    val mm = cbs.length; val kk = cbs(0).length; val sd = subDim
    udf { (v: Seq[Float]) =>
      require(v.length == mm * sd,
        s"PQ encode: vector has ${v.length} dims but the codebooks cover " +
          s"dim=${mm * sd} — ragged corpus row (encoding a slice would score " +
          "wrong neighbors silently)")
      val arr = v.toArray
      (0 until mm).map { s =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          val cv = cbs(s)(c)
          var d = 0.0; var i = 0
          while (i < sd) { d += arr(s * sd + i).toDouble * cv(i); i += 1 }
          val sc = d - normHalf(s)(c)
          if (sc > bestScore) { bestScore = sc; best = c }
          c += 1
        }
        best
      }
    }
  }

  /** RESIDUAL PQ encode (the Faiss IVFPQ default, Jegou et al. 2011
    * §IV): quantize `v - centroid(list)` instead of `v`, so the code
    * bytes spend their precision on the LOCAL detail the coarse
    * quantizer already removed — on clustered data the coarse term
    * carries most of the inner product EXACTLY and the codes only
    * need to cover the small residual. Same argmax algebra as
    * [[pqEncodeUdf]], over the double residual (computed here, never
    * round-tripped through float).
    */
  private def pqEncodeResUdf(cents: Array[Array[Double]],
                             cbs: Array[Array[Array[Double]]], subDim: Int) = {
    val normHalf: Array[Array[Double]] =
      cbs.map(_.map(cv => 0.5 * cv.map(x => x * x).sum))
    val mm = cbs.length; val kk = cbs(0).length; val sd = subDim
    udf { (v: Seq[Float], list: Int) =>
      require(v.length == mm * sd,
        s"residual PQ encode: vector has ${v.length} dims but the codebooks " +
          s"cover dim=${mm * sd} — ragged corpus row (encoding a slice would " +
          "score wrong neighbors silently)")
      val cent = cents(list)
      val r = new Array[Double](v.length)
      var j = 0
      while (j < r.length) { r(j) = v(j).toDouble - cent(j); j += 1 }
      (0 until mm).map { s =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          val cv = cbs(s)(c)
          var d = 0.0; var i = 0
          while (i < sd) { d += r(s * sd + i) * cv(i); i += 1 }
          val sc = d - normHalf(s)(c)
          if (sc > bestScore) { bestScore = sc; best = c }
          c += 1
        }
        best
      }
    }
  }

  /** Per-(query, list) coarse term of the residual ADC score:
    * `floor(dot(q, centroid_list) * 1e6)` — the exactly-known half of
    * `q . x ~ q . c_list + q . r_hat`. Micro fixed point like the LUT
    * cells, so the total stays an associative BIGINT sum.
    */
  private def pqCentTermUdf(cents: Array[Array[Double]]) =
    udf { (v: Seq[Float], list: Int) =>
      val cent = cents(list)
      var d = 0.0; var i = 0
      while (i < cent.length) { d += v(i).toDouble * cent(i); i += 1 }
      math.floor(d * 1e6).toLong
    }

  /** Per-query ADC lookup table, micro fixed point. */
  private def pqLutUdf(cbs: Array[Array[Array[Double]]], subDim: Int) = {
    val mm = cbs.length; val kk = cbs(0).length; val sd = subDim
    udf { (v: Seq[Float]) =>
      val arr = v.toArray
      val out = new Array[Long](mm * kk)
      var s = 0
      while (s < mm) {
        var c = 0
        while (c < kk) {
          val cv = cbs(s)(c)
          var d = 0.0; var i = 0
          while (i < sd) { d += arr(s * sd + i).toDouble * cv(i); i += 1 }
          out(s * kk + c) = math.floor(d * 1e6).toLong
          c += 1
        }
        s += 1
      }
      out
    }
  }

  private def pqAdcUdf(m: Int, codes: Int) = {
    val mm = m; val kk = codes
    udf { (cs: Seq[Int], l: Seq[Long]) =>
      var s = 0; var acc = 0L
      while (s < mm) { acc += l(s * kk + cs(s)); s += 1 }
      acc
    }
  }

  /** The full IVF-PQ composition — the architecture behind every
    * billion-vector deployment (FAISS IVFPQ; Jegou et al. 2011,
    * residual-free variant): a coarse IVF quantizer partitions the
    * corpus into lists, each base vector is stored ONLY as (list_id,
    * m code bytes), and a query probes nprobe lists scoring
    * candidates through its ADC lookup table. The scan is bounded by
    * nprobe/lists of the corpus AND touches 4-byte codes instead of
    * 256-byte vectors — the two multipliers that make 1e9+ vectors
    * searchable. Shares [[annIvf]]'s salted coarse centroids and
    * [[annPq]]'s codebooks, so the whole composed index remains
    * SQL-derivable and oracle-checked, fixed-point ADC included.
    */
  def annIvfPq(embeddings: DataFrame, queries: DataFrame, k: Int, dim: Int,
               lists: Int = 16, nprobe: Int = 4, m: Int = 8, codes: Int = 16,
               idCol: String = "vec_id", vecCol: String = "embedding",
               centroids: Option[Array[Array[Double]]] = None,
               codebooks: Option[Array[Array[Array[Double]]]] = None,
               residual: Boolean = false): DataFrame =
    // composed from the SAME stage builders the artifact path exposes
    // (the SetSimJoin shared-builder convention): building inline and
    // probing a persisted artifact cannot drift
    annIvfPqProbe(
      ivfPqIndex(embeddings, dim, lists, m, codes, idCol, vecCol, centroids,
        codebooks, residual),
      queries, k, dim, lists, nprobe, m, codes, idCol, vecCol, centroids,
      codebooks, residual = residual)

  /** Per-vector IVF list scores (dot - ||c||^2/2 per centroid), the
    * shared kernel of assignment ([[ivfNearestFn]]) and probing
    * ([[ivfProbeListsFn]]).
    */
  private def ivfListScoresFn(cents: Array[Array[Double]]): Seq[Float] => Array[Double] = {
    val normHalf: Array[Double] = cents.map(c => 0.5 * c.foldLeft(0.0)((a, x) => a + x * x))
    val dim = cents.head.length
    (v: Seq[Float]) => {
      require(v.length == dim,
        s"IVF assign: vector has ${v.length} dims but the centroids cover " +
          s"dim=$dim — ragged corpus row (assigning a slice would land in a " +
          "wrong list silently)")
      val arr = v.toArray
      Array.tabulate(cents.length) { c =>
        val cent = cents(c)
        var dotv = 0.0
        var i = 0
        while (i < arr.length) { dotv += arr(i).toDouble * cent(i); i += 1 }
        dotv - normHalf(c)
      }
    }
  }

  /** The nearest list of a vector: argmax of its [[ivfListScoresFn]]
    * scores, ties to the smaller list id — THE assignment kernel of
    * every IVF build, append and residual, so an artifact's stored
    * `list_id` and a probe's list choice cannot disagree.
    */
  private def ivfNearestFn(cents: Array[Array[Double]]): Seq[Float] => Int = {
    val listScores = ivfListScoresFn(cents)
    (v: Seq[Float]) => {
      val s = listScores(v)
      var best = 0; var c = 1
      while (c < s.length) { if (s(c) > s(best)) best = c; c += 1 } // tie -> smaller c
      best
    }
  }

  /** The `nprobe` nearest lists of a query vector, nearest first, ties
    * to the smaller list id — the probe kernel of every IVF search.
    */
  private def ivfProbeListsFn(cents: Array[Array[Double]], nprobe: Int): Seq[Float] => Seq[Int] = {
    val listScores = ivfListScoresFn(cents)
    (v: Seq[Float]) =>
      listScores(v).zipWithIndex.sortBy { case (s, c) => (-s, c) }.take(nprobe).map(_._2).toSeq
  }

  /** The PERSISTED IVF-PQ index artifact — `(vec_id, list_id, codes)`,
    * one row per corpus vector: its coarse list and its m sub-space
    * code bytes. This is the billion-vector form the PQ memory math
    * promises (4 bytes of codes standing in for 256 bytes of floats):
    * at 100 TB this table — NOT the raw vectors — is what an index
    * build persists and what every probe scans. Write it out once
    * (parquet), then answer new queries with [[annIvfPqProbe]] and
    * never touch the training corpus again; append-only growth
    * ([[annAppendAt]]) is one [[ivfPqIndex]] pass over the new vectors
    * unioned onto the stored artifact (same posture as the dedup
    * family's band index / gram set / bloom bitmap / KMV sketch
    * artifacts). [[annIndexWrite]] persists it with its header.
    *
    * Salted SQL-derivable defaults keep every artifact row
    * oracle-checkable end to end; production passes learned
    * `centroids`/`codebooks` exactly as [[annIvfPq]] does.
    */
  def ivfPqIndex(embeddings: DataFrame, dim: Int, lists: Int = 16,
                 m: Int = 8, codes: Int = 16,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 centroids: Option[Array[Array[Double]]] = None,
                 codebooks: Option[Array[Array[Array[Double]]]] = None,
                 residual: Boolean = false): DataFrame = {
    val (cents, cbs) = ivfPqResolve(dim, lists, m, codes, centroids, codebooks)
    val subDim = dim / m
    val assigned = Par.spread(embeddings)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("list_id", udf(ivfNearestFn(cents)).apply(col("v")))
    val coded =
      if (residual)
        assigned.withColumn("codes",
          pqEncodeResUdf(cents, cbs, subDim)(col("v"), col("list_id")))
      else assigned.withColumn("codes", pqEncodeUdf(cbs, subDim)(col("v")))
    coded.drop("v")
  }

  /** Residuals of every corpus vector w.r.t. its assigned coarse
    * centroid, as a FLOAT embedding frame — the training input for a
    * residual artifact's codebook retrain. Float is fine here:
    * training is statistical; the encode path never consumes this
    * frame (it computes exact double residuals itself).
    */
  private[graft] def residualFloatFrame(corpus: DataFrame, cents: Array[Array[Double]],
                                        idCol: String, vecCol: String): DataFrame = {
    val nearest = ivfNearestFn(cents)
    val resid = udf { (v: Seq[Float]) =>
      val cent = cents(nearest(v))
      val out = new Array[Float](v.length)
      var i = 0
      while (i < out.length) { out(i) = (v(i).toDouble - cent(i)).toFloat; i += 1 }
      out.toSeq
    }
    corpus.select(col(idCol), resid(col(vecCol)).as(vecCol))
  }

  /** The shared headerless-artifact refusal — one seam for the four
    * trusted entries (probe, audit, rebuild, header-driven append),
    * so the refusal contract and its guidance live in ONE place (the
    * [[ivfPqResolve]] convention applied to the trust checks): an
    * entry that cannot verify the quantizers would guess.
    */
  private[operators] def ivfPqRequireHeader(spark: org.apache.spark.sql.SparkSession,
                                           indexPath: String, what: String): IvfPqHeader =
    ivfPqReadHeader(spark, indexPath).getOrElse(throw new IllegalArgumentException(
      s"$what: no IVF-PQ header at $indexPath: cannot verify which quantizers built " +
        "this artifact. Write it with annIndexWrite (which stamps one), or stamp it " +
        "explicitly with ivfPqWriteHeader."))

  /** Shared default-resolution + shape validation of the IVF-PQ build
    * parameters — the single place the salted fallbacks are chosen, so
    * build, append, probe and header paths cannot disagree on them.
    */
  private[operators] def ivfPqResolve(dim: Int, lists: Int, m: Int, codes: Int,
                           centroids: Option[Array[Array[Double]]],
                           codebooks: Option[Array[Array[Array[Double]]]])
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    val cbs = codebooks.getOrElse(pqCodebooks(m, codes, subDim))
    require(cbs.length == m && cbs.forall(_.length == codes),
      s"codebooks shape ${cbs.length}x${cbs.headOption.map(_.length).getOrElse(0)} != ${m}x$codes")
    require(cbs.forall(_.forall(_.length == subDim)),
      s"codebook centroid dim != subspace dim $subDim")
    val cents: Array[Array[Double]] =
      centroids.getOrElse(Array.tabulate(lists)(c => ivfCentroidSql(c, dim)))
    require(cents.length == lists, s"centroids.length ${cents.length} != lists $lists")
    require(cents.forall(_.length == dim), s"centroid dim != $dim")
    (cents, cbs)
  }

  /** Self-describing header persisted WITH an [[ivfPqIndex]] artifact.
    * The stored `list_id`/`codes` bytes are meaningless without the
    * exact quantizers they were computed from — a probe run with
    * mismatched centroids/codebooks silently returns wrong neighbors
    * (assignment reads `list_id` from the artifact while the LUT math
    * runs on whatever the caller passed). The header carries the build
    * params AND the full arrays (kilobytes), plus a content hash over
    * all of it, so the artifact validates its own preconditions — the
    * [[graft.sources.GraphStore]] hash-validated-persistence / KMV
    * artifact-k convention applied to the ANN family. Reference
    * analog: content-addressed identity as the trust mechanism,
    * crates/esvc-core/src/graph.rs:136-154.
    */
  final case class IvfPqHeader(dim: Int, lists: Int, m: Int, codes: Int,
                               centroids: Array[Array[Double]],
                               codebooks: Array[Array[Array[Double]]],
                               paramsHash: String,
                               residual: Boolean = false)

  /** Content hash binding an artifact to its quantizers: the four
    * shape params plus every centroid/codebook coordinate, hashed over
    * their exact IEEE-754 bit patterns (no float-to-text round-trip in
    * the trust chain). The residual flag joins the hash ONLY when set,
    * so every pre-residual artifact's stored hash stays valid — but a
    * residual artifact can never silently pass as a plain one (codes
    * under the two encodings are incompatible byte-for-byte).
    */
  def ivfPqParamsHash(dim: Int, lists: Int, m: Int, codes: Int,
                      cents: Array[Array[Double]],
                      cbs: Array[Array[Array[Double]]],
                      residual: Boolean = false): String = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(dim); out.writeInt(lists); out.writeInt(m); out.writeInt(codes)
    cents.foreach(_.foreach(d => out.writeLong(java.lang.Double.doubleToLongBits(d))))
    cbs.foreach(_.foreach(_.foreach(d => out.writeLong(java.lang.Double.doubleToLongBits(d)))))
    if (residual) out.writeBoolean(true)
    out.flush()
    graft.core.Hashes.contentHash(bos.toByteArray)
  }

  private[graft] def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private[operators] def encodeMatrix(mx: Array[Array[Double]]): String =
    mx.map(_.map(d => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d)))
      .mkString(",")).mkString(";")

  private def decodeMatrix(s: String): Array[Array[Double]] =
    s.split(";", -1).map(_.split(",", -1).map(h =>
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(h, 16))))

  /** The header as generic [[graft.sources.ArtifactHeader]] params:
    * shape ints plus both quantizer arrays as raw-bit hex (line-safe,
    * and bit-exact by construction — no float-to-text in the trust
    * chain, the hex IS the IEEE bit pattern).
    */
  private def ivfPqHeaderParams(dim: Int, lists: Int, m: Int, codes: Int,
                                cents: Array[Array[Double]],
                                cbs: Array[Array[Array[Double]]],
                                residual: Boolean = false): Seq[(String, String)] =
    Seq("dim" -> dim.toString, "lists" -> lists.toString,
      "m" -> m.toString, "codes" -> codes.toString,
      "centroids" -> encodeMatrix(cents),
      "codebooks" -> cbs.map(encodeMatrix).mkString("#")) ++
      // present ONLY when set, so pre-residual headers (and their
      // stored hashes) remain byte-identical and keep validating
      (if (residual) Seq("residual" -> "true") else Nil)

  /** Write (or re-stamp) the header for the artifact at `indexPath` —
    * ONE codepath with every other artifact family's header
    * ([[graft.sources.ArtifactHeader]]): same sidecar name, same
    * content-hash integrity line, same write-seam guards (this
    * convergence closed a drift where format-breaking-param refusals
    * existed only in the generic header).
    */
  def ivfPqWriteHeader(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       dim: Int, lists: Int, m: Int, codes: Int,
                       cents: Array[Array[Double]],
                       cbs: Array[Array[Array[Double]]],
                       residual: Boolean = false): Unit =
    graft.sources.ArtifactHeader.write(spark, indexPath, "ivfpq",
      ivfPqHeaderParams(dim, lists, m, codes, cents, cbs, residual))

  /** Load + integrity-check the header at `indexPath`; None when the
    * artifact predates headers (pre-r12 writes). Headers stamped by
    * the r12 bespoke writer (same file, same k=v lines, but the
    * integrity line carried the BINARY quantizer hash instead of
    * [[graft.sources.ArtifactHeader]]'s text-line hash) are still
    * accepted after verifying that hash — read-compat across the
    * format convergence; any re-stamp writes the current format.
    */
  def ivfPqReadHeader(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): Option[IvfPqHeader] = {
    def fromParams(kv: Map[String, String]): IvfPqHeader = {
      val hdr = IvfPqHeader(kv("dim").toInt, kv("lists").toInt, kv("m").toInt,
        kv("codes").toInt, decodeMatrix(kv("centroids")),
        kv("codebooks").split("#", -1).map(decodeMatrix), "",
        residual = kv.get("residual").contains("true"))
      hdr.copy(paramsHash = ivfPqParamsHash(hdr.dim, hdr.lists, hdr.m, hdr.codes,
        hdr.centroids, hdr.codebooks, hdr.residual))
    }
    try graft.sources.ArtifactHeader.read(spark, indexPath, "ivfpq").map(fromParams)
    catch {
      case e: graft.sources.ArtifactHeader.CorruptHeaderException =>
        // typed integrity failure: a legacy (r12) integrity line, or
        // genuine corruption — decide by the legacy binary hash over
        // the parsed arrays. Parse failures here (damaged k=v values)
        // ARE corruption and refuse as such, never as a raw
        // NumberFormatException.
        val (fs, _) = hadoopFs(spark, indexPath)
        val hp = new org.apache.hadoop.fs.Path(indexPath,
          graft.sources.ArtifactHeader.sidecarName("ivfpq"))
        val in = fs.open(hp)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        val kv = text.linesIterator.flatMap { l =>
          val i = l.indexOf('=')
          if (i < 0) None else Some(l.substring(0, i) -> l.substring(i + 1))
        }.toMap
        val hdr =
          try fromParams(kv)
          catch { case _: RuntimeException => throw e }
        require(kv.get("hash").contains(hdr.paramsHash),
          s"IVF-PQ header at $indexPath is corrupt: stored hash " +
            s"${kv.getOrElse("hash", "?")} matches neither the header-line hash " +
            s"nor the legacy quantizer hash ${hdr.paramsHash}")
        Some(hdr)
    }
  }

  /** Build AND persist an ANN artifact of any kind with its
    * self-describing headers in one call — the one production write
    * path. `spec` names the kind and what it trains
    * ([[AnnLifecycle.IvfPqSpec]], [[AnnLifecycle.IvfSqSpec]],
    * [[AnnLifecycle.RotatedSpec]]); the rows are encoded by the codec
    * [[annAppendAt]] later re-opens from the stamped headers, so the
    * encoder that grows an artifact is the one that built it. A build
    * over an existing artifact repairs a crashed swap first and refuses
    * its live tombstones (fold first). Returns the number of vectors
    * indexed.
    */
  def annIndexWrite(corpus: DataFrame, indexPath: String, spec: AnnLifecycle.Spec,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Long =
    AnnLifecycle.build(corpus, indexPath, spec, idCol, vecCol)

  /** Search a PERSISTED ANN artifact of any kind — IVF-PQ (plain or
    * residual), IVF-SQ8, or IVF-PQ under a stored pcarot rotation (PCA
    * or OPQ) — trusted through its own headers. The artifact's stored
    * kind opens its codec ([[AnnLifecycle.open]]): every shape param
    * and quantizer array comes FROM the artifact, raw queries project
    * through the stored rotation when there is one (a raw query can
    * never score a projected artifact unprojected), and the kind's
    * scorer ranks [[annScan]]'s rows — [[annIvfPqProbe]]'s exact BIGINT
    * ADC (`score_e6`) for the PQ kinds, SQ8 decode-dot cosine
    * (`score`) for IVF-SQ8. Headerless paths refuse with guidance.
    *
    * `allowedIds` is filtered search ("nearest neighbors among docs
    * where lang = 'en'"): its first column is the id, and the
    * restriction applies BEFORE the rank cut, so every result is
    * allowed and the k-cut is taken within the allowed set — a
    * post-filter of the unfiltered top-k would under-fill exactly when
    * the filter is selective. Candidates are `allowed INTERSECT probed
    * lists`, so the nprobe/lists scan bound still holds. At extreme
    * selectivity the caller's explicit alternative is [[topKCosine]]
    * over the filtered corpus (exact vs approximate ordering is a
    * semantic choice, not a silent switch).
    */
  def annProbeAt(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                 queries: DataFrame, k: Int, nprobe: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 allowedIds: Option[DataFrame] = None): DataFrame = {
    val c = AnnLifecycle.open(spark, indexPath, "annProbeAt")
    // a dim-mismatched query frame would silently score a slice (or a
    // different space) — refuse like the rebuild path does
    requireCorpusDim(queries, c.inputDim, indexPath, vecCol, "annProbeAt")
    c.score(annScan(spark, indexPath, c.kind.idCol, allowedIds),
      c.project(queries, idCol, vecCol), k, nprobe, idCol, vecCol)
  }

  /** [[annProbeAt]] with the exact-refine stage search-as-shipped needs
    * (Faiss's IndexRefine): the probe keeps `rerank` candidates per
    * query, [[refineExact]] re-scores them with TRUE cosine over the
    * full-precision `corpus` (in the ORIGINAL space — for a projected
    * artifact the refine undoes the projection loss too) and cuts to
    * k. The corpus is touched only for queries x survivors, fetched by
    * a broadcast of the candidate ids, never shuffled or re-encoded.
    */
  def annRefineAt(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                  corpus: DataFrame, queries: DataFrame, k: Int,
                  nprobe: Int = 4, rerank: Int = 32,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  allowedIds: Option[DataFrame] = None): DataFrame =
    refineExact(corpus,
      annProbeAt(spark, indexPath, queries, rerank, nprobe, idCol, vecCol, allowedIds),
      queries, k, idCol, vecCol)

  /** Header-driven append-only growth of a persisted ANN artifact of
    * any kind ([[AnnLifecycle.appendAt]] over the kind's codec): every
    * parameter comes FROM the artifact's own header, so ingest adopts
    * whatever quantizer generation a rebuild installed with zero
    * re-configuration; raw vectors project through a stored rotation
    * (the basis is never retrained per batch — basis drift is a
    * rebuild decision). Admission is content-addressed by id
    * (re-sending a batch is idempotent), history is never re-encoded,
    * a tombstoned id refuses, and the post-write backstop refuses
    * LOUDLY if a concurrent rebuild swapped generations mid-append.
    * SQ8 values outside the stored bounds CLAMP to rail codes 0/255
    * ([[ivfSqSaturation]] notices, [[annRebuildIfNeeded]] heals).
    * Returns the number of admitted vectors.
    *
    * CONCURRENCY CONTRACT: appends and rebuilds are serialized by the
    * maintenance loop that owns the artifact (the single-writer window
    * of ArtifactCompaction and DeltaLogCompaction); the backstop is the
    * net, and its recovery is the kind's rebuild verb.
    */
  def annAppendAt(newVectors: DataFrame, indexPath: String,
                  idCol: String = "vec_id", vecCol: String = "embedding"): Long =
    AnnLifecycle.appendAt(newVectors, indexPath, idCol, vecCol, "annAppendAt")

  /** The artifact rows a probe may rank — one path for every kind: the
    * stored rows minus the live tombstones (excluded at the scan,
    * BEFORE the rank cut, so a deleted row neither surfaces nor
    * displaces a live neighbor out of the top-k), restricted to
    * `allowedIds` when given. Small id sets push down as a scan
    * predicate (row-group stats prune), larger ones semi-join
    * ([[AnnFilterPushdownMax]]).
    */
  private def annScan(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                      storedIdCol: String, allowedIds: Option[DataFrame]): DataFrame = {
    val live = tombstoneExclude(spark.read.parquet(indexPath),
      tombstonesOf(spark, indexPath), storedIdCol)
    allowedIds match {
      case None => live
      case Some(a) =>
        val idsDf = a.select(col(a.columns.head).as(storedIdCol)).distinct()
        val ids = idsDf.limit(AnnFilterPushdownMax + 1).collect().map(_.get(0))
        if (ids.length <= AnnFilterPushdownMax) live.filter(col(storedIdCol).isin(ids: _*))
        else live.join(idsDf, Seq(storedIdCol), "left_semi")
    }
  }

  /** What a rebuild is held to, for every kind. The audit thresholds:
    * `rebuildPm` (list balance, thousandths of the uniform share —
    * every kind), `satPm` (SQ8 bounds saturation per dimension) and
    * `driftRatioPm` (PCA/OPQ basis capture, thousandths of the stored
    * training-time baseline). The retrain: `kmIters`/`pqIters`, and
    * `trainSample`/`trainFraction`, which also bound the basis audit's
    * corpus sample. The verification: the recall gate over
    * `recallQueries` at `k`/`nprobe` (`minRecallRatio` x the stale
    * recall AND `minRecallAbs`; at most `maxRecallQueryRows` queries)
    * and no shrink without `allowShrink`. `idCol`/`vecCol` name the
    * corpus columns.
    */
  final case class RebuildPolicy(
      rebuildPm: Long = 3000L, satPm: Long = 100L, driftRatioPm: Long = 900L,
      kmIters: Int = 2, pqIters: Int = 2, trainSample: Int = 0, trainFraction: Double = 0.0,
      recallQueries: Option[DataFrame] = None, k: Int = 5, nprobe: Int = 4,
      minRecallRatio: Double = 0.9, minRecallAbs: Double = 0.0,
      maxRecallQueryRows: Long = DefaultMaxBenchRows, allowShrink: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding")

  /** The staleness audit a periodic maintainer polls, for the stored
    * kind ([[AnnLifecycle.Kind.audit]]): the reason of the first
    * signal that trips, None on a healthy artifact. IVF-PQ (plain or
    * residual) audits list balance; IVF-SQ8 bounds saturation (from
    * the `ivfsq_stats` sidecar, or the codes scan on a legacy
    * artifact), then balance; PCA/OPQ basis capture (when the pcarot
    * carries a baseline), then balance. The balance and saturation
    * audits read only `list_id`/`codes` or a sidecar, never `corpus`;
    * the basis audit aggregates over the RAW corpus, sample-bounded by
    * `trainSample`/`trainFraction`.
    */
  def annNeedsRebuild(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                      corpus: => DataFrame,
                      policy: RebuildPolicy = RebuildPolicy()): Option[String] =
    AnnLifecycle.requireKind(spark, indexPath, "annNeedsRebuild")
      .audit(spark, indexPath, corpus, policy)

  /** What [[annRebuildAt]] measured and did — the maintenance-log row
    * a production maintainer records next to the retrain trigger;
    * `retrained` names what was retrained ("quantizers", or "rotation
    * + quantizers").
    */
  final case class RebuildReport(rowsBefore: Long, rowsAfter: Long,
                                 recallBefore: Double, recallAfter: Double,
                                 retrained: String)

  /** EXECUTE a rebuild of the artifact at `indexPath` from the RAW
    * `corpus` ([[AnnLifecycle.rebuild]] over the stored kind's full
    * retrain): retrain the quantizers — for a PCA/OPQ artifact a fresh
    * rotation by the stored method too, the corpus projected through
    * it — on `corpus` (data-seeded, sample-bounded via
    * `trainSample`/`trainFraction` exactly like a bulk build),
    * re-encode every corpus vector, verify the rewrite BEFORE
    * touching the live artifact — row count must equal the corpus,
    * the rewrite must not SHRINK the artifact (a smaller corpus than
    * the live index means the caller scoped it wrong — refuse unless
    * `allowShrink`), and when `recallQueries` is given, recall@k
    * against the kind's exact ground truth must hold `recallAfter >=
    * minRecallRatio * recallBefore` AND `recallAfter >= minRecallAbs`
    * (strict `>` when the stale recall is 0.0) — then atomically swap
    * the new artifact in (the [[graft.sources.ArtifactCompaction]]
    * two-rename discipline, with rollback). The headers ride INSIDE
    * the artifact directory, so the swap installs the new quantizer
    * arrays with the new rows — from that moment a stale appender
    * refuses loudly at [[annAppendAt]]'s generation backstop instead
    * of silently mixing two generations in one artifact.
    *
    * Shape params (dim, lists, m, codes, outDim) come FROM the
    * artifact's own headers — a rebuild re-learns the arrays, it does
    * not re-shape the index. Failing verification deletes the
    * `.rebuild.tmp` and leaves the live artifact untouched.
    *
    * 100 TB posture: training cost is bounded by the sample (Faiss's
    * sample-training convention), the re-encode is ONE corpus scan,
    * and the swap is O(1) renames inside the same single-writer
    * maintenance window every OPTIMIZE-style job already requires
    * (readers pause too — the path is briefly missing between the two
    * renames).
    */
  def annRebuildAt(corpus: DataFrame, indexPath: String,
                   policy: RebuildPolicy = RebuildPolicy()): RebuildReport =
    AnnLifecycle.rebuild(corpus, indexPath, None, policy)

  /** One-call maintenance step: [[annNeedsRebuild]], then the rebuild
    * the tripped signal calls for — a PCA/OPQ artifact whose basis
    * drifted retrains its rotation and its quantizers, one whose only
    * tripped signal is list balance retrains its quantizers under the
    * stored rotation. Returns None on a healthy artifact (nothing
    * touched).
    */
  def annRebuildIfNeeded(corpus: DataFrame, indexPath: String,
                         policy: RebuildPolicy = RebuildPolicy()): Option[RebuildReport] = {
    val spark = corpus.sparkSession
    val kind = AnnLifecycle.writerEntry(spark, indexPath)(
      AnnLifecycle.requireKind(spark, indexPath, "annRebuildIfNeeded"))
    kind.audit(spark, indexPath, corpus, policy).map(signal =>
      AnnLifecycle.rebuild(corpus, indexPath, Some(signal), policy))
  }

  /** Refuse a rebuild whose corpus vectors disagree with the
    * artifact's encoded dimensionality — the sliced-vector hazard: the
    * subspace trainers take `v.slice(...)`, so a 64-dim raw corpus
    * against a 32-dim projected artifact (a PCA [[annIndexWrite]]
    * index rebuilt from unprojected vectors) would silently train on
    * the first half of every vector.
    *
    * BEST-EFFORT by design: one sampled row (O(1) — an aggregate over
    * min/max(size) would scan the full corpus per probe), so a RAGGED
    * frame whose sampled row happens to match passes here and an
    * empty frame is never checked. The per-row `require` inside every
    * encode kernel ([[sqEncodeUdf]], [[pqEncodeUdf]],
    * [[pqEncodeResUdf]], [[pcaProject]]) is the backstop ragged rows
    * cannot dodge — they refuse with a named message instead of
    * slicing.
    */
  private[operators] def requireCorpusDim(corpus: DataFrame, dim: Int, indexPath: String,
                               vecCol: String, tag: String): Unit =
    corpus.select(size(col(vecCol)).as("d")).limit(1).collect().foreach { r =>
      require(r.getInt(0) == dim,
        s"$tag: corpus vectors have ${r.getInt(0)} dims but the artifact at " +
          s"$indexPath takes dim=$dim — the verbs take RAW vectors and a PCA/OPQ " +
          "artifact projects them through its stored rotation itself, so " +
          "PROJECTED vectors refuse here too")
    }

  /** List-balance audit of a (possibly append-grown) IVF-PQ artifact,
    * computed from the artifact ALONE — no corpus vectors touched.
    * [[annAppendAt]] grows forever against frozen centroids;
    * distribution drift re-creates exactly the winner-take-all
    * imbalance the learned coarse quantizer exists to prevent, and a
    * skewed list silently erodes the `nprobe/lists` scan bound (one
    * hot list can approach a full corpus scan). One row per list —
    * empty lists included, they are half the skew signal —
    * with `load_pm` = this list's share of vectors in thousandths of
    * the balanced share (1000 = perfectly uniform) and a `rebuild`
    * flag at `rebuildPm`. All-BIGINT algebra, so the audit itself is
    * oracle-exact; the max over `rebuild` is the retrain trigger a
    * [[graft.streaming.StreamingIvf]]-style maintainer polls.
    */
  def ivfPqListBalance(index: DataFrame, lists: Int, rebuildPm: Long = 3000L): DataFrame =
    listBalanceFromCounts(
      index.groupBy(col("list_id").cast("long").as("list_id"))
        .agg(count(lit(1)).as("n_vectors")),
      lists, rebuildPm)

  /** [[ivfPqListBalance]] over PRE-AGGREGATED per-list counts
    * (`list_id`, `n_vectors`) — the form a streaming maintainer's
    * keyed state already holds ([[graft.streaming.StreamingIvf]]
    * tracks n per list), so the retrain decision reads the state
    * rows, never the vectors.
    */
  def listBalanceFromCounts(counts: DataFrame, lists: Int,
                            rebuildPm: Long = 3000L): DataFrame = {
    val spark = counts.sparkSession
    val all = spark.range(lists).select(col("id").as("list_id"))
      .join(counts, Seq("list_id"), "left")
      .select(col("list_id"), coalesce(col("n_vectors"), lit(0L)).as("n_vectors"))
    // the total as an unpartitioned window over the <= lists count
    // rows (NOT a crossJoin'd scalar aggregate: that re-executes the
    // whole counts subtree — a second full pass over the artifact, or
    // over the corpus-side assignment when the index derives inline)
    val total = sum(col("n_vectors"))
      .over(org.apache.spark.sql.expressions.Window.partitionBy())
    all.withColumn("total", total)
      .withColumn("load_pm", expr(s"n_vectors * ${lists}L * 1000L DIV greatest(total, 1L)"))
      .select(col("list_id"), col("n_vectors"), col("load_pm"),
        (col("load_pm") > lit(rebuildPm)).cast("long").as("rebuild"))
  }

  /** ADC search over a PERSISTED [[ivfPqIndex]] artifact: `index` is
    * the `(vec_id, list_id, codes)` table (read back from parquet in
    * production — nothing here touches raw corpus vectors), `queries`
    * carries the new query vectors. Each query builds its LUT and
    * probes its `nprobe` nearest lists; candidates are scored through
    * the exact BIGINT ADC sum and ranked per query. Probe cost is
    * |index| * nprobe/lists rows of 4-byte codes — independent of how
    * the index was built and paid WITHOUT the build's m x iters
    * training scans, which is the entire point of persisting it.
    *
    * `centroids`/`codebooks` must be the ones the artifact was built
    * with (salted defaults otherwise — the oracle-mirrored algebra).
    */
  /** Branch bound for the filtered probe's allowed-id restriction —
    * MEASURED, not borrowed: on a 200k-vector index (AnnProbe
    * `filtered 100`, min-of-2) the id-literal pushdown beats the
    * semi-join at 2k ids (0.53 vs 0.84 s) and 4k (0.74 vs 0.87) but
    * LOSES from ~10k up (1.18 vs 1.01 at 10k; 5.7 vs 1.7 s at 100k —
    * a 100k-literal In predicate is plan-construction cost, not scan
    * savings). Dedup's PriorIdPushdownMax (100k) is right for ITS
    * workload — each pruned row there skips a full text page, here
    * only a ~4-byte codes row — so the two bounds are deliberately
    * different.
    */
  private[graft] val AnnFilterPushdownMax = 8192

  def annIvfPqProbe(index: DataFrame, queries: DataFrame, k: Int, dim: Int,
                    lists: Int = 16, nprobe: Int = 4, m: Int = 8, codes: Int = 16,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroids: Option[Array[Array[Double]]] = None,
                    codebooks: Option[Array[Array[Array[Double]]]] = None,
                    residual: Boolean = false): DataFrame = {
    require(Seq("vec_id", "list_id", "codes").forall(index.columns.contains),
      s"index must be an ivfPqIndex artifact (vec_id, list_id, codes); got ${index.columns.mkString(", ")}")
    val (cents, cbs) = ivfPqResolve(dim, lists, m, codes, centroids, codebooks)
    val subDim = dim / m
    val probe = udf(ivfProbeListsFn(cents, nprobe))
    val lut = pqLutUdf(cbs, subDim)
    val adc = pqAdcUdf(m, codes)
    val base = index.select(col("vec_id").as("neighbor_id"), col("list_id"), col("codes"))
    // residual ADC: q . x ~ q . c_list + q . r_hat — the coarse term
    // is exact per (query, probed list) and rides the broadcast query
    // frame (one extra BIGINT per probed list, never per candidate)
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("lut", lut(col("qv")))
      .withColumn("list_id", explode(probe(col("qv"))))
    val q =
      (if (residual)
        q0.withColumn("cterm", pqCentTermUdf(cents)(col("qv"), col("list_id")))
      else q0.withColumn("cterm", lit(0L))).drop("qv")
    val w = Window.partitionBy(col("query_id")).orderBy(col("score_e6").desc, col("neighbor_id"))
    base.join(broadcast(q), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score_e6", col("cterm") + adc(col("codes"), col("lut")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("score_e6"))
  }

  /** [[annIvfPq]] with the exact-refine stage production IVF-PQ ships
    * (Faiss's IndexRefine): the ADC pass keeps `rerank` candidates per
    * query, which are then re-scored with TRUE cosine and cut to k.
    * PQ codes are lossy by design — on weakly-clustered data the ADC
    * ordering alone ranks poorly (measured recall@5 of 0.05 vs 0.65
    * for LSH on the synthetic embeddings); the refine step restores
    * recall while preserving the scale contract: the coarse probe
    * bounds vectors SCANNED (nprobe/lists of the corpus, as codes),
    * and full-precision vectors are touched only for the
    * queries x rerank survivors, fetched by a BROADCAST of the
    * candidate id list so the corpus is never shuffled.
    */
  def annIvfPqRefine(embeddings: DataFrame, queries: DataFrame, k: Int, dim: Int,
                     lists: Int = 16, nprobe: Int = 4, m: Int = 8, codes: Int = 16,
                     rerank: Int = 32,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    refineExact(embeddings,
      annIvfPq(embeddings, queries, k = rerank, dim, lists, nprobe,
        m, codes, idCol, vecCol),
      queries, k, idCol, vecCol)

  /** The exact-refine kernel shared by the inline and artifact paths
    * (Faiss's IndexRefine): re-score the ADC survivors with TRUE
    * cosine, cut to k. `adcTop` carries (query_id, neighbor_id).
    */
  private[operators] def refineExact(corpus: DataFrame, adcTop: DataFrame,
                                     queries: DataFrame, k: Int, idCol: String,
                                     vecCol: String): DataFrame = {
    val vecs = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nn", norm(col("nv")))
    val qs = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", norm(col("qv")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    vecs.join(broadcast(adcTop.select(col("query_id"), col("neighbor_id"))), "neighbor_id")
      .join(broadcast(qs), "query_id")
      .withColumn("score", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick k of each query's candidates trading relevance
    * against redundancy — `mmr = lambda * rel - (1 - lambda) *
    * max_sim_to_already_picked`. The diversified-retrieval step a
    * curation pipeline runs AFTER ANN search: the raw top-k of a
    * near-dup-heavy corpus is often k copies of one document, and
    * diversity at selection time is the retrieval-side complement of
    * the SemDeDup/cluster-balanced sampling already in this file.
    *
    * `candidates` is any (query_id, neighbor_id, score) frame — in
    * practice [[annRefineAt]]'s output at k = rerank, so the
    * relevance scores are exact cosine. All selection arithmetic is
    * e6 fixed-point BIGINT (scores and pairwise sims rounded to 6
    * digits then scaled), so the greedy choice is bit-reproducible
    * and the DuckDB oracle unrolls it exactly.
    *
    * Execution shape: NO driver-side greedy. The candidate frame is
    * bounded (queries x rerank), pairwise candidate sims are computed
    * ONCE as a (queries x rerank^2) frame off a broadcast embedding
    * fetch, and each of the k greedy steps is a declarative
    * anti-join + max-aggregate + window rank over those small frames
    * — the loop unrolls the PLAN (k is small by definition), the data
    * never leaves executors. At 100 TB the cost is the candidate
    * generation (the ANN probe's bound), not this.
    */
  def mmrRerank(candidates: DataFrame, corpus: DataFrame, k: Int,
                lambdaE6: Long = 700000L,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(lambdaE6 >= 0L && lambdaE6 <= 1000000L,
      s"lambdaE6 must be in [0, 1000000]; got $lambdaE6")
    val lamBar = 1000000L - lambdaE6
    val cand = candidates.select(col("query_id"), col("neighbor_id"),
        round(col("score") * 1e6, 0).cast("long").as("rel"))
      .localCheckpoint()
    // pairwise candidate sims, once: fetch full-precision vectors for
    // the bounded candidate id set (broadcast), cosine in the shared
    // sequential-fold algebra, e6-rounded like the rel scores
    val cids = cand.select(col("neighbor_id").as("nid")).distinct()
    val cvec = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .join(broadcast(cids), Seq("nid"))
      .withColumn("nn", norm(col("nv")))
      .localCheckpoint()
    val sideA = cand.select(col("query_id"), col("neighbor_id").as("na"))
      .join(broadcast(cvec.select(col("nid").as("na"), col("nv").as("va"),
        col("nn").as("nna"))), Seq("na"))
    val sideB = cand.select(col("query_id"), col("neighbor_id").as("nb"))
      .join(broadcast(cvec.select(col("nid").as("nb"), col("nv").as("vb"),
        col("nn").as("nnb"))), Seq("nb"))
    val sims = sideA.join(sideB, Seq("query_id"))
      .filter(col("na") =!= col("nb"))
      .withColumn("sim", round(round(dot(col("va"), col("vb"))
        / (col("nna") * col("nnb")), 6) * 1e6, 0).cast("long"))
      .select(col("query_id"), col("na"), col("nb"), col("sim"))
    // greedy selection runs PER QUERY over an all-LONG candidate/sim
    // list in one pass: the old driver loop materialized k sequential
    // eager checkpoints (one distributed job per rank over a few
    // hundred rows — pure job-latency bill, ~k x the scheduling floor
    // per call); candidates are bounded by construction (rerank
    // lists), so each query's lists collect_list into one row and the
    // selection is integer arithmetic — the float-sensitive cosine
    // stays in the Spark expressions above, bit-identical to before
    val candLists = cand.groupBy("query_id")
      .agg(collect_list(struct(col("neighbor_id"), col("rel"))).as("cs"))
    val simLists = sims.groupBy("query_id")
      .agg(collect_list(struct(col("na"), col("nb"), col("sim"))).as("ss"))
    val out = candLists
      .join(simLists, Seq("query_id"), "left")
      .select(col("query_id"),
        explode(mmrSelectUdf(col("cs"), col("ss"), lit(k), lit(lambdaE6)))
          .as("pick"))
      .select(col("query_id"), col("pick.rank").as("rank"),
        col("pick.neighbor_id").as("neighbor_id"),
        col("pick.mmr_e6").as("mmr_e6"))
      .localCheckpoint()
    // the working frames are dead once the selection materializes;
    // only the returned frame's blocks stay live (the caller frees it
    // after consumption, like any checkpoint leaf)
    graft.plans.CheckpointHygiene.free(cand, cvec)
    out
  }

  /** One-pass greedy MMR over a query's candidate list — the exact
    * semantics of the former per-rank loop, in Long arithmetic only:
    * rank 1 maximizes lambda*rel (ties to the smallest id); each later
    * rank maximizes lambda*rel - (1-lambda)*maxsim over the already-
    * selected set, where a candidate is eligible only if it has at
    * least one sim row against a selected id (the former msim inner
    * join), and duplicate candidate ids collapse to their max rel
    * (what the former (mmr desc, id) row_number picked).
    */
  private val mmrSelectUdf = udf {
    (cs: Seq[org.apache.spark.sql.Row], ss: Seq[org.apache.spark.sql.Row],
     k: Int, lambdaE6: Long) =>
      val lamBar = 1000000L - lambdaE6
      // dedupe candidates by id keeping max rel
      val rel = new scala.collection.mutable.HashMap[Long, Long]
      if (cs != null) cs.foreach { r =>
        val id = r.getLong(0); val re = r.getLong(1)
        if (!rel.get(id).exists(_ >= re)) rel(id) = re
      }
      // directional sims keyed (na -> (nb -> sim)); na==nb never occurs
      val sim = new scala.collection.mutable.HashMap[(Long, Long), Long]
      if (ss != null) ss.foreach { r =>
        sim((r.getLong(0), r.getLong(1))) = r.getLong(2)
      }
      val selected = scala.collection.mutable.ArrayBuffer[Long]()
      val picks = scala.collection.mutable.ArrayBuffer[MmrPick]()
      var rank = 1L
      while (rank <= k && rel.size > selected.size) {
        var bestId = Long.MinValue
        var bestMmr = Long.MinValue
        var found = false
        rel.foreach { case (id, re) =>
          if (!selected.contains(id)) {
            if (rank == 1L) {
              val m = lambdaE6 * re
              if (!found || m > bestMmr || (m == bestMmr && id < bestId)) {
                bestId = id; bestMmr = m; found = true
              }
            } else {
              // eligible only with >= 1 sim row against the selected set
              var maxsim = Long.MinValue
              var has = false
              selected.foreach { s =>
                sim.get((id, s)).foreach { v =>
                  if (!has || v > maxsim) { maxsim = v; has = true }
                }
              }
              if (has) {
                val m = lambdaE6 * re - lamBar * maxsim
                if (!found || m > bestMmr || (m == bestMmr && id < bestId)) {
                  bestId = id; bestMmr = m; found = true
                }
              }
            }
          }
        }
        if (!found) rank = k + 1L // no eligible candidate left — stop
        else {
          picks += MmrPick(rank, bestId, bestMmr)
          selected += bestId
          rank += 1L
        }
      }
      picks.toSeq
  }

  // ------------------------------------------------------------------
  // IVF-SQ8: trained per-dimension scalar quantizer under the IVF
  // coarse index — the OTHER standard billion-scale memory/recall
  // trade (Faiss "IVFx,SQ8"): 1 byte/dim (64 bytes here) instead of
  // PQ's sub-space codes, no codebook training, decode is two flops.
  // Recall sits between PQ and full floats; the artifact is 4x the
  // IVF-PQ codes but still 4x smaller than the raw float vectors.
  // ------------------------------------------------------------------

  /** Per-dimension scalar-quantizer bounds trained FROM the data:
    * `(vmin_d, vmax_d)` over the training frame. min/max are exact
    * and order-independent (unlike float moment sums), so the trained
    * bounds are bit-reproducible under any partitioning AND
    * SQL-derivable for the oracle with plain MIN/MAX aggregates.
    * `trainSample`/`trainFraction` bound training cost exactly like
    * [[kmeansCentroids]] (deterministic hash-order sample): at 100 TB
    * the quantizer trains on a sample and out-of-range values clamp
    * at encode time (the Faiss SQ convention).
    */
  def sqTrainBounds(embeddings: DataFrame, dim: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    trainSample: Int = 0, trainFraction: Double = 0.0)
      : (Array[Double], Array[Double]) = {
    val train = trainFrameOf(embeddings, idCol, trainSample, trainFraction)
    val rows = train
      .select(posexplode(col(vecCol)).as(Seq("d", "x")))
      .groupBy("d")
      .agg(min(col("x").cast("double")).as("vmin"),
        max(col("x").cast("double")).as("vmax"))
      .collect()
    require(rows.length == dim,
      s"sqTrainBounds: training frame has ${rows.length} dims, expected $dim " +
        "(ragged or empty embedding column?)")
    val vmin = new Array[Double](dim)
    val vmax = new Array[Double](dim)
    rows.foreach { r =>
      val d = r.getInt(0)
      vmin(d) = r.getDouble(1); vmax(d) = r.getDouble(2)
    }
    (vmin, vmax)
  }

  /** Encode to one uint8 code per dimension:
    * `floor((x - vmin) * 255 / (vmax - vmin) + 0.5)` clamped to
    * [0, 255] — the clamp is live when the quantizer trained on a
    * sample (or drifted data arrives after training); a zero-span
    * dimension encodes 0. One compiled pass per vector; the exact
    * double expression order is mirrored by the oracle SQL.
    */
  private def sqEncodeUdf(vmin: Array[Double], vmax: Array[Double]) =
    udf { (v: Seq[Float]) =>
      val n = vmin.length
      // the frame-level dim guard samples one row (best-effort, O(1));
      // this per-row check is the backstop a RAGGED corpus cannot dodge
      require(v.length == n,
        s"SQ8 encode: vector has ${v.length} dims but the artifact's bounds " +
          s"cover dim=$n — ragged corpus row (encoding a slice would score " +
          "wrong neighbors silently)")
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        val span = vmax(i) - vmin(i)
        if (span != 0.0) {
          val c = math.floor((v(i).toDouble - vmin(i)) * 255.0 / span + 0.5)
          out(i) = math.min(255.0, math.max(0.0, c)).toInt
        }
        i += 1
      }
      out.toSeq
    }

  /** Asymmetric SQ scoring: cosine of the FULL-PRECISION query against
    * the decoded candidate `vmin_d + code_d * (vmax_d - vmin_d) / 255`
    * — codes are never lifted back to a stored float column (the
    * decode is two flops inside the scoring loop, which is why SQ
    * probes run off the 1-byte/dim artifact alone). Sequential-order
    * double arithmetic end to end, same contract as [[dot]].
    */
  private def sqAdcCosineUdf(vmin: Array[Double], vmax: Array[Double]) =
    udf { (q: Seq[Float], codes: Seq[Int]) =>
      var dotv = 0.0; var nq = 0.0; var nd = 0.0
      var i = 0
      while (i < codes.length) {
        val dec = vmin(i) + codes(i) * (vmax(i) - vmin(i)) / 255.0
        val qd = q(i).toDouble
        dotv += qd * dec; nq += qd * qd; nd += dec * dec
        i += 1
      }
      dotv / (math.sqrt(nq) * math.sqrt(nd))
    }

  /** The probe kernel shared by the inline ([[annIvfSq]]) and artifact
    * ([[annProbeAt]]) paths so they cannot drift: queries pick
    * their `nprobe` nearest coarse lists, candidates equi-join on
    * `list_id` (per-query work is |corpus| * nprobe / lists — vectors
    * never pairwise-join outside probed lists), scores decode-dot the
    * stored codes. Queries broadcast (they carry the only float
    * vectors in the join); the coded base side never shuffles.
    */
  private[operators] def annIvfSqProbeFrame(index: DataFrame, queries: DataFrame,
                                            k: Int, nprobe: Int,
                                            cents: Array[Array[Double]],
                                            vmin: Array[Double], vmax: Array[Double],
                                            idCol: String, vecCol: String): DataFrame = {
    val probe = udf(ivfProbeListsFn(cents, nprobe))
    val score = sqAdcCosineUdf(vmin, vmax)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("list_id", explode(probe(col("qv")))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("neighbor_id"))
    index.join(q, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", score(col("qv"), col("codes")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("score"), 6).as("score"))
  }

  /** The persisted IVF-SQ8 index frame: `(vec_id, list_id, codes)`,
    * one uint8 code per dimension. Same artifact posture as
    * [[ivfPqIndex]] — this table, not the raw vectors, is what an
    * index build persists and every probe scans.
    */
  def ivfSqIndex(embeddings: DataFrame, dim: Int, lists: Int = 16,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 centroids: Option[Array[Array[Double]]] = None,
                 bounds: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    val cents = centroids.getOrElse(Array.tabulate(lists)(c => ivfCentroidSql(c, dim)))
    require(cents.length == lists, s"centroids.length ${cents.length} != lists $lists")
    val (vmin, vmax) = bounds.getOrElse(sqTrainBounds(embeddings, dim, idCol, vecCol))
    require(vmin.length == dim && vmax.length == dim,
      s"bounds dim ${vmin.length}/${vmax.length} != $dim")
    Par.spread(embeddings)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v"))
      .select(col("neighbor_id"), udf(ivfNearestFn(cents)).apply(col("v")).as("list_id"),
        sqEncodeUdf(vmin, vmax)(col("v")).as("codes"))
  }

  /** IVF + trained scalar quantization, inline (index built in-plan):
    * the [[annIvf]] probe algebra with the exact-cosine verify
    * replaced by decode-dot over SQ8 codes. Bounds default to training
    * on the full corpus (oracle-exact); production bounds train on a
    * hash-order sample via `trainSample`/`trainFraction` exactly like
    * the k-means family.
    */
  def annIvfSq(embeddings: DataFrame, queries: DataFrame, k: Int, dim: Int,
               lists: Int = 16, nprobe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding",
               centroids: Option[Array[Array[Double]]] = None,
               bounds: Option[(Array[Double], Array[Double])] = None,
               trainSample: Int = 0, trainFraction: Double = 0.0): DataFrame = {
    val cents = centroids.getOrElse(Array.tabulate(lists)(c => ivfCentroidSql(c, dim)))
    val (vmin, vmax) = bounds.getOrElse(
      sqTrainBounds(embeddings, dim, idCol, vecCol, trainSample, trainFraction))
    val index = ivfSqIndex(embeddings, dim, lists, idCol, vecCol,
      Some(cents), Some((vmin, vmax)))
    annIvfSqProbeFrame(index, queries, k, nprobe, cents, vmin, vmax, idCol, vecCol)
  }

  private[operators] def sqHeaderParams(dim: Int, lists: Int, cents: Array[Array[Double]],
                             vmin: Array[Double], vmax: Array[Double]): Seq[(String, String)] =
    Seq("dim" -> dim.toString, "lists" -> lists.toString,
      "centroids" -> encodeMatrix(cents),
      "vmin" -> encodeMatrix(Array(vmin)),
      "vmax" -> encodeMatrix(Array(vmax)))

  /** Parsed ivfsq header plus its content hash — the generation token
    * [[annAppendAt]] compares across its own write (a rebuild
    * swapped in mid-append means the artifact now mixes codes from two
    * bounds generations).
    */
  private[operators] final case class IvfSqHeader(dim: Int, lists: Int,
                                       cents: Array[Array[Double]],
                                       vmin: Array[Double], vmax: Array[Double],
                                       paramsHash: String)

  /** The shared header trust seam for every SQ8 artifact consumer
    * (probe, append, audit, rebuild) — the [[ivfPqRequireHeader]]
    * convention: stored codes decoded under guessed bounds are
    * silently wrong neighbors, so headerless artifacts refuse with
    * guidance instead.
    */
  private[operators] def sqRequireHeader(spark: org.apache.spark.sql.SparkSession,
                                         indexPath: String, what: String): IvfSqHeader = {
    val kv = graft.sources.ArtifactHeader.read(spark, indexPath, "ivfsq").getOrElse(
      sys.error(s"$what: no ivfsq header at $indexPath — stored codes " +
        "cannot be decoded without the exact bounds they were encoded under; " +
        "build with annIndexWrite (which stamps the header)"))
    val dim = kv("dim").toInt
    val cents = decodeMatrix(kv("centroids"))
    val vmin = decodeMatrix(kv("vmin")).head
    val vmax = decodeMatrix(kv("vmax")).head
    require(cents.forall(_.length == dim) && vmin.length == dim && vmax.length == dim,
      s"$what: header arrays at $indexPath disagree with dim=$dim")
    IvfSqHeader(dim, kv("lists").toInt, cents, vmin, vmax,
      graft.sources.ArtifactHeader.paramsHash("ivfsq", kv.toSeq))
  }

  /** Bounds-saturation audit of a persisted SQ8 artifact — the
    * staleness signal SPECIFIC to scalar quantization: values outside
    * the trained span clamp to rail codes 0/255 on append, so a
    * drifted dimension shows up as mass piling onto its rails. One
    * row per dimension (1-based, matching the SQL `range(1,dim+1)`
    * convention) with all-BIGINT algebra (`sat_pm` = railed codes in
    * thousandths), so the audit itself is oracle-exact. A
    * freshly-trained exact-bounds artifact has sat_pm ~ 2000/n per
    * dim (the min and max rows ARE rails by construction) — the
    * trigger threshold measures drift, not existence.
    *
    * 100 TB: one posexplode + aggregate over the codes column only
    * (4-64 bytes/row); corpus vectors are never touched — the
    * [[annNeedsRebuild]] audit-cost contract.
    */
  def ivfSqSaturation(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String): DataFrame = {
    sqRequireHeader(spark, indexPath, "ivfSqSaturation")
    sqRailCounts(spark.read.parquet(indexPath))
      .withColumn("sat_pm", expr("(n_lo + n_hi) * 1000L DIV n_codes"))
      .select("d", "n_codes", "n_lo", "n_hi", "sat_pm")
  }

  /** Per-dimension rail-code counts of an SQ8 index frame — the
    * aggregate [[ivfSqSaturation]] exposes and the stats sidecar
    * accumulates.
    */
  private def sqRailCounts(index: DataFrame): DataFrame =
    index
      .select(posexplode(col("codes")).as(Seq("pos", "c")))
      .groupBy((col("pos") + 1).cast("long").as("d"))
      .agg(count(lit(1)).as("n_codes"),
        sum((col("c") === 0).cast("long")).as("n_lo"),
        sum((col("c") === 255).cast("long")).as("n_hi"))

  // --- incremental saturation stats -------------------------------
  // The saturation audit's canonical form scans the codes column
  // (64 B/row — at 100 TB a full-artifact pass per poll). The write
  // and append paths already hold the freshly-encoded rows, so they
  // accumulate the rail counts into a content-hashed `ivfsq_stats`
  // sidecar: the audit then reads O(dim) numbers instead of O(rows)
  // codes — the listBalanceFromCounts / touchedTextBytes convention
  // (derive the decision from maintained increments, keep the exact
  // scan as ground truth). The sidecar is DERIVED acceleration: it is
  // rebuilt from scratch by every write/rebuild, kept exact by every
  // header-driven append (spec-held equal to the scan), carried by
  // compaction like any `_` sidecar, and repairable from the scan via
  // [[ivfSqStatsRestamp]] after an out-of-contract mutation. Appends
  // and rebuilds are already single-writer-serialized (the
  // maintenance-window contract), which is what keeps read-add-write
  // on the sidecar safe.

  private val SqStatsKind = "ivfsq_stats"

  private def sqStatsArray(index: DataFrame, dim: Int): Array[(Long, Long, Long)] = {
    val got = sqRailCounts(index).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    Array.tabulate(dim)(i => got.getOrElse(i + 1L, (0L, 0L, 0L)))
  }

  private def sqStatsWrite(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String,
                           stats: Array[(Long, Long, Long)]): Unit =
    graft.sources.ArtifactHeader.write(spark, indexPath, SqStatsKind, Seq(
      "dim" -> stats.length.toString,
      "n_codes" -> stats.map(_._1).mkString(","),
      "n_lo" -> stats.map(_._2).mkString(","),
      "n_hi" -> stats.map(_._3).mkString(",")))

  /** Accumulate an append's admitted rows' rail counts into the stats
    * sidecar (the fresh frame is already checkpointed — one cheap
    * aggregate instead of the audit's full-artifact scan later); a
    * legacy stats-less artifact stays stats-less (scan fallback).
    */
  private[operators] def sqStatsAccumulate(spark: org.apache.spark.sql.SparkSession,
                                           indexPath: String, fresh: DataFrame,
                                           dim: Int): Unit =
    sqStatsRead(spark, indexPath).foreach { prior =>
      sqStatsWrite(spark, indexPath, prior.zip(sqStatsArray(fresh, dim)).map {
        case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
      })
    }

  private def sqStatsRead(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String): Option[Array[(Long, Long, Long)]] =
    graft.sources.ArtifactHeader.read(spark, indexPath, SqStatsKind).map { kv =>
      def longs(k: String) = kv(k).split(",", -1).map(_.toLong)
      val (n, lo, hi) = (longs("n_codes"), longs("n_lo"), longs("n_hi"))
      require(n.length == kv("dim").toInt && lo.length == n.length &&
        hi.length == n.length,
        s"ivfsq_stats sidecar at $indexPath disagrees with its own dim")
      Array.tabulate(n.length)(i => (n(i), lo(i), hi(i)))
    }

  /** The saturation audit from the accumulated stats sidecar — the
    * same frame as [[ivfSqSaturation]] without touching a single
    * stored code. None when the artifact predates stats (legacy —
    * callers fall back to the scan); a corrupted sidecar refuses via
    * the header integrity hash.
    */
  def ivfSqSaturationFromStats(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String): Option[DataFrame] =
    sqStatsRead(spark, indexPath).map { stats =>
      import spark.implicits._
      stats.zipWithIndex.collect {
        // n == 0 only for an empty artifact (every row feeds every
        // dim) — dropped so the frame matches the scan's group-by
        // exactly there too
        case ((n, lo, hi), i) if n > 0 =>
          (i + 1L, n, lo, hi, (lo + hi) * 1000L / n)
      }.toSeq.toDF("d", "n_codes", "n_lo", "n_hi", "sat_pm")
    }

  /** Whether the artifact carries the accumulated `ivfsq_stats`
    * sidecar — the legacy detector a maintainer's due check uses to
    * schedule [[ivfSqStatsRestamp]] (pre-stats artifacts answer every
    * saturation poll with the O(rows) codes scan until restamped).
    */
  def ivfSqHasStats(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String): Boolean =
    sqStatsRead(spark, indexPath).isDefined

  /** Recompute the stats sidecar from the canonical scan — the repair
    * verb after an out-of-contract mutation (raw parquet writes into
    * the artifact directory bypass the accumulation).
    */
  def ivfSqStatsRestamp(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String): Unit =
    sqStatsStamp(spark, indexPath, sqRequireHeader(spark, indexPath, "ivfSqStatsRestamp").dim)

  /** Stamp the stats sidecar from the canonical scan; returns the row
    * count (every row contributes one code per dim).
    */
  private[operators] def sqStatsStamp(spark: org.apache.spark.sql.SparkSession,
                                      indexPath: String, dim: Int): Long = {
    val stats = sqStatsArray(spark.read.parquet(indexPath), dim)
    sqStatsWrite(spark, indexPath, stats)
    stats.headOption.map(_._1).getOrElse(0L)
  }

  // ------------------------------------------------------------------
  // Deletion: the DELETE verb of the index lifecycle (Faiss
  // remove_ids; rights-removal / opt-out at training-data scale). A
  // delete never rewrites the artifact — the ids land in a bounded
  // content-hashed tombstone sidecar ([[graft.sources.Tombstones]]),
  // every probe excludes them (id predicate under the measured
  // pushdown bound, broadcast anti-join above it), appends that would
  // silently shadow a deleted id refuse, and a maintenance-window
  // FOLD ([[annTombstoneFold]]) makes the removal physical and clears
  // the sidecar. Rebuilds refuse a live tombstone set outright: a
  // retrain re-encodes from the corpus and would resurrect deleted
  // rows — fold first (the maintainer composes tombstoneFoldDue ahead
  // of the rebuild checks in one window).
  //
  // Audit posture: the balance/saturation audits keep reading
  // PHYSICAL rows, tombstoned included — they measure the artifact's
  // storage and scan-bound truth, which folding (not probing) changes.
  // Ordering guarantee (spec-held in TombstoneSpec): list
  // tombstoneFoldDue AHEAD of the rebuild checks in maintainIfDue —
  // tasks run in check order inside one window and every rebuild task
  // re-audits in-window, so a rebuild DECISION executes on post-fold
  // live counts even when its trigger tripped on dead rows.
  // ------------------------------------------------------------------

  /** Exclude a bounded tombstone set from an artifact frame: at or
    * under [[AnnFilterPushdownMax]] ids the exclusion is a NOT-IN scan
    * predicate (row-group stats prune; stays inside whole-stage
    * codegen), above it a broadcast anti-join — the same measured
    * crossover as the filtered probe's allowed-id set.
    */
  private[graft] def tombstoneExclude(df: DataFrame, ids: Array[Long], idColName: String,
                               pushdownMax: Int = AnnFilterPushdownMax): DataFrame =
    if (ids.isEmpty) df
    else if (ids.length <= pushdownMax)
      df.filter(!col(idColName).isin(ids.map(java.lang.Long.valueOf): _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toSeq.toDF(idColName)), Seq(idColName), "left_anti")
    }

  /** The rows of `df` whose id IS tombstoned — the semi side of
    * [[tombstoneExclude]], same pushdown-vs-join crossover. Feeds the
    * append-admission check and the fold's independent row accounting
    * (semi count + anti count must tile the artifact).
    */
  private[graft] def tombstoneMatches(df: DataFrame, ids: Array[Long], idColName: String,
                               pushdownMax: Int = AnnFilterPushdownMax): DataFrame =
    if (ids.isEmpty) df.limit(0)
    else if (ids.length <= pushdownMax)
      df.filter(col(idColName).isin(ids.map(java.lang.Long.valueOf): _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toSeq.toDF(idColName)), Seq(idColName), "left_semi")
    }

  /** First id of `df` that collides with the live tombstone set, if
    * any — the append-admission check (one bounded job).
    */
  private def tombstoneHit(df: DataFrame, ids: Array[Long], idColName: String,
                           pushdownMax: Int = AnnFilterPushdownMax): Option[Long] =
    // no live tombstones (every fresh artifact, and every artifact
    // after a fold) — nothing can hit; skip the probe job outright
    if (ids.isEmpty) None
    else tombstoneMatches(df, ids, idColName, pushdownMax)
      .select(col(idColName).cast("long")).limit(1).collect()
      .headOption.map(_.getLong(0))

  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String): Array[Long] =
    graft.sources.Tombstones.read(spark, indexPath)

  /** Refuse an append batch that re-uses live-tombstoned ids: the rows
    * would land but stay INVISIBLE to every probe until a fold, and
    * the fold would then physically drop them — two silent surprises.
    * Loud instead, with both legitimate paths named. Shared by the ANN
    * appenders and the near-dup band-index appender (`foldVerb` names
    * each family's own fold).
    */
  private[graft] def requireNoTombstoneHit(batch: DataFrame, spark: org.apache.spark.sql.SparkSession,
                                           indexPath: String, idCol: String,
                                           what: String,
                                           foldVerb: String = "annTombstoneFold"): Unit =
    tombstoneHit(batch, tombstonesOf(spark, indexPath), idCol).foreach(
      tombstoneHitRefusal(_, indexPath, what, foldVerb))

  /** The [[requireNoTombstoneHit]] refusal for a tombstoned `id`. */
  private[graft] def tombstoneHitRefusal(id: Long, indexPath: String, what: String,
                                         foldVerb: String): Nothing =
    sys.error(s"$what: batch id $id is tombstoned at $indexPath — appending it " +
      "would be invisible to every probe until the next fold, which would then " +
      s"physically drop it. Run $foldVerb first if the delete should " +
      "become physical (re-appends are then admitted), or append under fresh ids")

  /** Refuse a rebuild over a live tombstone set — the retrain
    * re-encodes from the caller's corpus and would silently resurrect
    * deleted rows (or, corpus-excluded, leave a sidecar shadowing ids
    * that no longer exist). One verb per job: fold, then rebuild.
    */
  private[operators] def requireNoTombstones(spark: org.apache.spark.sql.SparkSession,
                                  indexPath: String, what: String): Unit = {
    val n = graft.sources.Tombstones.count(spark, indexPath)
    require(n == 0L,
      s"$what: the artifact at $indexPath has $n live tombstoned ids — a rebuild " +
        "re-encodes from the corpus and would resurrect them. Fold first " +
        "(annTombstoneFold, or list tombstoneFoldDue ahead of the rebuild checks " +
        "in maintainIfDue — the window folds, then the rebuild re-audits)")
  }

  /** DELETE ids from a persisted ANN artifact (IVF-PQ, IVF-SQ8, or
    * any PCA/OPQ-composed variant — ids live outside the vector
    * space, so one verb serves every encoding): merge into the
    * tombstone sidecar, idempotently; unknown ids are admitted (the
    * fold verifies against rows actually present). Returns the live
    * tombstone count. The artifact must be header-stamped — deleting
    * from an arbitrary parquet path is a scoping mistake refused by
    * name. Writer-class access: route through the maintainer's
    * `withAccess` like an append.
    */
  def annIndexDeleteAt(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       ids: Seq[Long]): Long = {
    AnnLifecycle.writerEntry(spark, indexPath)(
      AnnLifecycle.requireKind(spark, indexPath, "annIndexDeleteAt"))
    if (ids.isEmpty) graft.sources.Tombstones.count(spark, indexPath)
    else graft.sources.Tombstones.add(spark, indexPath, ids)
  }

  /** [[annIndexDeleteAt]] from an id frame (the shape a metadata
    * predicate produces): first column is the id. Bounded by the
    * sidecar's own cap — the collect is the point (tombstones are
    * driver-held), so an over-cap frame refuses before collecting
    * more than cap+1 rows.
    */
  def annIndexDeleteAt(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                       ids: DataFrame): Long =
    annIndexDeleteAt(spark, indexPath,
      graft.sources.Tombstones.collectBounded(ids,
        "annIndexDeleteAt", "annTombstoneFold"))

  /** Make the tombstoned deletions PHYSICAL through
    * [[tombstoneFoldRows]]: rewrite the artifact minus the tombstoned
    * rows, verify the row accounting BEFORE the swap (rowsAfter ==
    * rowsBefore - matched), carry every foreign sidecar, re-seed the
    * SQ8 stats sidecar from the surviving rows (rail counts of deleted
    * rows must leave the saturation audit), atomically swap, and clear
    * the consumed tombstone set. Returns (rowsBefore, rowsAfter), or
    * (0, 0) on an empty set — the no-op reads only the sidecar, never
    * the artifact; a set that matches no row clears the sidecar and
    * rewrites nothing. Runs inside the same single-writer maintenance
    * window as compaction — it IS a compaction with a filter.
    */
  def annTombstoneFold(spark: org.apache.spark.sql.SparkSession,
                       indexPath: String): (Long, Long) = {
    val kind = AnnLifecycle.writerEntry(spark, indexPath)(
      AnnLifecycle.requireKind(spark, indexPath, "annTombstoneFold"))
    val ids = tombstonesOf(spark, indexPath)
    if (ids.isEmpty) return (0L, 0L)
    // SQ8: the stats sidecar accumulated the deleted rows' rail
    // counts — re-seed from the surviving rows ON TMP, so the swap
    // installs artifact + stats as one consistent generation
    val onTmp: String => Unit =
      if (kind != AnnLifecycle.IvfSq) _ => ()
      else { tmpPath =>
        val hdr = sqRequireHeader(spark, indexPath, "annTombstoneFold")
        sqStatsWrite(spark, tmpPath,
          sqStatsArray(spark.read.parquet(tmpPath), hdr.dim))
      }
    tombstoneFoldRows(spark, indexPath, ids, kind.idCol,
      "annTombstoneFold", clearTombstones = true, onTmp)
  }

  /** The fold shared by the ANN and near-dup families, on the
    * [[graft.sources.ArtifactRewrite]] core: rewrite `path` minus `ids`
    * (on `idColName`) and verify it before the swap — the rows the
    * rewrite's footers hold must equal the live footers' rows minus the
    * matched count of an INDEPENDENT scan. A scan that matches nothing
    * writes nothing: the consumed tombstone sidecar is cleared in place
    * and the rows are returned unchanged. Otherwise `clearTombstones`
    * drops the sidecar from the rewrite (an append of a folded id is
    * legitimate again) and `onTmp` (e.g. the SQ8 stats re-seed) runs on
    * it, so the swap installs one consistent generation. The rewrite
    * keeps its input order, or with `clusterBy` takes the compaction
    * layout ([[graft.sources.ArtifactCompaction.autoTargetFiles]] files
    * range-clustered on those columns), which the next compaction check
    * then finds within budget.
    */
  private[graft] def tombstoneFoldRows(spark: org.apache.spark.sql.SparkSession,
                                       path: String, ids: Array[Long],
                                       idColName: String, what: String,
                                       clearTombstones: Boolean,
                                       onTmp: String => Unit = _ => (),
                                       clusterBy: Seq[String] = Nil): (Long, Long) = {
    val live = graft.sources.ArtifactRewrite.open(spark, path) // crashed prior swap
    val rowsBefore = live.rows
    val matched =
      if (ids.isEmpty || !live.hasData) 0L
      else tombstoneMatches(live.read().select(idColName), ids, idColName).count()
    if (matched == 0L) {
      if (clearTombstones && ids.nonEmpty) graft.sources.Tombstones.clear(spark, path)
      return (rowsBefore, rowsBefore)
    }
    val kept = tombstoneExclude(live.read(), ids, idColName)
    val laidOut =
      if (clusterBy.isEmpty) kept
      else graft.sources.ArtifactCompaction.layout(kept,
        graft.sources.ArtifactCompaction.autoTargetFiles(spark, path), clusterBy)
    graft.sources.ArtifactRewrite.rewrite(live, "tombfold", what, Seq(
      graft.sources.ArtifactRewrite.Part("", laidOut, rowsBefore - matched))) { tmp =>
      if (clearTombstones) graft.sources.Tombstones.clear(spark, tmp)
      onTmp(tmp)
    }
    (rowsBefore, rowsBefore - matched)
  }

  // ------------------------------------------------------------------
  // PCA pre-transform (Faiss "PCAR{d},IVF{n},PQ{m}" index-factory
  // shape): rotate embeddings into the covariance eigenbasis and keep
  // the top-variance dimensions BEFORE quantization/indexing — the
  // standard dimensionality-reduction stage for high-dim embeddings
  // where most mass lives in a low-rank subspace. Training = one
  // covariance aggregate (oracle-exact integer sums, sample-bounded)
  // + a 64x64 eigensolve on the driver; the projection is a per-row
  // matrix multiply; the index sees outDim-dim vectors (m fewer code
  // bytes, nprobe/lists over a smaller space).
  // ------------------------------------------------------------------

  /** Pairwise second-moment sums over fixed-point-quantized
    * embeddings — the training aggregate of the PCA stage, exposed as
    * an oracle-gateable frame: one row per (i <= j) dimension pair
    * with BIGINT `n`, `s_a` (sum of dim i), `s_b` (sum of dim j) and
    * `s_ab` (sum of products), all at floor(x * 2^20) scale so the
    * distributed aggregation is bit-reproducible under any
    * partitioning (float covariance sums are summation-order-
    * dependent — the [[kmeans]] fixed-point-mean trap).
    *
    * Training rows are bounded to 2^21 — and the overflow guard is
    * EXACT, not a headroom claim: the binding sum is `s_ab` with
    * per-row magnitude up to maxAbsQ^2 (maxAbsQ = the sample's own
    * largest |code|), so the guard measures maxAbsQ in one aggregate
    * over the bounded sample and refuses unless
    * `nTrain * maxAbsQ^2 <= Long.MaxValue` (at 2^21 rows that admits
    * |x| <= 2; a wrapped non-ANSI sum would corrupt the covariance and
    * hence the rotation SILENTLY). PCA never needs more rows than the
    * bound (Faiss trains transforms on <= ~256k samples); pass
    * `trainSample`/`trainFraction` for bigger corpora.
    *
    * Scale shape: dim^2 generated rows per training vector into ONE
    * map-side-combined groupBy(i, j) with dim*(dim+1)/2 output rows —
    * no shuffle of the vectors themselves.
    */
  def embedCovariance(embeddings: DataFrame, dim: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      trainSample: Int = 0, trainFraction: Double = 0.0): DataFrame = {
    val train = trainFrameOf(embeddings, idCol, trainSample, trainFraction)
    val scale = 1048576.0 // 2^20 — the kmeans fixed-point convention
    val quantize = udf { (v: Seq[Float]) =>
      v.map(x => math.floor(x.toDouble * scale).toLong).toArray
    }
    val quantized = train.select(quantize(col(vecCol)).as("qv"))
    // one aggregate over the (bounded) sample answers BOTH guard
    // questions: the row bound, and the sample's own largest |code| —
    // the exact input to the s_ab overflow bound
    val g = quantized.agg(count(lit(1)).as("n"),
      coalesce(max(expr("aggregate(qv, 0L, (m, x) -> greatest(m, abs(x)))")),
        lit(0L)).as("maxq")).collect()(0)
    val (nTrain, maxAbsQ) = (g.getLong(0), g.getLong(1))
    require(nTrain <= (1L << 21),
      s"embedCovariance: $nTrain training rows would risk BIGINT overflow in the " +
        "fixed-point product sums (bound 2^21) — PCA trains on a sample; pass " +
        "trainSample/trainFraction (the Faiss transform-training convention)")
    require(maxAbsQ <= (1L << 30) &&
        (maxAbsQ == 0L || nTrain <= Long.MaxValue / (maxAbsQ * maxAbsQ)),
      s"embedCovariance: $nTrain training rows with max |code| $maxAbsQ " +
        f"(max |x| ~ ${maxAbsQ / scale}%.3f) can overflow the BIGINT product sum " +
        "s_ab — Spark's non-ANSI sum would WRAP silently and corrupt the " +
        "covariance (and any rotation trained on it); shrink the training " +
        "sample or normalize the embeddings first")
    // pair-volume bound: the aggregate explodes nTrain x dim(dim+1)/2
    // intermediate rows. Measured (AnnProbe dims, 4096 rows, 32
    // threads): 3.9 s at dim 256, 6.1 s at 512, 19.3 s at 1024 —
    // linear in this product; 2^34 pairs ~ a few minutes, the
    // outer bound of a maintenance-window training step. At dim 64
    // (2080 pairs/row) this admits ~8M rows — looser than the 2^21
    // overflow bound above, so only high-dim corpora ever see it.
    val pairs = dim.toLong * (dim + 1L) / 2L
    require(nTrain * pairs <= (1L << 34),
      s"embedCovariance: $nTrain training rows x $pairs dim-pairs = " +
        s"${nTrain * pairs} exploded aggregate rows (bound 2^34) — at dim " +
        s"$dim pass trainSample <= ${(1L << 34) / pairs} (the covariance only " +
        "needs a sample; the Faiss transform-training convention)")
    quantized
      .select(col("qv"), posexplode(col("qv")).as(Seq("i", "a")))
      .select(col("i"), col("a"), posexplode(col("qv")).as(Seq("j", "b")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("s_a"),
        sum(col("b")).as("s_b"), sum(col("a") * col("b")).as("s_ab"))
  }

  /** Deterministic cyclic Jacobi eigensolver for the (tiny, driver-
    * side) symmetric covariance matrix: fixed sweep order, fixed sweep
    * count, no pivot search — the same input matrix yields the same
    * eigenpairs on every run and every JVM. Returns (eigenvalues,
    * eigenvectors-as-rows), sorted by eigenvalue descending with the
    * original index as the tie-break, each vector sign-canonicalized
    * (largest-|component| coordinate positive).
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]], sweeps: Int = 16)
      : (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    // dimensional envelope, measured (AnnProbe dims, 16 sweeps, one
    // driver core): 0.55 s at dim 256, 3.8 s at 512, 102 s at 1024 —
    // O(sweeps x dim^3), so 2048 extrapolates to ~15 min (the outer
    // edge of a rebuild window) and 4096 to ~2 h. Refuse past 2048:
    // reduce dimensionality upstream (a truncated random projection /
    // feature hash before ingest), not in this dense eigensolver.
    require(n <= 2048,
      s"jacobiEigen: dim $n exceeds the 2048 driver-eigensolve envelope " +
        "(O(dim^3): measured 102 s at 1024, ~2 h extrapolated at 4096) — " +
        "reduce embedding dimensionality upstream before training a rotation")
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var s = 0
    while (s < sweeps) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-18) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0
              case sg => sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sn = t * c
            var i = 0
            while (i < n) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - sn * aiq
              a(i)(q) = sn * aip + c * aiq
              i += 1
            }
            var j = 0
            while (j < n) {
              val apj = a(p)(j); val aqj = a(q)(j)
              a(p)(j) = c * apj - sn * aqj
              a(q)(j) = sn * apj + c * aqj
              val vjp = v(j)(p); val vjq = v(j)(q)
              v(j)(p) = c * vjp - sn * vjq
              v(j)(q) = sn * vjp + c * vjq
              j += 1
            }
          }
          q += 1
        }
        p += 1
      }
      s += 1
    }
    val order = (0 until n).sortBy(i => (-a(i)(i), i))
    val eigs = order.map(i => a(i)(i)).toArray
    val rows = order.map { i =>
      val col = Array.tabulate(n)(r => v(r)(i))
      // sign canonicalization: make the largest-|x| coordinate
      // positive so the rotation is unique (eigenvectors are only
      // defined up to sign)
      val m = col.indices.maxBy(r => (math.abs(col(r)), -r))
      if (col(m) < 0) col.map(-_) else col
    }.toArray
    (eigs, rows)
  }

  /** Train the PCA rotation: covariance from [[embedCovariance]]'s
    * exact integer sums, eigensolve on the driver, top `outDim`
    * eigenvectors as the (outDim x dim) projection matrix. Fully
    * deterministic (fixed-point sums + fixed-order Jacobi + canonical
    * signs), so the rotation an artifact stores is reproducible from
    * the training frame alone.
    */
  def pcaRotation(embeddings: DataFrame, dim: Int, outDim: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  trainSample: Int = 0, trainFraction: Double = 0.0)
      : Array[Array[Double]] = {
    require(outDim >= 1 && outDim <= dim, s"outDim=$outDim must be in [1, $dim]")
    jacobiEigen(covarianceMatrix(embeddings, dim, idCol, vecCol,
      trainSample, trainFraction))._2.take(outDim)
  }

  /** The covariance matrix assembled on the driver from
    * [[embedCovariance]]'s exact integer sums — the shared input of
    * rotation TRAINING ([[pcaRotation]]) and the staleness AUDIT
    * ([[pcaCaptureAudit]]), one function so the two can never diverge
    * in how they derive C from the gated sums.
    */
  private[graft] def covarianceMatrix(embeddings: DataFrame, dim: Int,
                                      idCol: String = "vec_id",
                                      vecCol: String = "embedding",
                                      trainSample: Int = 0,
                                      trainFraction: Double = 0.0)
      : Array[Array[Double]] = {
    val sums = embedCovariance(embeddings, dim, idCol, vecCol,
      trainSample, trainFraction).collect()
    require(sums.nonEmpty, "covarianceMatrix: empty training frame")
    val scale = 1048576.0
    val n = sums.head.getLong(2).toDouble
    val cov = Array.ofDim[Double](dim, dim)
    sums.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val (sa, sb, sab) = (r.getLong(3).toDouble, r.getLong(4).toDouble,
        r.getLong(5).toDouble)
      val c = (sab / n - (sa / n) * (sb / n)) / (scale * scale)
      cov(i)(j) = c; cov(j)(i) = c
    }
    cov
  }

  /** Variance capture of a rotation against a covariance matrix, in
    * per-mille: `1000 * sum_r(r^T C r) / trace(C)` — how much of the
    * data's variance the rotation's row space retains. For the exact
    * top-`outDim` eigenbasis this equals the eigenvalue mass ratio;
    * for a STALE rotation against a DRIFTED covariance it drops —
    * which is precisely the index-quality signal the staleness audit
    * polls. Deterministic driver arithmetic over the oracle-gated
    * covariance sums (the [[jacobiEigen]] convention); clamped to
    * [0, 1000] against float assembly noise. A zero-variance corpus
    * (trace 0) captures trivially: there is no basis question to ask.
    */
  private[graft] def capturePm(rot: Array[Array[Double]],
                               cov: Array[Array[Double]]): Long = {
    val dim = cov.length
    var tr = 0.0
    var i = 0
    while (i < dim) { tr += cov(i)(i); i += 1 }
    if (tr <= 0.0) 1000L
    else {
      var cap = 0.0
      rot.foreach { r =>
        var a = 0
        while (a < dim) {
          var row = 0.0
          var b = 0
          while (b < dim) { row += cov(a)(b) * r(b); b += 1 }
          cap += r(a) * row
          a += 1
        }
      }
      math.max(0L, math.min(1000L, math.round(1000.0 * cap / tr)))
    }
  }

  /** Project embeddings through a PCA rotation — one per-row matrix
    * multiply, output a FLOAT `outDim`-vector ready for any index
    * build or probe in this file.
    */
  def pcaProject(embeddings: DataFrame, rotation: Array[Array[Double]],
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val rot = rotation
    val inDim = rotation.head.length
    val proj = udf { (v: Seq[Float]) =>
      require(v.length == inDim,
        s"pcaProject: vector has ${v.length} dims but the rotation projects " +
          s"from dim=$inDim — ragged corpus row (projecting a slice would " +
          "land in a different subspace silently)")
      rot.map { row =>
        var s = 0.0; var i = 0
        while (i < row.length) { s += row(i) * v(i); i += 1 }
        s.toFloat
      }.toSeq
    }
    embeddings.select(col(idCol), proj(col(vecCol)).as(vecCol))
  }

  /** The stored rotation of a composed PCA artifact — the read-path
    * accessor every consumer (probe, refine, projected-corpus rebuild)
    * trusts instead of retraining.
    */
  def pcaRotationAt(spark: org.apache.spark.sql.SparkSession,
                    indexPath: String,
                    what: String = "pcaRotationAt"): Array[Array[Double]] =
    pcaRotHeader(spark, indexPath, what)._2

  /** The pcarot sidecar's params and its validated rotation; refuses a
    * path without one.
    */
  private[operators] def pcaRotHeader(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                           what: String): (Map[String, String], Array[Array[Double]]) = {
    val kv = graft.sources.ArtifactHeader.read(spark, indexPath, "pcarot").getOrElse(
      sys.error(s"$what: no pcarot header at $indexPath — the index holds PROJECTED " +
        "vectors, and probing it with unprojected queries scores a different space " +
        "silently; build with annIndexWrite over a RotatedSpec (which stamps the " +
        "rotation)"))
    val rot = decodeMatrix(kv("rotation"))
    require(rot.length == kv("out_dim").toInt &&
      rot.forall(_.length == kv("dim").toInt),
      s"$what: pcarot header at $indexPath disagrees with its own dims")
    (kv, rot)
  }

  // ------------------------------------------------------------------
  // PCA rotation staleness: the one index-quality signal appends and
  // quantizer rebuilds cannot see. The rotation is stamped once and
  // deliberately carried through every quantizer retrain — but nothing
  // above this block ever asks "does this basis still capture the
  // data?", so on a drifted corpus the PROJECTED index degrades with
  // every other audit green. The audit below is one covariance
  // aggregate over a bounded fresh sample (q_embed_cov's oracle-gated
  // BIGINT algebra) compared against the training-time capture the
  // write path stamps; the rebuild retrains rotation AND quantizers
  // through the same verify-before-swap discipline as every rebuild.
  // ------------------------------------------------------------------

  /** The basis staleness audit: variance capture of the STORED
    * rotation measured on a fresh deterministic sample of the RAW
    * corpus, against the header-stamped training-time baseline.
    * Returns `(storedCapturePm, freshCapturePm)` — a fresh value well
    * below the stored one means the data's variance has rotated out of
    * the basis the index projects through, and every vector indexed
    * since is losing signal the quantizer audits cannot measure.
    *
    * Cost contract: ONE [[embedCovariance]] aggregate over the sample
    * (dim^2 generated rows per sampled vector, map-side combined into
    * dim*(dim+1)/2 output rows) + an O(outDim * dim^2) driver fold —
    * bounded like every trainer here via `trainSample`/`trainFraction`.
    * A pre-capture-stamp artifact refuses with guidance
    * ([[pcaCaptureRestamp]] is the repair verb; the restamped baseline
    * is the CURRENT corpus — drift before the restamp is unknowable).
    */
  def pcaCaptureAudit(corpus: DataFrame, indexPath: String,
                      trainSample: Int = 0, trainFraction: Double = 0.0,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): (Long, Long) = {
    val (kv, rot) = pcaRotHeader(corpus.sparkSession, indexPath, "pcaCaptureAudit")
    val stored = kv.get("capture_pm").map(_.toLong).getOrElse(
      sys.error(s"pcaCaptureAudit: pcarot header at $indexPath predates the " +
        "capture baseline — restamp it with pcaCaptureRestamp (the new baseline " +
        "is the current corpus; drift before the restamp cannot be recovered)"))
    requireCorpusDim(corpus, rot.head.length, indexPath, vecCol, "pcaCaptureAudit")
    val cov = covarianceMatrix(corpus, rot.head.length, idCol, vecCol,
      trainSample, trainFraction)
    (stored, capturePm(rot, cov))
  }

  /** Stamp (or re-stamp) the capture baseline of a pcarot sidecar from
    * the current corpus — the repair verb for artifacts written before
    * the baseline existed, mirroring [[ivfSqStatsRestamp]]. Returns
    * the stamped per-mille value.
    */
  def pcaCaptureRestamp(corpus: DataFrame, indexPath: String,
                        trainSample: Int = 0, trainFraction: Double = 0.0,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): Long = {
    val (kv, rot) = pcaRotHeader(corpus.sparkSession, indexPath, "pcaCaptureRestamp")
    val cov = covarianceMatrix(corpus, rot.head.length, idCol, vecCol,
      trainSample, trainFraction)
    val c = capturePm(rot, cov)
    graft.sources.ArtifactHeader.write(corpus.sparkSession, indexPath, "pcarot",
      ((kv - "capture_pm").toSeq :+ ("capture_pm" -> c.toString)))
    c
  }

  /** Whether the pcarot sidecar carries a capture baseline — the
    * legacy detector a maintainer's due check uses to schedule
    * [[pcaCaptureRestamp]].
    */
  def pcaHasCaptureBaseline(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String): Boolean =
    graft.sources.ArtifactHeader.read(spark, indexPath, "pcarot")
      .exists(_.contains("capture_pm"))

  // ------------------------------------------------------------------
  // OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013 — the
  // Faiss "OPQ{m}" pre-transform): rotate BEFORE product quantization
  // so the m independent sub-quantizers each see a balanced share of
  // the data's variance. The parametric form (OPQ_P) needs no
  // alternation: take the PCA eigenbasis and ALLOCATE the eigen
  // directions to subspaces balancing the per-subspace eigenvalue
  // product — a full-rank rotation, so nothing is truncated and the
  // code bytes just stop being wasted on flat subspaces. It rides the
  // ENTIRE pcarot machinery (sidecar, projecting probe/refine/append,
  // full-stack rebuild): an OPQ rotation is just a rotation.
  // ------------------------------------------------------------------

  /** Eigenvalue allocation (OPQ_P's greedy): walk the eigenvalues in
    * descending order (jacobiEigen's output order) and hand each to
    * the not-yet-full subspace with the smallest current log-product;
    * ties break to the smaller subspace index. Returns the eigen-row
    * index for each output position, subspace-major (subspace s owns
    * positions s*subDim until (s+1)*subDim). Deterministic driver
    * arithmetic over the oracle-gated covariance's eigenvalues — the
    * jacobiEigen convention.
    *
    * The log contributions are SHIFTED to be non-negative (minus the
    * smallest log-eigenvalue) before the greedy: balance is
    * shift-invariant — every subspace ends with exactly subDim factors
    * — but the greedy is not. Unshifted, a spectrum entirely below 1
    * makes every assignment LOWER a bucket's sum, so the first bucket
    * keeps winning until it has swallowed the subDim LARGEST
    * eigenvalues — the exact imbalance the allocation exists to
    * prevent (measured: ADC recall 0.15 vs the plain-PQ 0.30 it was
    * supposed to beat). Shifted, this is LPT scheduling on
    * non-negative items: the big contributions spread one per
    * subspace first.
    */
  private[graft] def opqEigenAllocate(eigs: Array[Double], m: Int): Array[Int] = {
    val dim = eigs.length
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val subDim = dim / m
    // floor tiny/negative numeric eigenvalues so one degenerate
    // direction cannot -Inf a bucket into absorbing everything
    val logs = eigs.map(e => math.log(math.max(e, 1e-12)))
    val shift = logs.min
    val buckets = Array.fill(m)(List.empty[Int])
    val logSum = new Array[Double](m)
    for (i <- 0 until dim) {
      var best = -1
      var b = 0
      while (b < m) {
        if (buckets(b).length < subDim &&
            (best < 0 || logSum(b) < logSum(best))) best = b
        b += 1
      }
      buckets(best) ::= i
      logSum(best) += logs(i) - shift
    }
    buckets.flatMap(_.reverse)
  }

  /** The OPQ_P rotation: PCA eigenbasis rows REORDERED by eigenvalue
    * allocation — full-rank (outDim == dim), trained from the same
    * oracle-gated covariance sums as [[pcaRotation]].
    */
  def opqRotation(embeddings: DataFrame, dim: Int, m: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  trainSample: Int = 0, trainFraction: Double = 0.0)
      : Array[Array[Double]] = {
    val (eigs, rows) = jacobiEigen(covarianceMatrix(embeddings, dim, idCol,
      vecCol, trainSample, trainFraction))
    opqEigenAllocate(eigs, m).map(rows)
  }

  /** NON-PARAMETRIC OPQ (Ge et al. 2013 §4, the production Faiss
    * OPQMatrix training loop): alternate (a) train PQ codebooks in the
    * current rotation's space with (b) re-solve the rotation as the
    * orthogonal Procrustes problem min_R ||R·x - decode(encode(R·x))||²
    * — R = U·Vᵀ from the SVD of the reconstruction cross-moment
    * M = Σ ŷ·xᵀ. Initialized from the [[opqRotation]] eigenvalue
    * allocation (the paper's parametric warm start, already the
    * measured OPQ_P ladder rung); each alternating step minimizes the
    * shared quantization objective given the other, so the error is
    * non-increasing up to the sampled/fixed-point approximation of
    * the steps.
    *
    * Distribution shape: per iteration, one codebook training pass
    * (the m-subspace kmeans chain) plus ONE additional pass for the
    * cross-moment — a dim×dim fixed-point BIGINT aggregate
    * accumulated per partition and merged on the driver (deterministic
    * by construction: integer addition commutes, so partition order
    * cannot change the rotation). The O(dim³) SVD runs on the driver
    * like [[jacobiEigen]] — same dimensional envelope as the PCA
    * path. Train cost is bounded by `trainSample`/`trainFraction`
    * exactly like every trainer here; the returned codebooks are
    * trained in the FINAL rotation's space, ready for the index
    * write.
    *
    * @return (rotation rows, codebooks in the final rotated space)
    */
  def opqIterRotation(embeddings: DataFrame, dim: Int, m: Int,
                      codes: Int = 16, iters: Int = 2,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      trainSample: Int = 0, trainFraction: Double = 0.0)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cov = covarianceMatrix(embeddings, dim, idCol, vecCol,
      trainSample, trainFraction)
    val (rot, cbs) = opqIterRotationFrom(embeddings, cov, dim, m, codes,
      iters, idCol, vecCol, trainSample, trainFraction,
      finalCodebooks = true)
    (rot, cbs.get)
  }

  /** [[opqIterRotation]] over a PRECOMPUTED training covariance —
    * the index write and the method-aware rebuild both already hold
    * one (the capture_pm baseline / the staleness audit), and
    * recomputing it here would duplicate the most expensive
    * distributed pass (and at dim 1024 a ~100 s driver eigensolve).
    * `finalCodebooks = false` skips the final in-rotation codebook
    * training for callers that retrain codebooks themselves (the
    * rebuild path, whose pqIters/residual parameters differ).
    */
  private[operators] def opqIterRotationFrom(embeddings: DataFrame,
                                  cov: Array[Array[Double]],
                                  dim: Int, m: Int, codes: Int, iters: Int,
                                  idCol: String, vecCol: String,
                                  trainSample: Int, trainFraction: Double,
                                  finalCodebooks: Boolean)
      : (Array[Array[Double]], Option[Array[Array[Array[Double]]]]) = {
    require(iters >= 1, s"opqIterRotation: iters=$iters must be >= 1")
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val (eigs, eigRows) = jacobiEigen(cov)
    var rot = opqEigenAllocate(eigs, m).map(eigRows)
    // ONE bounded training frame reused across all iterations (each
    // needs the raw x side of the cross-moment AND the codebook
    // trainer's projected view)
    val train = trainFrameOf(embeddings, idCol, trainSample, trainFraction)
      .select(col(idCol), col(vecCol)).localCheckpoint()
    var it = 0
    while (it < iters) {
      val proj = pcaProject(train, rot, idCol, vecCol)
      val cbs = pqLearnedCodebooks(proj, dim = dim, m = m, codes = codes,
        iters = 2, vecCol = vecCol, idCol = idCol, seedFromData = true)
      rot = opqProcrustes(opqCrossMoment(train, rot, cbs, dim, m, vecCol))
      it += 1
    }
    // codebooks must live in the FINAL rotation's space
    val finalCbs =
      if (!finalCodebooks) None
      else Some(pqLearnedCodebooks(pcaProject(train, rot, idCol, vecCol),
        dim = dim, m = m, codes = codes, iters = 2, vecCol = vecCol,
        idCol = idCol, seedFromData = true))
    graft.plans.CheckpointHygiene.free(train)
    (rot, finalCbs)
  }

  /** The reconstruction cross-moment M = Σ ŷ·xᵀ of the Procrustes
    * step, as an exact fixed-point BIGINT aggregate (2^15 per
    * coordinate, data-driven overflow guard — the embedCovariance
    * convention): ŷ is the PQ reconstruction of R·x under the current
    * codebooks, computed row-local with the broadcast rotation and
    * codebooks, partial sums per partition, one driver merge.
    */
  private def opqCrossMoment(train: DataFrame, rot: Array[Array[Double]],
                             cbs: Array[Array[Array[Double]]],
                             dim: Int, m: Int, vecCol: String)
      : Array[Array[Double]] = {
    val spark = train.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val scale = 32768.0 // 2^15
    val g = train.agg(count(lit(1)).as("n"),
      coalesce(max(expr(s"aggregate($vecCol, CAST(0.0 AS DOUBLE), " +
        "(mx, x) -> greatest(mx, abs(CAST(x AS DOUBLE))))")), lit(0.0)).as("mx"))
      .collect()(0)
    val (n, maxX) = (g.getLong(0), g.getDouble(1))
    // |y_j| <= ||x||_2 <= sqrt(dim)*maxX for unit rotation rows, and
    // centroids are means of members, so one bound covers both sides.
    // Divide twice, never form maxQ*maxQ: the squared bound itself
    // wraps Long for |x| in the low thousands at dim 1024, and a
    // wrapped guard can wave real overflow through
    val maxQ = math.max(math.ceil(scale * maxX * math.sqrt(dim)).toLong, 1L)
    require(n <= Long.MaxValue / maxQ / maxQ,
      s"opqCrossMoment: $n rows with max |x| $maxX can overflow the BIGINT " +
        "cross-moment sum — normalize the embeddings or train on a sample " +
        "(trainSample/trainFraction)")
    val bR = spark.sparkContext.broadcast(rot)
    val bC = spark.sparkContext.broadcast(cbs)
    val parts = train.select(col(vecCol)).as[Seq[Float]]
      .mapPartitions { rows =>
        val r = bR.value; val cb = bC.value
        val acc = new Array[Long](dim * dim)
        val y = new Array[Double](dim)
        val qx = new Array[Long](dim)
        rows.foreach { v =>
          require(v.length == dim,
            s"opqCrossMoment: vector has ${v.length} dims, expected $dim — " +
              "ragged corpus row")
          var j = 0
          while (j < dim) {
            var s = 0.0; var d = 0
            val rr = r(j)
            while (d < dim) { s += rr(d) * v(d); d += 1 }
            y(j) = s; j += 1
          }
          var d = 0
          while (d < dim) { qx(d) = math.floor(v(d) * scale).toLong; d += 1 }
          var s = 0
          while (s < m) {
            // nearest sub-codebook entry by L2 (== the MIPS argmax of
            // pqEncodeUdf); ŷ slice = that centroid
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < cb(s).length) {
              val cv = cb(s)(c)
              var dd = 0.0; var i = 0
              while (i < subDim) {
                val diff = y(s * subDim + i) - cv(i); dd += diff * diff; i += 1
              }
              if (dd < bestD) { bestD = dd; best = c }
              c += 1
            }
            val cv = cb(s)(best)
            var i = 0
            while (i < subDim) {
              val row = s * subDim + i
              val qy = math.floor(cv(i) * scale).toLong
              var cc = 0
              while (cc < dim) { acc(row * dim + cc) += qy * qx(cc); cc += 1 }
              i += 1
            }
            s += 1
          }
        }
        Iterator.single(acc)
      }
    // executor-side partial merge (treeReduce), not a driver collect
    // of one dim² array PER PARTITION: at dim 2048 each partial is
    // 32 MB, and a many-partition train frame would materialize GBs
    // in the driver before a sequential merge. Integer addition
    // commutes, so the tree shape cannot change the result.
    val total = parts.rdd.treeReduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    Array.tabulate(dim, dim)((r, c) => total(r * dim + c) / (scale * scale))
  }

  /** Solve min_R ||R·A - B||_F over orthogonal R given the
    * cross-moment M = B·Aᵀ: R = U·Vᵀ from M = U·S·Vᵀ. The SVD runs
    * through the symmetric eigensolver already in the tree
    * (MᵀM = V·S²·Vᵀ, U = M·V·S⁻¹ — [[jacobiEigen]]); a
    * rank-deficient cross-moment (a degenerate corpus whose
    * reconstruction spans a subspace) cannot pin the rotation and
    * refuses rather than returning a non-orthogonal guess, and the
    * result is verified orthogonal before it is returned.
    */
  private[graft] def opqProcrustes(mIn: Array[Array[Double]])
      : Array[Array[Double]] = {
    val d = mIn.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var r = 0
      while (r < d) { s += mIn(r)(i) * mIn(r)(j); r += 1 }
      s
    }
    val (eigs, vRows) = jacobiEigen(mtm)
    val sig = eigs.map(e => math.sqrt(math.max(e, 0.0)))
    require(sig(0) > 0.0 && sig(d - 1) > 1e-9 * sig(0),
      "opqProcrustes: the cross-moment is (near-)rank-deficient — the corpus " +
        "reconstruction spans a subspace, so the rotation is underdetermined; " +
        "train on more data or keep the parametric OPQ_P rotation")
    val u = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var r = 0
      while (r < d) {
        var s = 0.0; var c = 0
        while (c < d) { s += mIn(r)(c) * vRows(i)(c); c += 1 }
        u(r)(i) = s / sig(i); r += 1
      }
      i += 1
    }
    var rot = Array.tabulate(d, d) { (r, c) =>
      var s = 0.0; var k = 0
      while (k < d) { s += u(r)(k) * vRows(k)(c); k += 1 }
      s
    }
    // U·Vᵀ assembled through the eigen route carries O(1e-6)
    // orthogonality error at dim 64 (the SVD-by-MᵀM squaring of the
    // condition number); two Newton–Schulz steps — R ← 1.5R − 0.5·R·RᵀR,
    // the deterministic polar-projection iteration — polish it to the
    // NEAREST orthogonal matrix before anyone projects through it
    def mul(a: Array[Array[Double]], b: Array[Array[Double]]) =
      Array.tabulate(d, d) { (r, c) =>
        var s = 0.0; var k = 0
        while (k < d) { s += a(r)(k) * b(k)(c); k += 1 }
        s
      }
    var step = 0
    while (step < 2) {
      val rtr = Array.tabulate(d, d) { (r, c) =>
        var s = 0.0; var k = 0
        while (k < d) { s += rot(k)(r) * rot(k)(c); k += 1 }
        s
      }
      val rrtr = mul(rot, rtr)
      rot = Array.tabulate(d, d)((r, c) => 1.5 * rot(r)(c) - 0.5 * rrtr(r)(c))
      step += 1
    }
    // verify R·Rᵀ == I — post-polish failure means a genuinely
    // degenerate cross-moment, not assembly noise
    var maxDev = 0.0
    var r = 0
    while (r < d) {
      var c = 0
      while (c < d) {
        var s = 0.0; var k = 0
        while (k < d) { s += rot(r)(k) * rot(c)(k); k += 1 }
        maxDev = math.max(maxDev, math.abs(s - (if (r == c) 1.0 else 0.0)))
        c += 1
      }
      r += 1
    }
    require(maxDev < 1e-8,
      f"opqProcrustes: result deviates from orthogonality by $maxDev%.2e " +
        "after polar polish — numerically degenerate cross-moment")
    rot
  }

  /** The SQL-EXACT cousin of [[opqRotation]] for the oracle gate: a
    * pure DIMENSION PERMUTATION balancing per-subspace ENERGY (raw
    * second moment — exact BIGINT at a 2^10 fixed point, so both
    * engines rank identically) by interleaving the energy-sorted dims
    * round-robin across the m subspaces. A permutation IS an
    * orthogonal rotation, and unlike the eigenbasis it is derivable in
    * plain SQL — so q_ann_opq gates a data-dependent rotation plus
    * both quantizer training chains end to end, the
    * q_ann_index_learned contract extended one stage left. Returns the
    * NEW position of each original dim.
    */
  def opqEnergyPermutation(embeddings: DataFrame, dim: Int, m: Int,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           trainSample: Int = 0,
                           trainFraction: Double = 0.0): Array[Int] = {
    require(dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    // 2^10, not the kmeans 2^20: energies only need to RANK, and the
    // coarser fixed point keeps the full-corpus q^2 sum in BIGINT
    // (guarded exactly below, the embedCovariance convention). The
    // default ranks the FULL corpus (what the q_ann_opq oracle
    // mirrors); production bounds the scan with the shared
    // hash-threshold sample like every trainer here.
    val scale = 1024.0
    val quant = udf { (v: Seq[Float]) =>
      v.map(x => math.floor(x.toDouble * scale).toLong).toArray
    }
    val q = trainFrameOf(embeddings, idCol, trainSample, trainFraction)
      .select(quant(col(vecCol)).as("qv"))
    val g = q.agg(count(lit(1)).as("n"),
      coalesce(max(expr("aggregate(qv, 0L, (mx, x) -> greatest(mx, abs(x)))")),
        lit(0L)).as("maxq")).collect()(0)
    val (n, maxq) = (g.getLong(0), g.getLong(1))
    require(maxq <= (1L << 25) &&
        (maxq == 0L || n <= Long.MaxValue / (maxq * maxq)),
      s"opqEnergyPermutation: $n rows with max |code| $maxq can overflow the " +
        "BIGINT energy sum — normalize the embeddings or rank on a sample")
    val en = q.select(posexplode(col("qv")).as(Seq("d", "x")))
      .groupBy("d").agg(sum(col("x") * col("x")).as("e"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val energies = Array.tabulate(dim)(d => en.getOrElse(d, 0L))
    val subDim = dim / m
    val np = new Array[Int](dim)
    (0 until dim).sortBy(d => (-energies(d), d)).zipWithIndex.foreach {
      case (d, r) => np(d) = (r % m) * subDim + r / m
    }
    np
  }

  /** Apply a dimension permutation: output position `newPos(d)` takes
    * input coordinate d — one array shuffle per row, no arithmetic, so
    * the floats pass through BIT-EXACT on both engines.
    */
  def applyDimPermutation(embeddings: DataFrame, newPos: Array[Int],
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    val np = newPos
    val d = np.length
    require(np.sorted.sameElements(Array.range(0, d)),
      s"applyDimPermutation: newPos is not a permutation of 0 until $d")
    val permUdf = udf { (v: Seq[Float]) =>
      require(v.length == d,
        s"applyDimPermutation: vector has ${v.length} dims but the " +
          s"permutation covers dim=$d — ragged corpus row")
      val out = new Array[Float](d)
      var i = 0
      while (i < d) { out(np(i)) = v(i); i += 1 }
      out.toSeq
    }
    embeddings.select(col(idCol), permUdf(col(vecCol)).as(vecCol))
  }
}

/** Return row of [[Similarity.mmrSelectUdf]] — TOP-LEVEL (not
  * object-nested) so the encoder's generated code can construct it
  * (the object-nested-case-class codegen pitfall, PLANS.md round 4).
  */
case class MmrPick(rank: Long, neighbor_id: Long, mmr_e6: Long)
