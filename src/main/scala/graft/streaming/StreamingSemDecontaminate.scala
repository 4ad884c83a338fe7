package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** Streaming semantic decontamination: arriving corpus vectors probe a
  * BENCHMARK bucket index — the streaming face of
  * [[graft.operators.Similarity.semanticContaminationLsh]], the same
  * posture as [[StreamingDecontaminate]]'s n-gram twin.
  *
  * STATELESS by construction: benchmarks are small by nature (the
  * brute path's `maxBenchRows` guard codifies it), so the capped
  * bucket table AND the bench vectors broadcast once into the flatMap
  * closure; each arriving vector computes its sign-LSH bucket keys,
  * meets only same-bucket bench vectors, and emits its arg-max cosine
  * flag — a per-row scalar fold with no state store, no watermark, no
  * streaming aggregate. Bucket keys and cosine come from the SAME
  * scalar kernels the batch operator evaluates
  * ([[Similarity.bucketKeysScalar]], [[Similarity.dotScalar]]), and
  * the per-bucket cap replicates `Dedup.capBucket`'s ascending-id cut,
  * so batch and stream can never drift.
  */
object StreamingSemDecontaminate {
  final case class VecRecord(vec_id: Long, embedding: Seq[Float])

  /** Driver-built bench index: per-bucket capped ascending bench ids
    * (the `capBucket` rule) + the bench vectors WITH their norms —
    * norms are a property of the index, computed once at build time,
    * never per arriving row.
    */
  final case class BenchIndex(buckets: Map[String, Array[Long]],
                              vecs: Map[Long, (Array[Float], Double)],
                              planes: Int, tables: Int, dim: Int)

  /** Size contract, enforced (the batch brute path's
    * [[Similarity.semanticContamination]] guard, mirrored): the index
    * is collected to the DRIVER and broadcast into the flatMap
    * closure, so an unbounded bench side OOMs the driver silently.
    * Benchmarks are small by nature; a "bench" table over the bound is
    * a corpus, and corpus-vs-corpus questions belong to the batch LSH
    * path ([[Similarity.semanticContaminationLsh]]) over persisted
    * frames, not a driver-resident stream index. The limit bounds the
    * probe scan.
    */
  def benchIndex(bench: DataFrame, dim: Int, planes: Int = 6, tables: Int = 8,
                 idCol: String = "vec_id", vecCol: String = "embedding",
                 bucketCap: Int = 128,
                 maxBenchRows: Long = Similarity.DefaultMaxBenchRows): BenchIndex = {
    val spark = bench.sparkSession
    import spark.implicits._
    // clamp: maxBenchRows >= Int.MaxValue would overflow the limit()
    // argument into a negative, failing confusingly instead of passing
    val benchRows =
      bench.limit(math.min(maxBenchRows, Int.MaxValue - 1L).toInt + 1).count()
    require(benchRows <= maxBenchRows,
      s"StreamingSemDecontaminate.benchIndex collects the bench side to the driver: " +
        s"bench has >$maxBenchRows rows; a set that size is a corpus, not a benchmark " +
        s"— run batch semanticContaminationLsh over persisted frames instead")
    val rows = bench.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Seq[Float])].collect()
    val keysOf = Similarity.bucketKeysScalar(planes, tables, dim)
    val buckets = rows.iterator
      .flatMap { case (id, v) => keysOf(v).map(k => (k, id)) }
      .toSeq.groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).sorted.take(bucketCap).toArray }
    val vecs = rows.map { case (id, v) =>
      val arr = v.toArray
      id -> (arr, math.sqrt(Similarity.dotScalar(arr, arr)))
    }.toMap
    BenchIndex(buckets, vecs, planes, tables, dim)
  }

  /** Per-vector contamination flags (vec_id, bench_id, score) for
    * every arriving vector whose best same-bucket bench cosine reaches
    * `threshold` — row-for-row the batch operator's output. The
    * arg-max replicates the batch `max(struct(score, bench_id))`
    * (ties -> larger bench_id) on the UNROUNDED score; the emitted
    * score is HALF_UP-rounded to 6 like the batch `round(col, 6)`.
    */
  def flags(stream: Dataset[VecRecord], idx: BenchIndex,
            threshold: Double): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val keysOf = Similarity.bucketKeysScalar(idx.planes, idx.tables, idx.dim)
    stream.flatMap { r =>
      flagOf(r.embedding, idx, keysOf, threshold).iterator
        .map { case (b, score) => (r.vec_id, b, score) }
    }.toDF("vec_id", "bench_id", "score")
  }

  /** One vector's (bench_id, score) flag, if any — the per-row kernel
    * of [[flags]] (`keysOf` is `Similarity.bucketKeysScalar` over the
    * index's planes, tables and dim), also called on driver-held rows.
    */
  private[graft] def flagOf(v: Seq[Float], idx: BenchIndex,
                            keysOf: Seq[Float] => Seq[String],
                            threshold: Double): Option[(Long, Double)] = {
    val cands = keysOf(v).iterator
      .flatMap(idx.buckets.get(_).iterator.flatten).toArray.distinct
    if (cands.isEmpty) None
    else {
      val vn = math.sqrt(Similarity.dotScalar(v, v))
      var bestS = Double.NegativeInfinity
      var bestB = Long.MinValue
      cands.foreach { b =>
        val (bv, bn) = idx.vecs(b)
        val s = Similarity.dotScalar(v, bv) / (vn * bn)
        if (s > bestS || (s == bestS && b > bestB)) { bestS = s; bestB = b }
      }
      val rounded = BigDecimal(bestS)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (rounded >= threshold) Some((bestB, rounded)) else None
    }
  }
}
