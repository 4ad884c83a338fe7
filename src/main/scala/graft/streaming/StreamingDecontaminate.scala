package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Streaming benchmark decontamination: arriving documents are scored
  * against a STATIC benchmark gram set — the streaming face of
  * [[graft.operators.Curation.contamination]].
  *
  * Stateless by design: the benchmark set is small by nature (eval
  * items, not corpus), so its distinct n-grams broadcast once and
  * each document's overlap count is a scalar fold inside a flatMap —
  * no aggregate, no watermark, no state store. A billion-doc stream
  * costs exactly one pass, and the operator emits the same
  * (doc_id, n_overlap, keep) verdicts the batch gate computes: gram
  * derivation reuses the batch tokenization (lower, split " +",
  * space-joined n-grams, distinct), so batch and stream can never
  * drift.
  */
object StreamingDecontaminate {
  final case class DocRecord(doc_id: Long, text: String)

  /** Distinct benchmark n-grams, broadcast — build once from the
    * static test set with the BATCH shingle algebra.
    */
  def benchGrams(spark: SparkSession, testSet: DataFrame, textCol: String,
                 n: Int): Broadcast[Set[String]] = {
    import org.apache.spark.sql.functions._
    val grams = testSet
      .select(explode(graft.operators.Dedup.shingles(col(textCol), n)).as("g"))
      .distinct().collect().map(_.getString(0)).toSet
    spark.sparkContext.broadcast(grams)
  }

  /** Per-document contamination verdicts for a (streaming or batch)
    * dataset of documents: n_overlap = distinct n-grams shared with
    * the benchmark, keep = n_overlap < minOverlap.
    */
  def verdicts(docs: Dataset[DocRecord], grams: Broadcast[Set[String]],
               n: Int, minOverlap: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.map { d =>
      val (overlap, keep) = verdictOf(d.text, grams.value, n, minOverlap)
      (d.doc_id, overlap, keep)
    }.toDF("doc_id", "n_overlap", "keep")
  }

  /** One document's (n_overlap, keep) — the per-row kernel of
    * [[verdicts]], also called on driver-held rows.
    */
  private[graft] def verdictOf(text: String, set: Set[String], n: Int,
                               minOverlap: Int): (Long, Boolean) = {
    val toks = Option(text).getOrElse("")
      .toLowerCase(java.util.Locale.ROOT)
      .split(" +").filter(_.nonEmpty)
    val seen = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    var overlap = 0L
    while (i + n <= toks.length) {
      val g = toks.slice(i, i + n).mkString(" ")
      if (set.contains(g) && seen.add(g)) overlap += 1
      i += 1
    }
    (overlap, overlap < minOverlap)
  }
}
