package graft

import graft.streaming.StreamingSubstringDedup
import graft.GraftSession.timed
import org.apache.spark.sql.functions._

/** Scale probe for the two gram-index rights-removal strategies:
  * REBUILD (plain distinct-hash index re-derived from the surviving
  * corpus — O(corpus)) vs DECREMENT (counted owner-count delta log,
  * -counts from the deleted docs' own texts — O(deleted docs)). The
  * `copies` arg entity-grows the corpus (disjoint token prefixes per
  * copy, the AppendSizeProbe convention) so the 1× vs N× pair shows which
  * wall grows with the corpus and which stays flat; the probe also
  * proves both strategies land on the SAME live gram set (bidirectional
  * anti-join count 0) before reporting.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.GramForgetProbe 10 64"
  */
object GramForgetProbe {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 10
    val delDocs = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession.local()
    import spark.implicits._

    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val docs =
      (if (copies <= 1) docs0
       else (0 until copies).map { k =>
         val tag = udf { (t: String) =>
           Option(t).getOrElse("").split(" +").filter(_.nonEmpty)
             .map(w => s"c$k$w").mkString(" ")
         }
         docs0.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
           tag(col("text")).as("text"))
       }.reduce(_.unionByName(_))).localCheckpoint()
    val nDocs = docs.count()

    val base = java.nio.file.Files.createTempDirectory("gramforget").toString
    val store = s"$base/store"
    val plain = s"$base/plain"
    val counted = s"$base/counted"
    docs.write.parquet(store)
    val (_, buildPlain) = timed(
      StreamingSubstringDedup.appendToIndex(docs, "text", "doc_id", plain, k = 8))
    val (_, buildCounted) = timed(
      StreamingSubstringDedup.appendToIndexCounted(docs, "text", "doc_id",
        counted, k = 8, stampId = 0L))

    // three DISJOINT removal sets, strides through the id space: set 1
    // drives the strategy comparison; sets 2 and 3 drive the
    // registry-accounting rounds (pre vs post compaction)
    val stride = math.max(1, math.min(100, (nDocs / (delDocs * 3)).toInt))
    val allIds = docs.select("doc_id").orderBy("doc_id")
      .limit(delDocs * 3 * stride).collect().map(_.getLong(0))
      .grouped(stride).map(_.head).take(delDocs * 3).toArray
    require(allIds.length == delDocs * 3,
      s"corpus of $nDocs docs cannot seed 3 disjoint sets of $delDocs removals")
    val Array(ids, ids2, ids3) = allIds.grouped(delDocs).toArray
    val deleted = spark.read.parquet(store)
      .filter(col("doc_id").isin(ids.map(java.lang.Long.valueOf): _*))
      .localCheckpoint()

    // DECREMENT: O(deleted docs' text)
    val (_, decSec) = timed(StreamingSubstringDedup.decrementCounted(
      deleted, "text", "doc_id", counted, stampId = -1L))
    // REBUILD: O(corpus)
    val surviving = spark.read.parquet(store)
      .filter(!col("doc_id").isin(ids.map(java.lang.Long.valueOf): _*))
    val ((_, rebuiltRows), rebSec) = timed(StreamingSubstringDedup.rebuildIndex(
      spark, plain, surviving, "text", "doc_id"))

    // both strategies must land on the same live set
    val live = StreamingSubstringDedup.countedLive(spark, counted)
      .localCheckpoint()
    val rebuilt = spark.read.parquet(plain).select("h").localCheckpoint()
    val onlyCounted = live.join(rebuilt, Seq("h"), "left_anti").count()
    val onlyRebuilt = rebuilt.join(live, Seq("h"), "left_anti").count()
    require(onlyCounted == 0L && onlyRebuilt == 0L,
      s"strategy divergence: $onlyCounted counted-only / $onlyRebuilt rebuilt-only grams")

    println(s"""{"metric":"gram_forget","copies":$copies,"n_docs":$nDocs,""" +
      s""""deleted_docs":$delDocs,"live_grams":$rebuiltRows,""" +
      s""""build_plain_sec":${f"$buildPlain%.2f"},""" +
      s""""build_counted_sec":${f"$buildCounted%.2f"},""" +
      s""""decrement_sec":${f"$decSec%.2f"},""" +
      s""""rebuild_sec":${f"$rebSec%.2f"},"strategies_agree":true}""")

    // REGISTRY ACCOUNTING: the decrement's honest shape is O(registry
    // id-scan) + O(deleted grams) — the registry only NETS inside
    // compactCounted, so the "flat" claim is pinned to its maintenance
    // precondition here: registry/log rows and a same-size removal's
    // wall measured before vs after the fold, at this corpus scale
    def rowsAt(p: String): Long =
      try spark.read.parquet(p).count() catch { case _: Exception => 0L }
    def removalOf(set: Array[Long], stamp: Long): (Long, Double) = {
      val frame = spark.read.parquet(store)
        .filter(col("doc_id").isin(set.map(java.lang.Long.valueOf): _*))
        .localCheckpoint()
      val (n, sec) = timed(StreamingSubstringDedup.decrementCounted(
        frame, "text", "doc_id", counted, stampId = stamp))
      (n, sec)
    }
    val regPre = rowsAt(s"$counted/_docs")
    val logPre = rowsAt(counted)
    val (_, decPreSec) = removalOf(ids2, -2L)
    val ((logB, logA), compactSec) =
      timed(StreamingSubstringDedup.compactCounted(spark, counted))
    val regPost = rowsAt(s"$counted/_docs")
    val (_, decPostSec) = removalOf(ids3, -3L)
    // truth preserved through removal -> compact -> removal: the live
    // set still equals the surviving corpus's own gram derivation
    val allDeleted = (ids ++ ids2 ++ ids3).map(java.lang.Long.valueOf)
    val expected = graft.operators.Curation.gramTable(
        spark.read.parquet(store).filter(!col("doc_id").isin(allDeleted: _*)),
        "text", "doc_id", 8)._2
      .select("h").distinct()
    val liveNow = StreamingSubstringDedup.countedLive(spark, counted)
    val drift = expected.join(liveNow, Seq("h"), "left_anti")
      .unionByName(liveNow.join(expected, Seq("h"), "left_anti")).count()
    require(drift == 0L,
      s"registry accounting VIOLATION: live set drifted by $drift grams " +
        "across removal -> compact -> removal")
    println(s"""{"metric":"gram_forget_registry","copies":$copies,""" +
      s""""registry_rows_pre_compact":$regPre,"log_rows_pre_compact":$logPre,""" +
      s""""decrement_pre_compact_sec":${f"$decPreSec%.2f"},""" +
      s""""compact_sec":${f"$compactSec%.2f"},""" +
      s""""log_rows_fold":[$logB,$logA],""" +
      s""""registry_rows_post_compact":$regPost,""" +
      s""""decrement_post_compact_sec":${f"$decPostSec%.2f"},""" +
      s""""live_set_matches_derivation":true}""")
    spark.stop()
  }
}
