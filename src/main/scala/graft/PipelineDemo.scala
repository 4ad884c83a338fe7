package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.operators.{Curation, Dedup, TextAnalysis}

/** End-to-end training-data materialization job — the "production
  * main" that composes the curation surface into real partitioned
  * output:
  *
  *   read corpus -> lang+quality gate -> exact dedup -> sequence
  *   packing -> write parquet partitioned by shard -> independent
  *   manifest -> re-read the written output and verify the manifest
  *   (doc counts, token totals, order-free XOR checksums) from the
  *   files alone.
  *
  * The verification step is the point: a dataloader (or a later
  * pipeline run) must be able to trust the manifest without re-reading
  * the corpus, so the demo recomputes it from the SINK and compares.
  * Prints `PIPELINE-OK shards=N docs=M` on success.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline_out"
    val shards = 8
    val spark = GraftSession.local()
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // gate + exact dedup (keep-lowest-id winners, with text re-joined
    // from the corpus — the dedup aggregate carries ids only)
    val gated = TextAnalysis.curationGate(docs, "text", "doc_id",
      minMarkers = 3, minWords = 30, maxStopRatio = 0.3)
    val winners = Dedup.exact(gated, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val curated = gated.join(winners, "doc_id")

    // placement map + payload, written partitioned by shard
    val packed = Curation.packSequences(curated, "text", "doc_id", seqLen = 512, shards = shards)
    packed.join(curated, "doc_id")
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_offset"),
        col("first_block"), col("last_block"), col("text"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(outDir)

    // manifest from the CORPUS side (what the writer promises) — the
    // SAME shard salt as the packer so manifest and layout agree
    val manifest = Curation.shardManifest(curated, "text", "doc_id",
        shards = shards, salt = "pack")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5))))
      .toMap
    // ...recomputed from the SINK alone (what a dataloader can check);
    // same XOR checksum algebra over the written rows
    // partition-column type inference reads `shard=` back as INT
    val written = spark.read.parquet(outDir)
      .withColumn("shard", col("shard").cast("long"))
    val checkRows = written
      .select(col("shard"),
        col("n_tokens"),
        conv(substring(md5(concat(lit("cksum|"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        expr("bit_xor(__h)").as("checksum"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    require(checkRows.keySet == manifest.keySet,
      s"shard sets differ: sink ${checkRows.keySet} vs manifest ${manifest.keySet}")
    manifest.foreach { case (shard, m) =>
      require(checkRows(shard) == m,
        s"shard $shard mismatch: manifest $m vs sink ${checkRows(shard)}")
    }
    // blocks must tile each shard's stream exactly
    val tiling = written.groupBy("shard")
      .agg(sum(col("n_tokens")).as("tok"), max(col("last_block")).as("lb"))
      .collect()
    tiling.foreach { r =>
      val maxBlock = (math.max(r.getLong(1) - 1, 0)) / 512
      require(r.getLong(2) == maxBlock,
        s"shard ${r.get(0)}: last_block ${r.getLong(2)} != ${maxBlock}")
    }
    val totalDocs = manifest.values.map(_._1).sum
    println(s"PIPELINE-OK shards=${manifest.size} docs=$totalDocs")
    spark.stop()
  }
}
