package graft

import org.apache.spark.sql.functions._

/** Measures the r12 watch item the sized appends close: a winner-store
  * append that `coalesce(1)`s a genuinely large micro-batch serializes
  * the batch's whole TEXT volume through one writer task, while sketch
  * deltas (tiny by construction) never feel it. The probe builds a
  * winners-shaped frame at `copies` x the sf corpus (entity-grown — c<k>
  * token prefixes, disjoint id offsets, never replicated rows), then
  * times the same parquet append single-file vs sized
  * ([[graft.streaming.StreamingCurationFull]]'s target-bytes file
  * count).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.AppendSizeProbe 100 64"
  */
object AppendSizeProbe {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 100
    val targetMb = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")

    val batch = (0 until copies).map { k =>
      val tag = udf { (t: String) =>
        Option(t).getOrElse("").split(" +").filter(_.nonEmpty)
          .map(w => s"c$k$w").mkString(" ")
      }
      docs0.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        tag(col("text")).as("text"))
    }.reduce(_.unionByName(_)).localCheckpoint()
    val bytes = batch.agg(sum(octet_length(col("text")).cast("long")))
      .collect()(0).getLong(0)
    val target = targetMb.toLong << 20
    // THE production sizing policy, not a re-derivation — if the
    // chain's cap or rounding changes, the probe measures the change
    val files = graft.streaming.StreamingCurationFull.fileCount(bytes, target)

    def timeWrite(n: Int, label: String): Double = {
      val out = java.nio.file.Files.createTempDirectory("append_probe").toString + "/w"
      // warm once at tiny scale happens implicitly via the checkpoint;
      // min-of-2 passes absorbs one-off JIT/alloc noise
      val walls = (1 to 2).map { _ =>
        val p = new org.apache.hadoop.fs.Path(out)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
        GraftSession.timed(batch.coalesce(n).write.mode("overwrite")
          .option("compression", "zstd").parquet(out))._2
      }
      val w = walls.min
      println(f"""{"write":"$label","files":$n,"sec":$w%.3f}""")
      w
    }
    val single = timeWrite(1, "coalesce_1")
    val sized = timeWrite(files, "sized")
    println(f"""{"metric":"append_size_probe","copies":$copies,"rows":${batch.count()},""" +
      f""""text_mb":${bytes / 1048576.0}%.1f,"target_mb":$targetMb,""" +
      f""""single_sec":$single%.3f,"sized_files":$files,"sized_sec":$sized%.3f,""" +
      f""""speedup":${single / sized}%.2f}""")
    spark.stop()
  }
}
