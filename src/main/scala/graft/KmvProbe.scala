package graft
import graft.operators.Sketches

/** Scale probe for the KMV artifact path: builds the k-row sketch
  * ONCE from SPARK_GRAFT_SF_DIR documents and persists it as parquet
  * (the nightly-job artifact), then times [[Sketches.kmvSetOps]] (the
  * audited form — re-scans the corpus for the exact columns) against
  * [[Sketches.kmvSetOpsFromSketches]] over the persisted artifact
  * alone. The r9 VERDICT's `weak` was exactly that the estimator
  * could not be reached without the corpus-scale audit; this probe
  * measures what the split buys at soak scale. Run:
  * SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.KmvProbe"
  */
object KmvProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder()
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_KMV_OUT", "/tmp/kmv_artifact")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def tms[T](name: String)(f: => T): T = {
      val (r, sec) = GraftSession.timed(f); println(f"STAGE $name%-16s $sec%8.2f s"); r
    }
    // nightly job: build + persist the artifact (one corpus scan)
    tms("sketch_build") {
      Sketches.kmvSketch(docs, "text", "source", k = 256, shingleN = 3)
        .write.mode("overwrite").parquet(out)
    }
    println("  artifact rows: " + spark.read.parquet(out).count())
    // steady state: answer cross-corpus set ops from the artifact alone
    val est = tms("est_from_artifact") {
      Sketches.kmvSetOpsFromSketches(spark.read.parquet(out), k = 256).collect()
    }
    println("  pairs: " + est.length)
    // the audited form: corpus re-scanned for the exact columns
    val audited = tms("audited_full") {
      Sketches.kmvSetOps(docs, "text", "source", k = 256, shingleN = 3).collect()
    }
    println("  pairs: " + audited.length)
    spark.stop()
  }
}
