package graft
/** Scratch probe: the spread armor's cost shape on a multi-split
  * (production-shaped) input vs the single-row-group testdata file.
  */
object SpreadProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    def run(tag: String, path: String): Unit = {
      val d = spark.read.parquet(path)
      println(s"$tag scan partitions: " + d.rdd.getNumPartitions +
        ", spread partitions: " + graft.operators.Par.spread(d).rdd.getNumPartitions)
      (1 to 3).foreach { i =>
        val (_, sec) = GraftSession.timed(
          graft.operators.Sketches.kmvSetOps(d, "text", "source", k = 256, shingleN = 3)
            .write.format("noop").mode("overwrite").save())
        println(f"$tag pass $i: $sec%.2f s")
      }
      graft.plans.CheckpointHygiene.releaseAll(spark)
    }
    run("MULTI ", "/tmp/sf01_multi/documents.parquet")
    run("SINGLE", "/root/testdata/sf0.1/documents.parquet")
    spark.stop()
  }
}
