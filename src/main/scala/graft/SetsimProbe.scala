package graft
import org.apache.spark.sql.functions._
import graft.operators.SetSimJoin

/** Stage-level timing probe for SetSimJoin.jaccardJoin — finds which
  * stage carries a scale soak's wall time. Times the OPERATOR'S OWN
  * package-private stage builders (tokStage → prefixStage → candStage
  * → setsStage/verifyStage), so the probe cannot drift from the
  * shipped algebra; the only additions are the localCheckpoint fences
  * that make per-stage walls observable. Dev tool; not part of the
  * query surface. Run:
  * SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.SetsimProbe"
  */
object SetsimProbe {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder()
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the q_setsim_join parameters (tau = 19/20)
    val tauNum = 19; val tauDen = 20
    def tms[T](name: String)(f: => T): T = {
      val (r, sec) = GraftSession.timed(f); println(f"STAGE $name%-12s $sec%8.2f s"); r
    }
    val tok = tms("tok") {
      SetSimJoin.tokStage(docs, "text", "doc_id").localCheckpoint()
    }
    println("  tok rows: " + tok.count())
    val pf = tms("pf") {
      SetSimJoin.prefixStage(tok, tauNum, tauDen).localCheckpoint()
    }
    println("  pf rows: " + pf.count())
    val cand = tms("cand") {
      SetSimJoin.candStage(pf, tauNum, tauDen).localCheckpoint()
    }
    println("  cand rows: " + cand.count())
    val sets = tms("sets") {
      SetSimJoin.setsStage(tok).localCheckpoint()
    }
    val out = tms("verify") {
      SetSimJoin.verifyStage(cand, sets, tauNum, tauDen).count()
    }
    println("  result pairs: " + out)
    spark.stop()
  }
}
