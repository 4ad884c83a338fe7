package graft
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Scale probe for the LSH semantic-decontamination path: times
  * `semanticContaminationLsh` at a given planes/tables setting over
  * SPARK_GRAFT_SF_DIR embeddings. Sign-LSH has a FIXED bucket count
  * (2^planes x tables), so with both corpus and bench growing, bucket
  * occupancy grows linearly on both sides and candidate pairs grow
  * ~quadratically until the per-bucket cap saturates — the planes
  * parameter must scale with log(n) exactly like IVF's nlist. This
  * probe demonstrates the contract empirically. Run:
  * SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.DecontamProbe 10 8"
  */
object DecontamProbe {
  def main(args: Array[String]): Unit = {
    val planes = if (args.nonEmpty) args(0).toInt else 6
    val tables = if (args.length > 1) args(1).toInt else 8
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val (n, sec) = GraftSession.timed(Similarity.semanticContaminationLsh(
      emb.filter(col("vec_id") % 50 =!= 3),
      emb.filter(col("vec_id") % 50 === 3), threshold = 0.3, dim = 64,
      planes = planes, tables = tables).count())
    println(s"""{"dir":"$dir","planes":$planes,"tables":$tables,"flagged":$n,"sec":$sec}""")
    spark.stop()
  }
}
