package graft
import org.apache.spark.sql.functions._

/** Soak probe for the connected-components round bound: builds the
  * near-dup pair graph over `documents` at SPARK_GRAFT_SF_DIR (the
  * exact q_dup_clusters algebra) and reports how many star-contraction
  * outer rounds the CC fixpoint ran. Star contraction is O(log n)
  * rounds (Kiveris et al.), and each round is a full shuffle of the
  * shrinking pair table — so the round count is the driver-side term
  * that must stay flat-ish as the corpus scales 100×. Run:
  * SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.CcRounds"
  */
object CcRounds {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ((pairs, nPairs), pairsSec) = GraftSession.timed {
      val p = graft.operators.Dedup.nearDupPairs(
          docs, "text", "doc_id", shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
        .select(col("doc_a"), col("doc_b")).localCheckpoint()
      (p, p.count())
    }
    val ((rounds, nNodes, nComps), ccSec) = GraftSession.timed {
      val (labels, rounds) = graft.plans.GraphOps.connectedComponentsWithRounds(pairs)
      (rounds, labels.count(), labels.select("comp").distinct().count())
    }
    println(s"""{"dir":"$dir","pairs":$nPairs,"nodes":$nNodes,"components":$nComps,"cc_rounds":$rounds,"pairs_sec":$pairsSec,"cc_sec":$ccSec}""")
    spark.stop()
  }
}
