package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.Random

/** Closed loop, one client: every pass runs the 19 queries once, in a
  * seeded order, over the generated tables. Results are checked against
  * their DuckDB oracles after the run (see run.py).
  */
final class QueryMix(o: Opts) extends Workload {
  import QueryMix.Names
  private var spark: SparkSession = _
  private var pass = 0

  def prepare(s: SparkSession): Unit = {
    spark = s
    // touch every input once so file listing and footer reads are not
    // charged to the first timed pass
    Seq("documents", "embeddings", "events", "lineitem", "orders", "customer", "supplier", "nation")
      .foreach(t => spark.read.parquet(s"${o.dataDir}/$t.parquet").count())
  }

  private def runQuery(q: String): Unit = Trace.span(s"q.$q") {
    val df = Trace.span("operators.build")(SparkEntry.queries(q)(spark, o.dataDir))
    Trace.span("operators.plan")(df.queryExecution.executedPlan)
    Trace.span("operators.exec")(df.write.format("noop").mode("overwrite").save())
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }

  private val results = s"${o.stateDir}/results"
  private val dumpFailures = mutable.ArrayBuffer.empty[String]

  /** The warm-up pass writes every result; run.py checks them against
    * their DuckDB oracles once the JVM has exited.
    */
  def warmup(): Unit = {
    Names.foreach { q =>
      try SparkEntry.queries(q)(spark, o.dataDir).coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
      catch { case e: Exception => dumpFailures += s"$q: ${e.getMessage}" }
      graft.plans.CheckpointHygiene.releaseAll(spark)
    }
    val sql = Names.map(q => q -> SparkEntry.oracleSql(q)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$results/oracle_sql.json"),
      sql.map { case (k, v) => Main.jsonString(k) + ":" + Main.jsonString(v) }.mkString("{", ",", "}"))
  }

  def cycle(rec: Rec): Unit = {
    pass += 1
    val order = new Random(o.seed * 7919 + pass).shuffle(Names)
    val t0 = System.nanoTime()
    val cpu0 = Main.cpuNs()
    order.foreach { q =>
      val q0 = System.nanoTime()
      rec.op(runQuery(q))
      rec.ops += System.nanoTime() - q0
    }
    rec.cycles += System.nanoTime() - t0
    rec.cycleCpu += Main.cpuNs() - cpu0
  }

  def verify(rec: Rec): Unit = dumpFailures.foreach(rec.fail)

  def detail(rec: Rec): Seq[(String, Double, String)] = Seq(
    ("mix_total_s", Stats.median(rec.cycles.map(_ / 1e9).toSeq), "s"),
    ("query_p50_ms", Stats.median(rec.ops.map(_ / 1e6).toSeq), "ms"),
    ("passes", rec.cycles.size.toDouble, "count"),
    ("error_rate", rec.failed.toDouble / math.max(1L, rec.attempted), "ratio"))

  def perLayer(jobs: Map[Int, Seq[JobListener.Job]], cycles: Int): Seq[(String, Double, String)] = {
    val n = cycles.toDouble
    val byQuery = Names.map { q =>
      val spans = Trace.named(s"q.$q").filter(_.name == s"q.$q")
      val js = jobs.iterator.filter { case (id, _) => id >= 0 && Trace.under(id, _.name == s"q.$q") }.map(_._2.size).sum
      (q, if (spans.isEmpty) 0.0 else Stats.median(spans.map(_.wallNs / 1e9)), if (spans.isEmpty) 0.0 else js.toDouble / spans.size)
    }
    byQuery.flatMap { case (q, s, j) => Seq((s"q.$q.s", s, "s"), (s"q.$q.jobs", j, "count")) } ++ Seq(
      ("operators.build_s", Trace.totalSec("operators.build") / n, "s"),
      ("operators.plan_s", Trace.totalSec("operators.plan") / n, "s"),
      ("operators.exec_s", Trace.totalSec("operators.exec") / n, "s"))
  }
}

object QueryMix {
  /** The judged ten, then the event-graph and replay queries. */
  val Names: Seq[String] = Seq(
    "q_setsim_join", "q_canonical_pick", "q_curation_full2", "q_bloom_join_prune", "q_kmv_setops",
    "q_boilerplate", "q_interval_overlap", "q_pagerank_mass", "q_dup_clusters", "q_triangles",
    "q_linearize", "q_sql_linearize", "q_closure", "q_toposort", "q_frontier",
    "q_replay_incremental", "q_replay_affine", "q_dedup_insert", "q_sessionize")
}
