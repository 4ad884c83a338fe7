package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, InputAdapter,
  LocalLimitExec, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan-hygiene GATE over the full query surface — the scale-audit
  * (.explain) ritual turned into an assertable check. Sweeps every
  * [[SparkEntry.queries]] gate, walks each physical plan (subqueries
  * included), and exits non-zero on the two shapes that do not
  * survive a 100x scale-up:
  *
  *   - `CartesianProduct` — O(|L|x|R|) rows with no key locality;
  *     never acceptable on data-sized inputs, zero tolerance.
  *   - `BroadcastNestedLoopJoin` whose build side is not provably
  *     bounded — every probe row scans the whole broadcast, so an
  *     unbounded build is the same quadratic wall. Sites whose build
  *     is bounded BY CONSTRUCTION (one-row scalar guards, pair
  *     enumeration over a <=strata aggregate) are allowlisted BY NAME
  *     below with the bound written down; anything beyond its
  *     allowance fails the audit.
  *
  * Run: `sbt "runMain graft.PlanAudit"` (full sweep, rc 0 = clean) or
  * `sbt "runMain graft.PlanAudit q_name..."` (formatted plans for the
  * named gates, plus the same gate verdict). The session mirrors
  * Bench's analysis-relevant knobs — GraftExtensions registered (the
  * `q_sql_*` gates parse through graft's parser; without it the stock
  * parser dies at FORGET/MATERIALIZE) — but pins AQE OFF so the
  * audited shape is the static planner's, the conservative one a cold
  * cluster run starts from (AQE only narrows plans at runtime).
  */
object PlanAudit {

  /** BNLJ sites whose build side is bounded by construction, name ->
    * (maxNodes, the documented bound). Keep this list justified: an
    * entry without a real bound is a silenced alarm, not an allowance.
    */
  val bnljAllowlist: Map[String, (Int, String)] = Map(
    // q_kmv_setops enumerates unordered sketch pairs via `l.source <
    // r.source` over an AGGREGATED per-source frame (one row per
    // source stratum, ~tens) and guards with one-row scalar-subquery
    // joins — builds are <= strata rows / exactly 1 row.
    "q_kmv_setops" -> (4, "pair enumeration over per-source aggregate " +
      "(<= strata rows) + one-row scalar guards"),
    // q_kmv_sketch_only builds the same per-source KMV sketches and
    // pairs them the same way (its non-pair BNLJs are the scalar
    // guards the structural rule clears).
    "q_kmv_sketch_only" -> (2, "pair enumeration over per-source " +
      "aggregate (<= strata rows)"),
    // the DELIBERATE brute-force semantic-decontamination baseline:
    // the bench side is a fixed fraction of the corpus (grows with
    // data — correctly not plan-bounded); q_sem_decontam_lsh is the
    // bucketed scale path a deployment runs, this gate pins the
    // baseline algebra the LSH variant is checked against.
    "q_sem_decontaminate" -> (1, "brute-force baseline by design; " +
      "q_sem_decontam_lsh is the scale path")
  )

  /** A BNLJ build side that is PROVABLY bounded from the plan alone:
    * under the broadcast/codegen/project/filter wrappers sits either a
    * grouping-less aggregate (exactly one row — the scalar-guard
    * pattern: corpus doc count for IDF, global min/max for zone maps,
    * a threshold quantile) or an explicit small limit. Anything else —
    * including a plausible-looking small table — counts as unbounded:
    * the audit wants the bound in the PLAN, not in the data.
    */
  def boundedBuild(plan: SparkPlan): Boolean = {
    def strip(p: SparkPlan): SparkPlan = p match {
      case e: BroadcastExchangeExec => strip(e.child)
      case r: ReusedExchangeExec => strip(r.child)
      case w: WholeStageCodegenExec => strip(w.child)
      case i: InputAdapter => strip(i.child)
      case pr: ProjectExec => strip(pr.child)
      case f: FilterExec => strip(f.child)
      case other => other
    }
    strip(plan) match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case l: GlobalLimitExec => l.limit <= 128
      case l: LocalLimitExec => l.limit <= 128
      // a literal in-plan table (a code-level blocklist/config set):
      // its rows are part of the plan itself
      case t: org.apache.spark.sql.execution.LocalTableScanExec =>
        t.rows.size <= 1024
      // a join of two bounded sides is bounded (the chained
      // scalar-guard shape: 1-row agg x 1-row agg)
      case j: BroadcastNestedLoopJoinExec =>
        boundedBuild(j.left) && boundedBuild(j.right)
      case _ => false
    }
  }

  /** Offense lines for one gate's physical plan; empty = clean.
    * Walks subquery plans too (scalar guards live there).
    */
  def offenses(name: String, plan: SparkPlan): Seq[String] = {
    val cart = plan.collectWithSubqueries {
      case c: CartesianProductExec => c }.size
    val bnljs = plan.collectWithSubqueries {
      case b: BroadcastNestedLoopJoinExec => b }
    val unbounded = bnljs.filterNot { b =>
      boundedBuild(b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
      })
    }
    val allowed = bnljAllowlist.get(name).map(_._1).getOrElse(0)
    (if (cart > 0)
      Seq(s"$name: $cart CartesianProduct node(s) — unbounded row product")
    else Nil) ++
    (if (unbounded.size > allowed)
      Seq(s"$name: ${unbounded.size} BroadcastNestedLoopJoin node(s) with " +
        s"unprovable build bound (${bnljs.size} total, allowlisted $allowed) " +
        "— an unbounded build side scans per probe row")
    else Nil)
  }

  def offensesFor(name: String, df: DataFrame): Seq[String] =
    offenses(name, df.queryExecution.executedPlan)

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder()
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // static shape only: with AQE on, AdaptiveSparkPlanExec hides
      // its subtree from collect() until runtime anyway
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val explain = args.nonEmpty
    val names = if (explain) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        if (explain) {
          println(s"\n===== $n =====")
          df.explain("formatted")
        }
        val off = offensesFor(n, df)
        if (off.isEmpty) println(s"plan-audit $n OK")
        else { off.foreach(o => println(s"plan-audit OFFENSE $o")); bad ++= off }
      } catch {
        case e: Exception =>
          val msg = s"$n: failed to plan — ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"
          println(s"plan-audit OFFENSE $msg")
          bad += msg
      }
    }
    val verdict =
      if (bad.isEmpty) s"PLAN-AUDIT-OK gates=${names.size}"
      else s"PLAN-AUDIT-FAIL gates=${names.size} offenses=${bad.size}"
    println(verdict)
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
