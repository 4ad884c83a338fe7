package graft.plans

import graft.core.{BaseTask, Engine, IndepCase, WorkCache}
import org.apache.spark.sql.SparkSession
import scala.reflect.ClassTag

/** Spark fan-out for the shelve commutation tests — the parallel half
  * of the reference's dependency-inference algorithm
  * (/root/reference/crates/esvc-core/src/workcache.rs:213-307): per
  * round, every concurrent frontier event is tested independently (two
  * pure engine calls + equality), so a frontier of N events becomes an
  * N-way map over executors. The orchestration around it (dependency
  * minimization, lost-dep audit) stays sequential on the driver by
  * design — each shelve mutates the graph.
  *
  * Classification delegates to [[WorkCache.isIndependent]], so the
  * parallel path is equal-by-construction to the sequential one (and
  * property-tested in ShelveSparkSpec).
  */
object ShelveSpark {
  /** Upper bound on the slices one fan-out job is split into. */
  private val MaxSlices = 64

  def tester[A: ClassTag, D: ClassTag](spark: SparkSession, engine: Engine[A, D],
                                       minBatch: Int = 2)
  : (Int, A, D, Seq[IndepCase[A, D]]) => Map[String, Boolean] = {
    (cmd: Int, arg: A, curSt: D, cases: Seq[IndepCase[A, D]]) =>
      if (cases.length < minBatch) {
        cases.iterator.map(c => c.concEvid -> WorkCache.isIndependent(engine, cmd, arg, curSt, c)).toMap
      } else {
        val slices = math.min(cases.length, MaxSlices)
        spark.sparkContext.parallelize(cases.toIndexedSeq, slices)
          .map(c => c.concEvid -> WorkCache.isIndependent(engine, cmd, arg, curSt, c))
          .collect().toMap
      }
  }

  /** FUSED fan-out: per conc event, fold the base state AND run the
    * commutation test inside one task — one Spark job per round, the
    * folded states never ship back to the driver, and the round's
    * order + prefix states broadcast ONCE instead of riding every
    * entry (per-entry shipping was the dominant remaining round cost
    * at the 480-branch soak). Delegates to [[WorkCache.roundVerdict]],
    * the same kernel the sequential fallback runs — equal by
    * construction.
    */
  def fusedTester[A: ClassTag, D: ClassTag](spark: SparkSession, engine: Engine[A, D],
                                            minBatch: Int = 2)
  : graft.core.ShelveRound[A, D] => Map[String, Boolean] = {
    (round: graft.core.ShelveRound[A, D]) =>
      if (round.entries.length < minBatch) {
        round.entries.iterator.map { case (evid, p) =>
          evid -> WorkCache.roundVerdict(engine, round, evid, p)
        }.toMap
      } else {
        val slices = math.min(round.entries.length, MaxSlices)
        // broadcast the shared round context once; entries are
        // (evid, position) pairs, bytes each
        val shared = spark.sparkContext.broadcast(round.copy(entries = Vector.empty))
        try {
          spark.sparkContext.parallelize(round.entries, slices)
            .map { case (evid, p) =>
              evid -> WorkCache.roundVerdict(engine, shared.value, evid, p)
            }
            .collect().toMap
        } finally shared.unpersist(blocking = false)
      }
  }

  /** Spark fan-out for the commutation-test BASE replays — the other
    * parallel half of a shelve round (round-11): each [[BaseTask]] is
    * a pure suffix fold off a shared prefix state, so a frontier of N
    * events becomes N independent folds over executors. Delegates to
    * [[WorkCache.replayTask]], the same kernel the sequential fallback
    * runs — equal by construction.
    */
  def baseBuilder[A: ClassTag, D: ClassTag](spark: SparkSession, engine: Engine[A, D],
                                            minBatch: Int = 2)
  : Seq[BaseTask[A, D]] => Map[String, D] = {
    (tasks: Seq[BaseTask[A, D]]) =>
      if (tasks.length < minBatch) {
        tasks.iterator.map(t => t.concEvid -> WorkCache.replayTask(engine, t)).toMap
      } else {
        val slices = math.min(tasks.length, MaxSlices)
        spark.sparkContext.parallelize(tasks.toIndexedSeq, slices)
          .map(t => t.concEvid -> WorkCache.replayTask(engine, t))
          .collect().toMap
      }
  }
}
