package graft.perfbench

import graft.core.Engine
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-memory tracing for the benchmark's own call sites.
  *
  * Spans are opened by the benchmark around its calls into the
  * program's public functions (the program itself is not
  * instrumented). All spans live on the driver's main thread, so they
  * nest: at any instant the open spans form one chain. A
  * [[JobListener]] records every Spark job with its tasks; after the
  * traced region each job is charged to the innermost span open when
  * it was submitted. With tracing off, [[span]] only runs its body.
  */
object Trace {
  final class Span(val id: Int, val parent: Int, val name: String,
                   val startNs: Long) {
    var endNs: Long = -1L
    def wallNs: Long = endNs - startNs
  }

  /** Property carried by every job the main thread submits inside a span. */
  val SpanProp = "graft.perfbench.span"

  @volatile var on: Boolean = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var open: List[Span] = Nil
  private var spark: SparkSession = _

  def attach(s: SparkSession): Unit = { spark = s; s.sparkContext.addSparkListener(JobListener) }

  def reset(): Unit = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    spans.clear(); open = Nil; JobListener.clear(); Counters.reset()
  }

  /** Name of the spans around checks and bookkeeping inside a cycle;
    * their jobs and wall are left out of the `spark.*` totals.
    */
  val Untimed = "untimed"
  def untimed[T](body: => T): T = span(Untimed)(body)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.length, open.headOption.fold(-1)(_.id), name, System.nanoTime())
      spans += s
      open = s :: open
      spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        spark.sparkContext.setLocalProperty(SpanProp, open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Jobs charged to each span: the submitting span when the job came
    * from the main thread while that span was open, else the innermost
    * span open at submission (jobs of the streaming thread).
    */
  def attribute(): Map[Int, Seq[JobListener.Job]] = {
    org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
    val closed = spans.filter(_.endNs >= 0).toVector
    def innermostAt(ns: Long): Int = {
      var best = -1; var bestStart = Long.MinValue
      closed.foreach { s =>
        if (s.startNs <= ns && ns <= s.endNs && s.startNs >= bestStart) { best = s.id; bestStart = s.startNs }
      }
      best
    }
    JobListener.jobs.values.toVector.groupBy { j =>
      j.span.filter { id =>
        id < spans.length && spans(id).startNs <= j.startNs + 2000000L &&
          (spans(id).endNs < 0 || j.startNs <= spans(id).endNs + 2000000L)
      }.getOrElse(innermostAt(j.startNs))
    }
  }

  /** True when span `id` or one of its ancestors satisfies `p`. */
  def under(id: Int, p: Span => Boolean): Boolean = {
    var i = id
    while (i >= 0) { if (p(spans(i))) return true; i = spans(i).parent }
    false
  }

  def named(prefix: String): Seq[Span] = spans.filter(s => s.endNs >= 0 && s.name.startsWith(prefix)).toSeq

  def totalSec(prefix: String): Double = named(prefix).map(_.wallNs).sum / 1e9

  /** Wall minus the part covered by direct child spans. */
  def selfNs(s: Span): Long =
    s.wallNs - spans.iterator.filter(c => c.parent == s.id && c.endNs >= 0).map(_.wallNs).sum
}

/** Records jobs and their tasks' cost. Job times are mapped onto the
  * driver's `nanoTime` axis so they compare with span bounds.
  */
object JobListener extends SparkListener {
  final class Job(val id: Int, val span: Option[Int], val startNs: Long) {
    var endNs: Long = -1L
    var tasks = 0L
    var taskBusyMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  // offset between the wall clock Spark stamps events with and nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  val jobs: mutable.LinkedHashMap[Int, Job] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.HashMap.empty[Int, Job]

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toInt)
    val j = new Job(e.jobId, span, toNs(e.time))
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endNs = toNs(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.taskBusyMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Counters bumped from the benchmark's delegates; executor tasks run
  * in the driver JVM (local mode), so they share these.
  */
object Counters {
  val engineCallsDriver = new AtomicLong
  val engineCallsExec = new AtomicLong
  val engineBusyNs = new AtomicLong
  val shelveRounds = new AtomicLong
  val shelveTests = new AtomicLong

  def reset(): Unit = Seq(engineCallsDriver, engineCallsExec, engineBusyNs,
    shelveRounds, shelveTests).foreach(_.set(0L))
}

/** Counting delegate around the engine under test. */
final class CountingEngine[A, D](inner: Engine[A, D]) extends Engine[A, D] {
  override def runEvent(cmd: Int, arg: A, dat: D): D = {
    val t0 = System.nanoTime()
    try inner.runEvent(cmd, arg, dat)
    finally {
      Counters.engineBusyNs.addAndGet(System.nanoTime() - t0)
      (if (TaskContext.get() != null) Counters.engineCallsExec else Counters.engineCallsDriver).incrementAndGet()
    }
  }
  override def encodeArg(arg: A): Array[Byte] = inner.encodeArg(arg)
  override def decodeArg(bytes: Array[Byte]): A = inner.decodeArg(bytes)
}

/** Spark totals over a set of jobs, plus the driver-only time of a
  * region: its wall minus the union of its jobs' intervals.
  */
object SparkTotals {
  def apply(prefix: String, jobs: Seq[JobListener.Job], regionNs: Long, per: Double): Seq[(String, Double, String)] = {
    val done = jobs.filter(_.endNs >= 0).sortBy(_.startNs)
    var covered = 0L; var curS = 0L; var curE = Long.MinValue
    done.foreach { j =>
      if (j.startNs > curE) { if (curE > Long.MinValue) covered += curE - curS; curS = j.startNs; curE = j.endNs }
      else curE = math.max(curE, j.endNs)
    }
    if (curE > Long.MinValue) covered += curE - curS
    Seq(
      (s"$prefix.jobs", jobs.size / per, "count"),
      (s"$prefix.tasks", jobs.map(_.tasks).sum / per, "count"),
      (s"$prefix.job_wall_s", done.map(j => j.endNs - j.startNs).sum / 1e9 / per, "s"),
      (s"$prefix.driver_only_s", math.max(0L, regionNs - covered) / 1e9 / per, "s"),
      (s"$prefix.task_busy_s", jobs.map(_.taskBusyMs).sum / 1e3 / per, "s"),
      (s"$prefix.shuffle_write_mb", jobs.map(_.shuffleWriteBytes).sum / 1048576.0 / per, "MB"),
      (s"$prefix.spill_mb", jobs.map(_.spillBytes).sum / 1048576.0 / per, "MB"),
      (s"$prefix.gc_s", jobs.map(_.gcMs).sum / 1e3 / per, "s"))
  }
}
