package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run measured, filled in by a workload's cycles. */
final class Rec {
  /** Foreground-operation latencies (shelve, query, micro-batch), ns. */
  val ops: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  /** Wall of each complete workload cycle, ns. */
  val cycles: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  /** Process CPU time over the timed parts of each cycle, ns. */
  val cycleCpu: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  /** Further named samples (merge, sync, delete, ...), seconds. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def sample(name: String, sec: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += sec

  /** Count one operation; a throw counts as a failure and is kept. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
  }

  def fail(why: String): Unit = { failed += 1; failures += why.take(300) }

  /** A correctness check: attempted like an operation, failed when false. */
  def check(name: String, ok: => Boolean): Unit = {
    attempted += 1
    val res = try Trace.untimed(ok) catch { case e: Exception => fail(s"$name threw ${e.getMessage}"); return }
    if (!res) fail(s"check failed: $name")
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A benchmark workload: inputs from a seed, one repeatable cycle. */
trait Workload {
  /** Build inputs and static assets on a fresh session. */
  def prepare(spark: SparkSession): Unit
  /** Untimed passes that let JIT, codegen and caches settle. */
  def warmup(): Unit
  /** One full cycle of the workload, recorded into `rec`. */
  def cycle(rec: Rec): Unit
  /** Correctness checks, run outside the timed region. */
  def verify(rec: Rec): Unit
  /** The workload's own named end-to-end figures. */
  def detail(rec: Rec): Seq[(String, Double, String)]
  /** Per-layer figures from the traced half; `cycles` is the number
    * of traced cycles the totals are divided by.
    */
  def perLayer(jobs: Map[Int, Seq[JobListener.Job]], cycles: Int): Seq[(String, Double, String)]
  /** Forget per-layer tallies kept by the workload (start of the traced half). */
  def resetLayer(): Unit = ()
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      stateDir: String, dataDir: String, size: String)

object Main {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("state"), m.getOrElse("data", ""), m.getOrElse("size", "full"))
  }

  def session(o: Opts): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.default.parallelism", n)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"${o.stateDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.stateDir}/warehouse")
      .config("spark.checkpoint.dir", s"${o.stateDir}/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"${o.stateDir}/checkpoints")
    s
  }

  /** Fixed CPU probe: a box that drifts between start and end shows
    * here. The median of five rounds, so JIT warm-up does not count.
    */
  def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < 16) { md.update(buf); i += 1 }
      md.digest()
      (System.nanoTime() - t0) / 1e6
    })
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole process, all threads (local mode runs the tasks here too). */
  def cpuNs(): Long = os.getProcessCpuTime

  def workload(name: String, o: Opts): Workload = name match {
    case "esvc-native" => new Esvc(o, wasm = false)
    case "esvc-wasm" => new Esvc(o, wasm = true)
    case "query-mix" => new QueryMix(o)
    case "stream-curation" => new StreamCuration(o)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def jsonString(s: String): String = json(s)

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case x => json(x.toString)
  }

  private def metricMap(ms: Seq[(String, Double, String)]): Map[String, Any] =
    scala.collection.immutable.ListMap.from(ms.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) })

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val o = parse(args)
    val calibStart = calibrate()
    val wl = workload(o.workload, o)

    // one cold set-up, as the program pays it: session, then inputs
    val ts = System.nanoTime()
    val spark = session(o)
    wl.prepare(spark)
    val setupSec = (System.nanoTime() - ts) / 1e9
    Trace.attach(spark)
    val tw = System.nanoTime()
    wl.warmup()
    val warmSec = (System.nanoTime() - tw) / 1e9

    // timed region: cycles until their summed wall reaches --seconds.
    // A traced run spends the first half untraced and the second half
    // traced, so it can report its own overhead.
    val rec = new Rec
    val untraced = new Rec
    def runFor(r: Rec, budgetNs: Long): Unit = {
      var spent = 0L
      while (spent < budgetNs) {
        val before = r.cycles.sum
        wl.cycle(r)
        spent += math.max(1L, r.cycles.sum - before)
      }
    }
    val budget = (o.seconds * 1e9).toLong
    var traced: Map[Int, Seq[JobListener.Job]] = Map.empty
    var regionNs = 0L
    if (!o.trace) runFor(rec, budget)
    else {
      runFor(untraced, budget / 2)
      Trace.reset(); wl.resetLayer(); Trace.on = true
      val t0 = System.nanoTime()
      Trace.span("run")(runFor(rec, budget - budget / 2))
      regionNs = System.nanoTime() - t0
      Trace.on = false
      traced = Trace.attribute()
    }
    wl.verify(rec)
    if (o.trace) wl.verify(untraced)
    val calibEnd = calibrate()

    val opsMs = rec.ops.map(_ / 1e6).toSeq
    val e2e = Seq(
      ("setup_s", setupSec + warmSec, "s"),
      ("op_mean_ms", opsMs.sum / opsMs.size, "ms"),
      ("cycle_s", Stats.median(rec.cycles.map(_ / 1e9).toSeq), "s"),
      ("cycle_cpu_s", Stats.median(rec.cycleCpu.map(_ / 1e9).toSeq), "s"))
    val perLayer: Seq[(String, Double, String)] =
      if (!o.trace) Nil
      else {
        val n = rec.cycles.size.toDouble
        // the timed region without the checks and bookkeeping inside it
        val all = traced.iterator.filter { case (id, _) => id < 0 || !Trace.under(id, _.name == Trace.Untimed) }
          .flatMap(_._2).filter(_.startNs >= Trace.spans.head.startNs).toSeq
        val timedNs = regionNs - (Trace.totalSec(Trace.Untimed) * 1e9).toLong
        val overhead = Stats.median(opsMs) / Stats.median(untraced.ops.map(_ / 1e6).toSeq)
        val spanned = Trace.spans.iterator.filter(s => s.parent == 0).map(_.wallNs).sum
        SparkTotals("spark", all, timedNs, n) ++ wl.perLayer(traced, rec.cycles.size) ++ Seq(
          ("trace.overhead_ratio", overhead, "ratio"),
          ("trace.coverage", spanned.toDouble / math.max(1L, Trace.spans.head.wallNs), "ratio"),
          ("trace.spans", Trace.spans.size / n, "count"))
      }
    val r = Runtime.getRuntime
    val box = Map(
      "main_epoch_ms" -> mainEpochMs,
      "nproc" -> r.availableProcessors(),
      "heap_mb" -> r.maxMemory() / 1048576L,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "calib_start_ms" -> calibStart, "calib_end_ms" -> calibEnd,
      "session_s" -> setupSec, "warmup_s" -> warmSec)
    val out = scala.collection.immutable.ListMap(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> (rec.attempted + untraced.attempted),
      "failed" -> (rec.failed + untraced.failed),
      "failures" -> (rec.failures ++ untraced.failures).toSeq.take(20),
      "ops" -> rec.ops.size, "cycles" -> rec.cycles.size,
      "op_ms" -> rec.ops.map(_ / 1e6).toSeq, "cycle_s" -> rec.cycles.map(_ / 1e9).toSeq,
      "cycle_cpu_s" -> rec.cycleCpu.map(_ / 1e9).toSeq,
      "end_to_end" -> metricMap(e2e),
      "detail" -> metricMap(wl.detail(rec)),
      "per_layer" -> metricMap(perLayer),
      "box" -> box)
    if (o.trace) {
      val spanJson = Trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${o.stateDir}/spans.json"), json(spanJson))
    }
    spark.stop()
    println("PERFBENCH " + json(out))
  }
}
