package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a local graft session: every main and the
  * test suites build theirs here, and a caller that needs more (the
  * bench's codegen cache, the plan audit's static plans) chains
  * `.config` on [[builder]].
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set, else the machine's processor count. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with GraftExtensions, one shuffle partition per
    * core, UTC session time, int64 nanosecond parquet timestamps and no
    * UI.
    */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  /** [[builder]]'s session, logging at WARN. */
  def local(cores: Int = defaultCores): SparkSession = {
    val spark = builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `f`'s result and its wall-clock seconds. */
  def timed[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }
}
