package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names to restrict the
    // dump (dev iteration); the oracle json is filtered in lockstep so
    // check_oracle.py sees a consistent subset
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val declared = SparkEntry.queries.filter(kv => keep(kv._1))
    declared.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors += name -> msg
        // still materialize a sentinel so a failing query shows up RED in
        // the driver's compare instead of silently vanishing from the
        // round's correctness denominator
        import spark.implicits._
        try Seq((name, msg.take(500))).toDF("verify_error_query", "verify_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case _: Throwable => () }
      }
      graft.plans.CheckpointHygiene.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    println(s"[verify] declared=${declared.size} dumped=${declared.size - errors.size} failed=${errors.size}")
    if (errors.nonEmpty)
      println(s"[verify] failing: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
