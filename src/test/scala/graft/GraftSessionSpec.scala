package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `GraftSession` is the one place a graft session is defined: no main
  * builds its own, and the suites' shared session carries the
  * canonical settings.
  */
class GraftSessionSpec extends AnyFunSuite with SharedSpark {

  /** The `src/main` files, relative to it, that contain `needle`,
    * leaving out the files named in `allowed`.
    */
  private def sourcesWith(needle: String, allowed: Set[String]): List[String] = {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the project root: $root")
    val stream = java.nio.file.Files.walk(root)
    try stream.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p.getFileName.toString))
      .filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(root.relativize(_).toString).toList.sorted
    finally stream.close()
  }

  test("no source under src/main but GraftSession.scala builds a SparkSession") {
    val builders = sourcesWith("SparkSession.builder", Set("GraftSession.scala"))
    assert(builders.isEmpty, s"hand-built sessions: ${builders.mkString(", ")}")
  }

  test("wall time is read through GraftSession.timed; only the maintenance window splits its own instants") {
    val timers = sourcesWith("System.nanoTime",
      Set("GraftSession.scala", "ArtifactMaintainer.scala"))
    assert(timers.isEmpty, s"hand-rolled timers: ${timers.mkString(", ")}")
  }

  test("the shared session carries the canonical settings") {
    val conf = spark.conf
    assert(spark.sql("SELECT length(blake2b512(encode('x', 'UTF-8')))").head().getInt(0) == 64)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.shuffle.partitions").toInt == spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.master == "local[4]")
  }
}
