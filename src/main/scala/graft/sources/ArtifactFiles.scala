package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one honest way to read a maybe-empty artifact directory.
  *
  * Every delta-log / index artifact in this library has a legitimate
  * "header-only" state: `ArtifactHeader.validateOrStamp` runs BEFORE
  * the first data write, so a zero-admission first batch leaves a
  * directory containing only `_`-prefixed sidecars — unreadable as
  * parquet (schema inference has nothing to infer from). The early
  * readers blanket-caught `AnalysisException` and returned "empty",
  * which also swallowed GENUINE read failures (a corrupt footer
  * surfacing as an analysis-time schema error, a mis-written
  * artifact): a broken artifact read as quiet/empty in a maintenance
  * poll instead of refusing.
  *
  * [[hasDataFiles]] makes the distinction structural instead of
  * exception-shaped: the empty state is "no top-level data files"
  * (checked against the same visibility rule parquet listing uses —
  * `_` and `.` prefixed entries are invisible), and any failure of an
  * actual read PROPAGATES.
  */
object ArtifactFiles {

  /** True when `path` exists and holds at least one top-level entry a
    * parquet read would see (not `_`/`.`-prefixed). Callers read the
    * path only when this is true, so read failures are real failures.
    * Subdirectory entries count too — a partitioned layout's data
    * lives below visible subdirs — but the underscore registries
    * (`_docs`, `_removals`) and header sidecars never do.
    */
  def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val has = fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    // an ABSENT/empty path with crashed-swap residue next to it is not
    // the header-only bootstrap state — it is an artifact whose history
    // sits at `.old`/`.tmp`. A reader must not mutate (repair belongs
    // to the writers' entry points, under the single-writer pause), so
    // refuse instead of silently reading the lost history as "empty".
    if (!has) SwapRecovery.requireNoCrashEvidence(fs, p)
    has
  }

  /** The row count `spark.read.parquet(path).count()` would return,
    * summed from the visible data files' parquet footers on the driver:
    * O(files) metadata reads (compaction bounds the file count), no
    * job and no row scan. 0 when [[hasDataFiles]] is false.
    */
  def footerRows(spark: SparkSession, path: String): Long =
    if (!hasDataFiles(spark, path)) 0L
    else {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      def visible(s: org.apache.hadoop.fs.FileStatus): Boolean = {
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      def rowsUnder(dir: Path): Long = fs.listStatus(dir).iterator.filter(visible).map { s =>
        if (s.isDirectory) rowsUnder(s.getPath)
        else {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
          try r.getRecordCount finally r.close()
        }
      }.sum
      rowsUnder(p)
    }
}
