package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

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

  /** The parquet listing's visibility rule: `_` and `.` prefixed
    * entries (sidecars, registries, staging) are not data.
    */
  private[sources] def visible(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

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
    val has = fs.exists(p) && fs.listStatus(p).exists(s => visible(s.getPath.getName))
    // an ABSENT/empty path with crashed-swap residue next to it is not
    // the header-only bootstrap state — it is an artifact whose history
    // sits at `.old`/`.tmp`. A reader must not mutate (repair belongs
    // to the writers' entry points, under the single-writer pause), so
    // refuse instead of silently reading the lost history as "empty".
    if (!has) SwapRecovery.requireNoCrashEvidence(fs, p)
    has
  }

  /** Rows and uncompressed column bytes of a parquet table, from its
    * footers.
    */
  final case class FooterSize(rows: Long, bytes: Long)

  /** The row count `spark.read.parquet(path).count()` would return,
    * summed from the visible data files' parquet footers on the driver:
    * O(files) metadata reads (compaction bounds the file count), no
    * job and no row scan. 0 when [[hasDataFiles]] is false.
    */
  def footerRows(spark: SparkSession, path: String): Long = footerSize(spark, path).rows

  /** [[footerRows]] plus the row groups' total uncompressed bytes, from
    * the same footer reads.
    */
  def footerSize(spark: SparkSession, path: String): FooterSize =
    if (!hasDataFiles(spark, path)) FooterSize(0L, 0L)
    else {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      fs.listStatus(p).iterator.filter(s => visible(s.getPath.getName))
        .map(footerOf(fs, conf, _)).foldLeft(FooterSize(0L, 0L))(plus)
    }

  /** Spark stamps each parquet file it writes with the row schema
    * under this footer key — the schema inference would read.
    */
  private val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark stamped in the footer of the first of `data` (a
    * listing's visible entries); None when there is no data file, the
    * layout is partitioned (visible subdirectories) or the footer
    * carries no Spark schema.
    */
  private[sources] def footerSchema(conf: Configuration, data: Seq[FileStatus]): Option[StructType] =
    if (data.isEmpty || data.exists(_.isDirectory)) None
    else footer(conf, data.head)(r => Option(r.getFooter.getFileMetaData.getKeyValueMetaData
      .get(SchemaKey)).map(DataType.fromJson(_).asInstanceOf[StructType]))

  /** `spark.read.parquet(path)` under the schema stamped in its footer,
    * so the read runs no schema-inference job; it falls back to
    * inference where [[footerSchema]] has no answer.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val data = if (fs.exists(p)) fs.listStatus(p).toSeq.filter(s => visible(s.getPath.getName)) else Nil
    footerSchema(conf, data).fold(spark.read)(spark.read.schema).parquet(path)
  }

  /** False when the footers of `path`'s data files prove that no row
    * holds `value` in the INT64 column `column`: every row group's
    * min/max statistics exclude it, or its values are all null. True
    * whenever that cannot be proved (no statistics, a partitioned
    * layout), so a caller skips its scan only on proof. Per-file
    * statistics in the sense of Jigsaw (SIGMOD'21), read on the driver
    * with no job; a missing or data-less path holds nothing.
    */
  def mayHold(spark: SparkSession, path: String, column: String, value: Long): Boolean =
    hasDataFiles(spark, path) && {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      val data = fs.listStatus(p).toSeq.filter(s => visible(s.getPath.getName))
      data.exists(_.isDirectory) || data.exists(footer(conf, _)(_.getRowGroups.asScala.exists { rg =>
        rg.getRowCount > 0 && rg.getColumns.asScala.find(_.getPath.toDotString == column)
          .map(_.getStatistics).forall { st =>
            if (st == null || st.isEmpty) true
            else st.hasNonNullValue &&
              st.genericGetMin.asInstanceOf[java.lang.Long] <= value &&
              st.genericGetMax.asInstanceOf[java.lang.Long] >= value
          }
      }))
    }

  /** Append `df` to the parquet table at `path` and return the rows
    * the append wrote, summed from the footers of the files it added —
    * the number a `count()` job over `df` would give, without that job.
    * Single-writer, like every artifact append: a concurrent append's
    * files would be counted too.
    */
  def appendRows(df: DataFrame, path: String): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def files: Seq[FileStatus] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(s => s.isFile && visible(s.getPath.getName))
    val before = files.map(_.getPath.getName).toSet
    df.write.mode("append").option("compression", "zstd").parquet(path)
    files.filterNot(s => before(s.getPath.getName)).map(footerOf(fs, conf, _).rows).sum
  }

  /** [[FooterSize]] of one visible listing entry: a data file's
    * footer, or the sum over a visible subdirectory's entries.
    */
  private[sources] def footerOf(fs: FileSystem, conf: Configuration, s: FileStatus): FooterSize =
    if (s.isDirectory)
      fs.listStatus(s.getPath).iterator.filter(c => visible(c.getPath.getName))
        .map(footerOf(fs, conf, _)).foldLeft(FooterSize(0L, 0L))(plus)
    else footer(conf, s)(r =>
      FooterSize(r.getRecordCount, r.getRowGroups.iterator.asScala.map(_.getTotalByteSize).sum))

  /** `f` over the open footer reader of the data file `s`. */
  private def footer[T](conf: Configuration, s: FileStatus)(f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, conf))
    try f(r) finally r.close()
  }

  private def plus(a: FooterSize, b: FooterSize): FooterSize =
    FooterSize(a.rows + b.rows, a.bytes + b.bytes)
}
