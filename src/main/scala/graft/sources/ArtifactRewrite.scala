package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The verified rewrite the artifact lifecycle shares: the tombstone
  * folds ([[graft.operators.Similarity.tombstoneFoldRows]]), the
  * counted gram-log fold
  * ([[graft.streaming.StreamingSubstringDedup.compactCounted]]), the
  * plain gram rebuild and file compaction
  * ([[ArtifactCompaction.compactFiles]]). Each is one pass of:
  *
  *  1. [[open]]: repair a crashed prior swap ([[SwapRecovery]]), then
  *     list the live directory once. The rows before and the schema
  *     come from the data files' parquet footers — the same evidence a
  *     `count()` job or a schema-inference job reads, with no job.
  *  2. [[rewrite]]: write each [[Part]] below `<path>.<tag>.tmp`, check
  *     that the rows the written footers hold equal the part's expected
  *     count, carry the `_` sidecars and `_` subdirectories the rewrite
  *     did not write itself ([[carry]]), let the caller stamp headers
  *     into the rewrite, then [[swap]] it in under the caller's tag.
  *
  * A short write refuses before the swap and deletes the tmp, so the
  * live directory is left exactly as it was. The expected count of a
  * part is the caller's own, computed independently of the write (a
  * footer sum of the input, a matched-row scan, a count of the
  * computed frame); the written count always comes from the written
  * footers. Tags are [[SwapRecovery.tags]], so a crash between the
  * swap's renames is repaired by the next writer entry.
  */
object ArtifactRewrite {

  /** An artifact's live directory, listed once. `rows` and `schema`
    * come from the data files' footers; `schema` is None when the
    * layout is partitioned (visible subdirectories) or the footer
    * carries no Spark schema, and [[read]] then infers it.
    */
  final class Live private[ArtifactRewrite] (val spark: SparkSession, val path: Path,
                                              val fs: FileSystem, val conf: Configuration,
                                              entries: Seq[FileStatus]) {
    val data: Seq[FileStatus] = entries.filter(s => ArtifactFiles.visible(s.getPath.getName))
    def hasData: Boolean = data.nonEmpty

    lazy val rows: Long = data.map(ArtifactFiles.footerOf(fs, conf, _).rows).sum

    lazy val schema: Option[StructType] = ArtifactFiles.footerSchema(conf, data)

    /** The artifact's rows, under the footer schema when there is one. */
    def read(): DataFrame = schema.fold(spark.read)(spark.read.schema).parquet(path.toString)
  }

  /** The writer entry of every rewrite: crash repair, then one listing. */
  def open(spark: SparkSession, path: String): Live = {
    SwapRecovery.repair(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"no artifact at $path")
    new Live(spark, p, fs, conf, fs.listStatus(p).toSeq)
  }

  /** One table of a rewrite: `frame` written at `sub` below it (""
    * for the artifact's own rows, e.g. "_docs" for a registry
    * subdirectory), which must come out at `expected` rows.
    */
  final case class Part(sub: String, frame: DataFrame, expected: Long)

  /** How a rewrite writes one part. Specs swap in a short writer
    * through `withValue` to prove that a short rewrite refuses.
    */
  private[graft] val writer = new scala.util.DynamicVariable[(DataFrame, String) => Unit](
    (df, dir) => df.write.mode("overwrite").option("compression", "zstd").parquet(dir))

  /** Rewrite `live` as `parts` under `tag` (the artifact's own rows
    * first: its overwrite would drop a subdirectory written before
    * it), verify every part from its footers, carry the sidecars, run
    * `onTmp` on the complete rewrite (header stamps that must install
    * with the rows), and swap. `what` names the verb in refusals.
    */
  def rewrite(live: Live, tag: String, what: String, parts: Seq[Part])(
      onTmp: String => Unit = _ => ()): Unit = {
    val (fs, p) = (live.fs, live.path)
    val tmp = new Path(p.getParent, s"${p.getName}.$tag.tmp")
    val old = new Path(p.getParent, s"${p.getName}.$tag.old")
    fs.delete(tmp, true); fs.delete(old, true)
    parts.foreach { part =>
      val dir = if (part.sub.isEmpty) tmp else new Path(tmp, part.sub)
      writer.value(part.frame, dir.toString)
      val written = ArtifactFiles.footerRows(live.spark, dir.toString)
      if (written != part.expected) {
        fs.delete(tmp, true)
        sys.error(s"$what: rewrite of $p${if (part.sub.isEmpty) "" else "/" + part.sub} " +
          s"has $written rows, expected ${part.expected}; artifact left untouched")
      }
    }
    carry(fs, p, tmp, live.conf)
    onTmp(tmp.toString)
    swap(fs, p, tmp, old, what)
  }

  /** Copy `from`'s `_` sidecars and `_` subdirectories (registries,
    * header stamps) that `to` does not already hold — the rewrite's
    * own fresh ones win. Never the writer's `_SUCCESS` or a crashed
    * write's `_temporary` staging directory: carrying those would
    * embed dead bytes in every later generation.
    */
  private[graft] def carry(fs: FileSystem, from: Path, to: Path, conf: Configuration): Unit =
    fs.listStatus(from).filter { s =>
      val n = s.getPath.getName
      n.startsWith("_") && n != "_SUCCESS" && !n.startsWith("_temporary") &&
        !fs.exists(new Path(to, n))
    }.foreach { s =>
      FileUtil.copy(fs, s.getPath, fs, new Path(to, s.getPath.getName), false, conf)
    }

  /** The two-rename swap with rollback: move the live artifact aside,
    * move the verified rewrite in, delete the old copy. On swap-in
    * failure the original is restored and the tmp deleted; after a
    * DOUBLE failure everything is kept for manual recovery. A process
    * crash between the renames is [[SwapRecovery]]'s to repair.
    */
  private[graft] def swap(fs: FileSystem, p: Path, tmp: Path, old: Path, what: String): Unit = {
    if (!fs.rename(p, old)) {
      fs.delete(tmp, true)
      sys.error(s"$what: could not move $p aside; artifact untouched")
    }
    if (!fs.rename(tmp, p)) {
      val rolledBack = fs.rename(old, p)
      if (rolledBack) fs.delete(tmp, true)
      sys.error(s"$what: swap-in failed for $p; " +
        (if (rolledBack) "original rolled back, artifact untouched"
         else s"ROLLBACK ALSO FAILED — artifact preserved at $old"))
    }
    fs.delete(old, true)
  }
}
