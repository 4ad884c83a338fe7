package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** FILE-level compaction for the append-only row artifacts the
  * streaming maintainers grow (LSH band index, gram index, winner
  * store, IVF-PQ code table): same rows, fewer files. Appends write
  * one file per micro-batch by design (see
  * [[graft.streaming.StreamingNearDup.appendToIndex]]) — after 10k
  * batches that is 10k files, and every reader pays the listing (the
  * object-store small-files tax). Compaction is the other half of
  * that contract: a periodic maintenance job rewrites the directory
  * to `targetFiles` files and atomically swaps it in. No row changes,
  * no answer changes — the companion of [[DeltaLogCompaction]], which
  * compacts by MERGE ALGEBRA (one row per key) where this one
  * compacts by LAYOUT.
  *
  * `_`-prefixed sidecars (e.g. the IVF-PQ artifact's
  * `_graft_ivfpq_header`) are carried into the rewritten directory,
  * so self-describing artifacts stay self-describing across
  * compactions.
  *
  * All filesystem traffic goes through the path's own Hadoop
  * FileSystem — rename is atomic on HDFS/local; on stores where it
  * is a copy, the single-writer contract every table-maintenance
  * OPTIMIZE has applies (pause the appender, same as
  * [[DeltaLogCompaction]]).
  *
  * READERS must be paused too: the swap is two renames (path ->
  * .compact.old, .compact.tmp -> path), so a concurrent probe or
  * estimate that lists the artifact in the window between them sees
  * the path MISSING — not stale data, a hard read failure. Schedule
  * compaction from the same loop that owns all access to the artifact
  * ([[ArtifactMaintainer]]'s `maintain` window, after `query.stop()`,
  * which perfbench's stream-curation workload drives), exactly like
  * any table-maintenance OPTIMIZE window.
  */
object ArtifactCompaction {

  /** Data-file count of the parquet directory at `path` — one
    * metadata LISTing, no data read: the cheap signal a maintenance
    * policy polls to decide whether a compaction window is due
    * (appends grow the artifact one-or-more files per batch, so file
    * count IS the accumulated small-file tax).
    */
  def dataFileCount(spark: SparkSession, path: String): Long =
    smallDataFileCount(spark, path, Long.MaxValue)

  /** Data files at `path` SMALLER than `maxBytes` — the compaction
    * debt a maintenance policy actually budgets. Right-sized appends
    * (the ~64 MB [[graft.streaming.StreamingCurationFull]] payload
    * files) are healthy layout, not debt: counting ALL files would
    * make a byte-sized trigger fire on every sized append at scale
    * and turn the O(artifact) rewrite into a per-batch cost. Small
    * files are the listing/row-group tax compaction exists to fold.
    */
  def smallDataFileCount(spark: SparkSession, path: String,
                         maxBytes: Long): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".") && s.getLen < maxBytes
    }.toLong
  }

  /** Compaction target that keeps ~`targetBytes` of on-disk payload
    * per file (the sized-append algebra of
    * `StreamingCurationFull.fileCount`, applied to the whole
    * artifact): one LISTing over the data files, clamped to
    * [1, 4096]. A fixed target of 1 is only right while an artifact
    * is small — at scale it would funnel the rewrite through a single
    * writer and emit one unsplittable file.
    */
  def autoTargetFiles(spark: SparkSession, path: String,
                      targetBytes: Long = 64L << 20): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val total =
      if (!fs.exists(p)) 0L
      else fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getLen).sum
    graft.streaming.StreamingCurationFull.fileCount(total, targetBytes)
  }

  /** Rewrite the parquet directory at `path` to `targetFiles` data
    * files on the [[ArtifactRewrite]] core: the rows before come from
    * the live footers, the rewrite must hold as many in its own
    * footers BEFORE the swap (a short rewrite leaves the artifact
    * untouched), and `_` sidecars and subdirectories (the counted gram
    * index's `_docs` registry) ride into the rewrite. Returns
    * (dataFilesBefore, dataFilesAfter).
    *
    * `clusterBy`: optional layout key — the rewrite range-partitions
    * and sorts on it, so readers that push key predicates (the
    * winner-store candidate-id fetch in `Dedup.verifyAgainst`) prune
    * whole files and row groups via parquet min/max stats. Appends
    * already sort within their batch; compaction is where CROSS-batch
    * clustering is (re)established — without this, compacting a
    * clustered store would shuffle its ids randomly and undo the
    * probe-path pruning.
    */
  def compactFiles(spark: SparkSession, path: String, targetFiles: Int = 1,
                   clusterBy: Seq[String] = Nil): (Long, Long) = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    val live = ArtifactRewrite.open(spark, path)
    val before = live.data.count(_.isFile).toLong
    ArtifactRewrite.rewrite(live, "compact", "ArtifactCompaction", Seq(ArtifactRewrite.Part(
      "", layout(live.read(), targetFiles, clusterBy), live.rows)))()
    (before, dataFileCount(spark, path))
  }

  /** The compaction layout: `targetFiles` partitions, range-clustered
    * and sorted on `clusterBy` when given. One target file is a
    * coalesce (plus a sort when clustered): no shuffle and no
    * range-sampling job.
    */
  private[graft] def layout(df: DataFrame, targetFiles: Int,
                            clusterBy: Seq[String]): DataFrame = {
    val keys = clusterBy.map(col)
    if (targetFiles == 1)
      if (keys.isEmpty) df.coalesce(1) else df.coalesce(1).sortWithinPartitions(keys: _*)
    else if (keys.isEmpty) df.repartition(targetFiles)
    else df.repartitionByRange(targetFiles, keys: _*).sortWithinPartitions(keys: _*)
  }
}
