package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash recovery for the artifact rewrite swap every maintenance
  * verb in this repo uses (`DeltaLogCompaction.compact`, the ANN
  * rebuilds, and every rewrite on the [[ArtifactRewrite]] core —
  * `ArtifactCompaction.compactFiles`, the tombstone folds,
  * `StreamingSubstringDedup.compactCounted` / `rebuildIndex`): write
  * a complete rewrite to `<path>.<tag>.tmp`, then `rename(path -> <path>.<tag>.old)`, `rename(tmp -> path)`,
  * `delete(old)`.
  *
  * Each RENAME is atomic, but the pair is not: a process crash
  * between them leaves the artifact PATH MISSING with the original
  * at `.old` (and the complete rewrite at `.tmp`). That state is the
  * one silent-data-loss shape the stamp watermarks cannot see: every
  * writer that bootstraps a missing artifact (`appendStamped` reads
  * watermarks as -1 from a missing path; `validateOrStamp` re-stamps
  * a fresh header; the ANN append verbs write a new header when the
  * path is absent) would quietly RECREATE the artifact from one
  * batch, losing the whole history — counters under-count, ANN
  * probes lose their corpus, and for the counted gram index a
  * rights-removal's tombstones vanish. The reference's storage layer
  * dodges the class by never rewriting in place (esvc-core keeps one
  * append-only event log); a compacting store must repair instead.
  *
  * The crash states are mutually distinguishable from the three
  * directory existence bits alone, because every swap site writes
  * tmp COMPLETELY (data + carried sidecars + watermark headers)
  * before the first rename, and deletes stale tmp/old before it
  * starts:
  *
  *   - `path` present, `.old` present: crashed AFTER the swap-in,
  *     before retiring `.old` — the rewrite is installed; `.old` is
  *     residue. Retire it.
  *   - `path` missing, `.tmp` present: crashed BETWEEN the renames —
  *     `.tmp` is the complete rewrite. Finish the swap
  *     (`rename(tmp -> path)`, retire `.old`).
  *   - `path` missing, `.tmp` missing: `.old` is the only copy
  *     (a swap whose tmp was already consumed or externally removed).
  *     Restore it (`rename(old -> path)`) — the fold is simply lost
  *     and can rerun.
  *
  * A lingering `.tmp` with NO `.old` sibling is not crash evidence —
  * it is a rewrite that died before any rename (the artifact was
  * never touched); the next maintenance run deletes and rewrites it.
  *
  * [[repair]] runs under the SAME single-writer/paused-readers
  * contract the swap itself requires (scheduled from the loop that
  * owns all access to the artifact) — it is wired into the write
  * entry points (stamped appends, header bootstrap, the compaction
  * verbs, the maintenance poll), where that contract already holds.
  * It is deliberately NOT wired into read paths: a reader may not
  * mutate the artifact, and under the documented contract a reader
  * never observes the mid-swap window anyway.
  */
object SwapRecovery {

  /** Every swap tag in the tree (grep `ArtifactRewrite.swap(`,
    * `ArtifactRewrite.rewrite(` and the `.compact.tmp` sites). A new
    * swap site must register its tag here or its crash window stays
    * invisible to the writers' repair.
    */
  private[graft] val tags: Seq[String] =
    Seq("compact", "gramcfold", "gramrebuild", "rebuild", "tombfold")

  /** Read-only evidence probe: the swap tags whose `.old` residue
    * exists next to `path`. Readers that would otherwise treat an
    * absent path as legitimately empty use this to REFUSE instead
    * (they may not mutate, so they cannot repair).
    */
  def crashEvidence(fs: FileSystem, p: Path): Seq[String] =
    tags.filter(tag =>
      fs.exists(new Path(p.getParent, p.getName + s".$tag.old")))

  /** Refuse when [[crashEvidence]] exists — the reader-side guard. */
  def requireNoCrashEvidence(fs: FileSystem, p: Path): Unit = {
    val ev = crashEvidence(fs, p)
    require(ev.isEmpty,
      s"$p is absent/empty but has crashed-swap residue " +
        s"(${ev.map(t => p.getName + s".$t.old").mkString(", ")}) — its " +
        "history was mid-swap when a maintenance verb crashed. Reading it " +
        "as empty would be silent data loss; run SwapRecovery.repair (any " +
        "writer entry point does) and retry.")
  }

  /** Detect and repair a crashed swap at `path`. Returns a
    * description of the repair performed, or None when there is no
    * crash evidence (the common case: one `exists` probe per tag,
    * no Spark job, no data read). Refuses if evidence from two
    * different swap tags coexists — that is not a single crash and
    * needs a human.
    */
  def repair(fs: FileSystem, p: Path): Option[String] = {
    val hits = crashEvidence(fs, p)
    if (hits.isEmpty) return None
    require(hits.size == 1,
      s"SwapRecovery: $p has crashed-swap evidence under MULTIPLE tags " +
        s"(${hits.mkString(", ")}) — two maintenance verbs' " +
        "residue coexists, which a single crash cannot produce; inspect " +
        "and remove the stale *.old directories by hand")
    val tag = hits.head
    val old = new Path(p.getParent, p.getName + s".$tag.old")
    val tmp = new Path(p.getParent, p.getName + s".$tag.tmp")
    if (fs.exists(p)) {
      fs.delete(old, true)
      Some(s"$tag: retired stale $old (crash after swap-in)")
    } else if (fs.exists(tmp)) {
      if (!fs.rename(tmp, p))
        sys.error(s"SwapRecovery: could not install $tmp at $p")
      fs.delete(old, true)
      Some(s"$tag: completed the crashed swap (installed $tmp at $p)")
    } else {
      if (!fs.rename(old, p))
        sys.error(s"SwapRecovery: could not restore $old to $p")
      Some(s"$tag: restored the original from $old (the rewrite was " +
        "lost with the crash; rerun the maintenance verb)")
    }
  }

  /** [[repair]] against `path`'s own Hadoop FileSystem; repairs are
    * logged (they are rare, operationally significant events).
    */
  def repair(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val r = repair(fs, p)
    r.foreach(msg => org.apache.logging.log4j.LogManager.getLogger(getClass)
      .warn(s"repaired crashed artifact swap at $path — $msg"))
    r
  }
}
