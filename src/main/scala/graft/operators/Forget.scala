package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Rights-removal END-TO-END: one verb that forgets a set of
  * documents across every artifact family the engine persists, in the
  * one order that is crash-safe and resurrection-proof. The
  * per-artifact verbs ([[Similarity.annIndexDeleteAt]],
  * [[Dedup.neardupIndexDeleteAt]], the folds, the gram rebuild) all
  * exist standalone; this module owns the CROSS-artifact sequencing
  * that previously lived in prose — "fold the winner store first,
  * rebuild aggregate state from the surviving corpus after" — so an
  * operator issues one call instead of hand-ordering five.
  *
  * Sequencing contract (each phase is durable before the next):
  *
  *  1. VALIDATE every named artifact (headers present) — a typo'd
  *     path refuses before ANY tombstone lands, never a half-forget;
  *  2. TOMBSTONE the per-row artifacts (ANN indexes on vec_id, the
  *     band index on doc_id): from this instant every probe surface
  *     excludes the ids — a crash later leaves the documents already
  *     unreachable, just not yet physically removed;
  *  3. FOLD physical: winner store FIRST (it holds the TEXT a
  *     removal request actually targets; the band index still
  *     shadows the ids if this crashes mid-way), then the band
  *     index, then each ANN artifact — each with verified row
  *     accounting and an atomic swap;
  *  4. REBUILD aggregate state from the now-clean corpus: the gram
  *     index (content-addressed hashes have no per-document rows to
  *     tombstone — see the boundary note in [[graft.streaming.StreamingSubstringDedup.rebuildIndex]])
  *     plus any caller-supplied rebuilds (sketch delta logs, bloom
  *     sidecars) via `extraRebuilds`.
  *
  * Re-running the same call is idempotent: tombstone adds merge,
  * folds of already-folded ids are verified no-match rewrites, the
  * gram rebuild re-derives the same set.
  *
  * Ownership: this is a writer-class mutation of every artifact it
  * touches. Run it inside the owning driver's maintenance window —
  * [[graft.sources.ArtifactMaintainer.forgetTask]] packages it as a
  * window task (quiesce streams, exclusive lock, restart) — or call
  * it directly only where nothing else writes.
  *
  * Id spaces: `ids` are document ids. The ANN artifacts key on
  * vec_id; pipelines where an embedding row carries its document's id
  * (the testdata contract and the common case) pass one set. Where
  * the spaces differ, `annIds` overrides the vec_id set (the caller
  * resolves doc -> vec through its own mapping table).
  *
  * Reference posture: the reference's event graph is append-only with
  * no removal verb (crates/esvc-core/src/graph.rs); its
  * merge-from-file driver (crates/exvc/src/main.rs:54-111) is the
  * precedent for one verb orchestrating multiple persisted artifacts.
  * Rights-removal at training-data scale is an obligation the Spark
  * engine adds.
  */
object Forget {

  /** A sum-merged delta log this forget call RETRACTS from instead of
    * rebuilding ([[graft.sources.DeltaLogCompaction.retractStamped]] —
    * O(deleted docs), the counted-gram strategy for the sketch
    * family). `retract` receives the deleted docs' winner-store rows
    * (idCol, textCol) and the request's negative stamp, and returns
    * rows retracted — wrap the artifact's own verb
    * ([[graft.streaming.StreamingCms.retract]],
    * [[graft.streaming.StreamingLogHist.retract]]). Runs in phase 2.5
    * (the deleted texts must still exist), so a crash-retry after the
    * store fold matches zero docs and no-ops.
    */
  final case class SumLogRetraction(
      name: String,
      path: String,
      retract: (DataFrame, Long) => Long)

  /** The artifact families one forget call covers. Every field is
    * optional — a deployment names what it runs — but
    * `winnerStorePath` requires `bandIndexPath` (the pair is one
    * family: the index's tombstone sidecar drives the store's fold),
    * and `gramIndexPath` needs a surviving corpus to re-derive from
    * (`survivingDocs`, or by default the winner store AFTER its
    * fold).
    *
    * `extraRebuilds`: named rebuild actions for aggregate state
    * beyond the gram index (sketch delta logs, bloom membership
    * sidecars) — run LAST, after every fold, so they can re-derive
    * from clean artifacts; each returns a one-line summary for the
    * report.
    */
  final case class Targets(
      annIndexPaths: Seq[String] = Nil,
      bandIndexPath: Option[String] = None,
      winnerStorePath: Option[String] = None,
      gramIndexPath: Option[String] = None,
      survivingDocs: Option[() => DataFrame] = None,
      textCol: String = "text",
      idCol: String = "doc_id",
      extraRebuilds: Seq[(String, () => String)] = Nil,
      removalStamp: Option[Long] = None,
      retractions: Seq[SumLogRetraction] = Nil) {
    require(annIndexPaths.nonEmpty || bandIndexPath.nonEmpty || gramIndexPath.nonEmpty,
      "forgetDocuments: no targets named — list the artifact families this " +
        "deployment persists (annIndexPaths / bandIndexPath / gramIndexPath)")
    require(winnerStorePath.isEmpty || bandIndexPath.nonEmpty,
      "forgetDocuments: winnerStorePath without bandIndexPath — the winner " +
        "store folds through the band index's tombstone sidecar; name both")
    require(gramIndexPath.isEmpty || survivingDocs.nonEmpty || winnerStorePath.nonEmpty,
      "forgetDocuments: gramIndexPath needs a surviving corpus to re-derive " +
        "from — pass survivingDocs, or name the winnerStorePath whose folded " +
        "rows ARE the corpus of record")
    require(retractions.isEmpty || winnerStorePath.nonEmpty,
      "forgetDocuments: sum-log retractions derive from the DELETED docs' " +
        "texts, which live in the winner store — name winnerStorePath")
  }

  /** Per-surface accounting of one forget call. Folds are
    * (rowsBefore, rowsAfter); `annTombstoned`/`annFolds` key by
    * artifact path.
    */
  final case class Report(
      nIds: Int,
      annTombstoned: Map[String, Long],
      bandTombstoned: Option[Long],
      storeFold: Option[(Long, Long)],
      bandFold: Option[(Long, Long)],
      annFolds: Map[String, (Long, Long)],
      gramRebuild: Option[(Long, Long)],
      extras: Seq[(String, String)],
      gramDecrement: Option[Long] = None,
      retracted: Seq[(String, Long)] = Nil) {
    def summary: String = {
      def f(t: (Long, Long)) = s"${t._1}->${t._2}"
      (Seq(s"ids=$nIds") ++
        annFolds.toSeq.sortBy(_._1).map { case (p, t) =>
          s"ann ${new org.apache.hadoop.fs.Path(p).getName} ${f(t)}" } ++
        storeFold.map(t => s"store ${f(t)}") ++
        bandFold.map(t => s"band ${f(t)}") ++
        gramRebuild.map(t => s"grams ${f(t)}") ++
        gramDecrement.map(n => s"grams -$n owner counts") ++
        retracted.map { case (n, r) => s"$n -$r partial rows" } ++
        extras.map { case (n, s) => s"$n: $s" }).mkString("; ")
    }
  }

  /** Forget `ids` everywhere `targets` names — see the object doc for
    * the sequencing contract. Returns the per-surface accounting.
    */
  def forgetDocuments(spark: SparkSession, ids: Seq[Long], targets: Targets,
                      annIds: Option[Seq[Long]] = None): Report = {
    val t = targets
    val vecIds = annIds.getOrElse(ids)
    if (ids.isEmpty && vecIds.isEmpty)
      return Report(0, Map.empty, None, None, None, Map.empty, None, Nil)

    // -- phase 1: validate everything before mutating anything
    // a crashed ANN swap is repaired before its header is read: the
    // missing path is not "not an artifact"
    t.annIndexPaths.foreach(p => AnnLifecycle.writerEntry(spark, p)(
      AnnLifecycle.requireKind(spark, p, "forgetDocuments")))
    t.bandIndexPath.foreach(p =>
      graft.sources.ArtifactHeader.required(spark, p, "bands"))
    // the gram artifact dispatches on its own header kind: "grams"
    // (distinct hashes — removal is rebuild-from-surviving-corpus) or
    // "gramsc" (counted delta log — removal is an O(deleted-docs)
    // ownership decrement derived from the deleted texts)
    val gramCounted = t.gramIndexPath.exists { p =>
      val counted =
        graft.sources.ArtifactHeader.read(spark, p, "gramsc").isDefined
      if (!counted) graft.sources.ArtifactHeader.required(spark, p, "grams")
      counted
    }
    require(!gramCounted || t.winnerStorePath.nonEmpty,
      "forgetDocuments: a counted gram index decrements from the DELETED " +
        "docs' texts, which live in the winner store — name winnerStorePath")
    t.winnerStorePath.foreach { p =>
      val (fs, hp) = Similarity.hadoopFs(spark, p)
      require(fs.exists(hp), s"forgetDocuments: winner store missing at $p")
    }
    t.retractions.foreach { r =>
      require(graft.sources.ArtifactFiles.hasDataFiles(spark, r.path) &&
        spark.read.parquet(r.path).columns.contains("batch_id"),
        s"forgetDocuments: retraction target ${r.name} at ${r.path} is " +
          "missing, empty, or unstamped — retraction needs a stamped delta " +
          "log with data (see DeltaLogCompaction.retractStamped)")
    }

    // -- phase 2: tombstone every per-row artifact (unreachable from
    // here on, even across a crash — the sidecars are durable). The
    // sidecars are disjoint per artifact and tombstone adds are
    // idempotent, so the per-artifact writes overlap (Par.jobs); a
    // crash mid-phase leaves a subset tombstoned, exactly as the
    // sequential form did, and the re-run merges the rest.
    val annTombSlots = new Array[Long](t.annIndexPaths.length)
    var bandTombSlot: Option[Long] = None
    Par.jobs(
      (t.annIndexPaths.zipWithIndex.map { case (p, i) =>
        () => annTombSlots(i) = Similarity.annIndexDeleteAt(spark, p, vecIds)
      } ++
        t.bandIndexPath.map { p =>
          () => bandTombSlot = Some(Dedup.neardupIndexDeleteAt(spark, p, ids))
        }): _*)
    val annTomb = t.annIndexPaths.zipWithIndex
      .map { case (p, i) => p -> annTombSlots(i) }.toMap
    val bandTomb = bandTombSlot

    // -- phase 2.5 (counted gram index only): decrement the deleted
    // docs' gram ownership BEFORE the store fold removes their texts.
    // O(deleted docs' text), corpus-size-independent. The negative
    // stamp must be STABLE across a crash-retry of this same request
    // (the decrement dedupes to a no-op) yet DIFFERENT for a later
    // removal of a re-ingested id (not mistaken for a retry).
    // Precedence:
    //   1. `removalStamp` - the removal REQUEST's own id (real
    //      rights-removal workflows have one); always unambiguous;
    //   2. content-derived - id set XOR an order-independent hash of
    //      the matched rows INCLUDING the store's ingest `batch_id`
    //      when it carries one (the streaming-chain store does): a
    //      re-ingest lands under a new batch id, so even
    //      byte-identical content yields a fresh stamp. A stampless
    //      store re-ingesting BYTE-IDENTICAL content is the one
    //      residual ambiguity - pass removalStamp there (in-window
    //      re-appends refuse under live tombstones, so a crash-retry
    //      can never race an interleaved re-ingest).
    // Either way a retry AFTER the fold matches zero rows and appends
    // nothing.
    val deletedAndStamp: Option[(DataFrame, Long)] =
      if (!(gramCounted || t.retractions.nonEmpty)) None
      else {
        import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit}
        val store = graft.sources.ArtifactFiles.read(spark, t.winnerStorePath.get)
        val genCols =
          if (store.columns.contains("batch_id"))
            Seq(col(t.idCol), col(t.textCol), col("batch_id"))
          else Seq(col(t.idCol), col(t.textCol))
        val deleted = Similarity.tombstoneMatches(
          store.select(genCols: _*),
          ids.distinct.toArray, t.idCol).localCheckpoint()
        val stamp = t.removalStamp match {
          case Some(r) => -1L - (r & Long.MaxValue)
          case None =>
            // bit_xor, not sum: order-independent AND overflow-free
            // under ANSI (a sum of 64-bit hashes wraps within ~60
            // rows); the row count breaks even-duplicate cancellation
            val row = deleted
              .agg(coalesce(expr("bit_xor(xxhash64(concat_ws(' ', " +
                  genCols.map(_.toString).mkString(", ") + ")))"), lit(0L)),
                count(lit(1)))
              .collect()(0)
            val (xorAgg, nRows) = (row.getLong(0), row.getLong(1))
            val idHash = scala.util.hashing.MurmurHash3
              .orderedHash(ids.distinct.sorted).toLong
            -1L - ((idHash ^ xorAgg ^ (nRows * 0x9E3779B97F4A7CL)) & Long.MaxValue)
        }
        Some((deleted, stamp))
      }
    val gramDecrement =
      if (!gramCounted) None
      else t.gramIndexPath.map { p =>
        val (deleted, stamp) = deletedAndStamp.get
        graft.streaming.StreamingSubstringDedup.decrementCounted(
          deleted.select(t.idCol, t.textCol), t.textCol, t.idCol, p, stamp)
      }
    // sum-log retractions share the request's deleted frame and stamp:
    // O(deleted docs) subtraction instead of an extraRebuilds
    // re-derivation; a crash-retry after the store fold finds zero
    // deleted docs and each retraction no-ops on the empty delta
    val retracted = t.retractions.map { r =>
      val (deleted, stamp) = deletedAndStamp.get
      r.name -> r.retract(deleted.select(t.idCol, t.textCol), stamp)
    }
    deletedAndStamp.foreach { case (d, _) =>
      graft.plans.CheckpointHygiene.free(d) }

    // -- phase 3: fold physical — winner store first (via the band
    // index's fold verb), then the band index; the store-before-band
    // order is the crash-safety contract (the band sidecar must still
    // shadow the ids while the store holds their texts). The ANN
    // artifacts are INDEPENDENT of that chain (their own sidecars,
    // phase-2-durable), so their folds overlap with it and with each
    // other — same per-artifact verified rewrites, same crash story
    // (any interleaved crash leaves every artifact either folded or
    // tombstone-shadowed; the re-run is idempotent).
    var storeBandSlot: (Option[(Long, Long)], Option[(Long, Long)]) = (None, None)
    val annFoldSlots = new Array[(Long, Long)](t.annIndexPaths.length)
    Par.jobs(
      (t.bandIndexPath.map { p =>
        () => {
          val ((sb, sa), (ib, ia)) =
            Dedup.neardupTombstoneFold(spark, p, t.winnerStorePath)
          storeBandSlot = (t.winnerStorePath.map(_ => (sb, sa)), Some((ib, ia)))
        }
      }.toSeq ++
        t.annIndexPaths.zipWithIndex.map { case (p, i) =>
          () => annFoldSlots(i) = Similarity.annTombstoneFold(spark, p)
        }): _*)
    val (storeFold, bandFold) = storeBandSlot
    val annFolds = t.annIndexPaths.zipWithIndex
      .map { case (p, i) => p -> annFoldSlots(i) }.toMap

    // -- phase 4: re-derive aggregate state from the clean corpus
    // (plain gram index only — the counted variant already settled
    // its removal in phase 2.5)
    val gram =
      if (gramCounted) None
      else t.gramIndexPath.map { p =>
        val surviving = t.survivingDocs.map(_.apply()).getOrElse(
          // the folded winner store IS the surviving corpus of record
          spark.read.parquet(t.winnerStorePath.get))
        graft.streaming.StreamingSubstringDedup.rebuildIndex(
          spark, p, surviving, t.textCol, t.idCol)
      }
    val extras = t.extraRebuilds.map { case (name, run) => name -> run() }

    Report(math.max(ids.length, vecIds.length), annTomb, bandTomb,
      storeFold, bandFold, annFolds, gram, extras, gramDecrement, retracted)
  }

  /** [[forgetDocuments]] from an id frame (first column is the id) —
    * bounded by the tombstone sidecar's own cap, like the per-artifact
    * frame overloads.
    */
  def forgetDocuments(spark: SparkSession, ids: DataFrame,
                      targets: Targets): Report =
    forgetDocuments(spark,
      graft.sources.Tombstones.collectBounded(ids,
        "forgetDocuments", "forgetDocuments (re-run — it folds as it goes)"),
      targets)

  /** PROVE-OF-ABSENCE: the compliance face of rights-removal. For
    * each per-row artifact `targets` names, report what the named ids
    * still amount to — one row per surface:
    *
    *   - `physical_rows`: rows matching the ids still stored in the
    *     artifact (what a FOLD removes);
    *   - `tombstoned_ids`: how many of the ids are in the artifact's
    *     live tombstone sidecar (excluded from every probe already);
    *   - `reachable_rows`: rows a probe can still surface — matching
    *     rows whose id is NOT tombstoned. THE compliance number: a
    *     removal request is honored the moment this hits 0 on every
    *     surface, and fully physical once `physical_rows` follows.
    *
    * The winner store reports reachability through the BAND index's
    * sidecar (its text is only ever fetched for band-collision
    * candidates, which that sidecar gates). The gram index is
    * deliberately absent: content-addressed hashes have no
    * per-document rows to count — its removal story is
    * rebuild-from-surviving-corpus ([[forgetDocuments]] phase 4), and
    * absence there is proved by reconstruction, not by scan.
    *
    * Read-only — safe to run anytime, no lock needed beyond the usual
    * shared access. Returns (surface, physical_rows, tombstoned_ids,
    * reachable_rows) sorted by surface.
    */
  def auditDocuments(spark: SparkSession, ids: Seq[Long], targets: Targets,
                     annIds: Option[Seq[Long]] = None): DataFrame = {
    import spark.implicits._
    val vecIds = annIds.getOrElse(ids).distinct.toArray
    val docIds = ids.distinct.toArray

    def counts(frame: DataFrame, idCol: String, idSet: Array[Long],
               tombs: Array[Long]): (Long, Long, Long) = {
      val physical = Similarity.tombstoneMatches(frame, idSet, idCol).count()
      val tombSet = tombs.toSet
      val tombstoned = idSet.count(tombSet).toLong
      val liveIds = idSet.filterNot(tombSet)
      val reachable = Similarity.tombstoneMatches(frame, liveIds, idCol).count()
      (physical, tombstoned, reachable)
    }

    val annRows = targets.annIndexPaths.zipWithIndex.map { case (p, i) =>
      val idCol = AnnLifecycle.requireKind(spark, p, "auditDocuments").idCol
      val (ph, tb, rc) = counts(spark.read.parquet(p), idCol, vecIds,
        graft.sources.Tombstones.read(spark, p))
      (if (targets.annIndexPaths.length == 1) "ann" else s"ann:$i", ph, tb, rc)
    }
    val bandTombs = targets.bandIndexPath
      .map(p => graft.sources.Tombstones.read(spark, p))
      .getOrElse(Array.empty[Long])
    val bandRows = targets.bandIndexPath.map { p =>
      graft.sources.ArtifactHeader.required(spark, p, "bands")
      val (ph, tb, rc) = counts(spark.read.parquet(p), "doc_id", docIds, bandTombs)
      ("band", ph, tb, rc)
    }
    val storeRows = targets.winnerStorePath.map { p =>
      val (ph, tb, rc) = counts(
        spark.read.parquet(p).select(targets.idCol), targets.idCol,
        docIds, bandTombs)
      ("store", ph, tb, rc)
    }
    (annRows ++ bandRows ++ storeRows).sortBy(_._1)
      .toDF("surface", "physical_rows", "tombstoned_ids", "reachable_rows")
  }
}
