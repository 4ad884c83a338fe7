package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond dedup: benchmark decontamination,
  * deterministic train/val/test splitting, and stratified sampling.
  * These are the remaining table-stakes operations of a training-data
  * pipeline (the dedup/similarity family lives in [[Dedup]] and
  * [[Similarity]]).
  *
  * Everything is deterministic — split/sample assignment derives from
  * md5 of the row id, never an RNG — so results are stable across
  * re-runs, executors, and engines (the DuckDB oracle reproduces every
  * operator bit-for-bit).
  */
object Curation {
  /** 60-bit non-negative integer from the leading 15 hex chars of
    * md5(salt|id) — the shared deterministic-assignment primitive
    * (same algebra as [[Dedup.minhashMask]] / [[Similarity.hyperplaneSql]],
    * SQL-expressible as `('0x' || substr(md5(...), 1, 15))::BIGINT`).
    */
  private def idHash(salt: String, id: Column): Column =
    conv(substring(md5(concat(lit(salt + "|"), id.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  /** Test-set contamination scores: for each corpus document, the
    * number of distinct word `n`-grams it shares with ANY document of
    * `testSet`. The standard benchmark-decontamination primitive
    * (verbatim-overlap flavor): a training document that contains test
    * material shares a run of n-grams with it.
    *
    * Scale shape: the test-set gram table is tiny relative to the
    * corpus (benchmarks are small by definition) and deduplicated
    * before the join, so it BROADCASTS; the corpus side explodes its
    * distinct grams once and never shuffles the text — the aggregate
    * is a map-side-combined count per doc_id. At 100 TB the corpus
    * scan dominates and nothing else materializes.
    */
  def contamination(corpus: DataFrame, testSet: DataFrame,
                    textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val testGrams = testSet
      .select(explode(Dedup.shingles(col(textCol), n)).as("g")).distinct()
    // the corpus-side shingle explode + broadcast probe is pure map
    // work — spread a too-few-splits scan across the cluster first
    // (no-op on production multi-split inputs)
    Par.spread(corpus.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), explode(Dedup.shingles(col(textCol), n)).as("g"))
      .join(broadcast(testGrams), Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_overlap"))
  }

  /** Decontaminated corpus: drop every document sharing >= `minOverlap`
    * distinct `n`-grams with the test set. Returns the surviving rows
    * of `corpus` unchanged (anti-join against the flagged ids).
    */
  def decontaminate(corpus: DataFrame, testSet: DataFrame,
                    textCol: String, idCol: String,
                    n: Int = 3, minOverlap: Int = 3): DataFrame = {
    val flagged = contamination(corpus, testSet, textCol, idCol, n)
      .filter(col("n_overlap") >= minOverlap)
      .select(col("doc_id").as(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }

  /** Deterministic train/val/test assignment: bucket = md5(salt|id)
    * mod 100; [0, pctTrain) -> train, [pctTrain, pctTrain+pctVal) ->
    * val, rest -> test. Content-hash splits are the scale answer to
    * "stable under re-runs and under corpus growth": a document's
    * split never changes when other documents are added or removed,
    * and no RNG state needs coordinating across 1000 executors.
    */
  def hashSplit(docs: DataFrame, idCol: String, salt: String = "split",
                pctTrain: Int = 90, pctVal: Int = 5): DataFrame = {
    val bucket = pmod(idHash(salt, col(idCol)), lit(100L))
    docs.select(col(idCol),
      bucket.as("bucket"),
      when(bucket < pctTrain, lit("train"))
        .when(bucket < pctTrain + pctVal, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Token-budget corpus mixing: per-stratum token budgets (the "N
    * billion tokens of source X" lever every pretraining mixture is
    * specified in). Documents are taken in deterministic md5-hash
    * order within their stratum — an arrival-order-free shuffle — and
    * kept while the stratum's running token total stays within budget.
    * Returns `(doc_id, source, n_tokens, cum_tokens)` for the kept
    * rows.
    *
    * Scale shape: one scan + one window (partitioned by stratum,
    * ordered by hash) — the running sum is the standard prefix-sum
    * shuffle; no collect, no iteration. Skewed strata (one giant
    * source) are exactly the window's partition, which Spark
    * range-splits within a partition spec at execution; budgets a
    * whale stratum to its prefix without touching other strata.
    */
  def tokenBudget(docs: DataFrame, textCol: String, idCol: String,
                  strataCol: String, budgets: Map[String, Long],
                  defaultBudget: Long, salt: String = "budget"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (stratum, b)) => when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(idCol).as("doc_id"), col(strataCol).as("source"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"),
        idHash(salt, col(idCol)).as("__h"), budget.as("__b"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= col("__b"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** DSIR-style importance scores: per-document log-likelihood ratio
    * of a TARGET unigram language model (documents matching
    * `isTarget`) against the BACKGROUND corpus model, add-one
    * smoothed over the shared vocabulary. High scores mark documents
    * that look like the target domain — the data-selection signal of
    * importance resampling (Xie et al., DSIR), reduced to its
    * hashed-n-gram/unigram core.
    *
    * Scale + determinism: two vocab-sized aggregates (term counts
    * overall and in-target — ONE pass, the target count is a
    * conditional aggregate) + a 1-row totals broadcast; the per-doc
    * score sums FIXED-POINT contributions (floor(lnratio x 1e9) longs,
    * weighted by in-doc term count), so the distributed sum is exact
    * and partitioning-independent — a double sum here would be
    * merge-order-dependent. Returns (doc_id, score_fp, score).
    */
  def dsirScores(docs: DataFrame, textCol: String, idCol: String,
                 isTarget: Column): DataFrame = {
    val tok = docs
      .select(col(idCol).as("doc_id"), isTarget.as("is_t"),
        explode(Dedup.tokens(col(textCol))).as("term"))
    val perDoc = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    // vocab-sized; checkpointed so the totals aggregate reads it
    // instead of re-scanning the corpus (Catalyst does not share
    // subtrees). perDoc deliberately re-scans: materializing the raw
    // exploded token stream would cost more than the second scan.
    val termStats = tok.groupBy("term").agg(
      count(lit(1)).as("cb"),
      count(when(col("is_t"), 1)).as("ct"))
      .localCheckpoint()
    val totals = termStats.agg(
      sum(col("cb")).as("totB"), sum(col("ct")).as("totT"), count(lit(1)).as("v"))
    // exact integer products (far below 2^53), one double division, one ln
    val lnr = log(
      ((col("ct") + 1) * (col("totB") + col("v"))).cast("double") /
        ((col("cb") + 1) * (col("totT") + col("v"))).cast("double"))
    perDoc
      .join(termStats, "term")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(sum(col("c") * floor(lnr * lit(1e9)).cast("long")).as("score_fp"))
      .select(col("doc_id"), col("score_fp"),
        round(col("score_fp") / lit(1e9), 6).as("score"))
  }

  /** Output shard manifest: assign every document a deterministic
    * shard (md5(salt|id) mod `shards` — the training-output writer's
    * partitioning key) and aggregate the per-shard manifest a
    * dataloader needs: document count, token total, id range, content
    * checksum (XOR of doc-level hashes — order-independent and
    * overflow-free, so the checksum is reproducible under any
    * partitioning and cheap to compare between two materializations
    * of the same shard). In production the same assignment feeds
    * `df.repartitionByRange`/`partitionBy(shard)` at write time; the
    * manifest is one map-side-combined aggregate.
    */
  def shardManifest(docs: DataFrame, textCol: String, idCol: String,
                    shards: Int, salt: String = "shard"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"),
        pmod(idHash(salt, col(idCol)), lit(shards.toLong)).as("shard"),
        idHash("cksum", col(idCol)).as("__h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        expr("bit_xor(__h)").as("checksum"))

  /** C4-style exact chunk-level dedup: split every document into
    * tumbling `chunkWords`-word chunks, drop every chunk occurrence
    * except the globally-first one (lowest `(doc_id, chunk_idx)` per
    * distinct chunk text), and reassemble the surviving chunks per
    * document. This is the "paragraph dedup" stage of C4/Dolma-class
    * pipelines, expressed at fixed word granularity because the
    * synthetic corpus has no paragraph breaks — the distributed shape
    * (explode → global keep-first → regroup) is identical.
    *
    * Scale shape: TWO shuffles total. The keep-first winner per chunk
    * is `row_number() = 1` over a window partitioned by the chunk
    * hash — Catalyst rewrites the post-filter into a map-side
    * WindowGroupLimit, so each partition forwards at most one row per
    * chunk before the shuffle; hot chunks (boilerplate repeated
    * millions of times) never concentrate on one reducer. The regroup
    * shuffles only surviving chunk text. `n_chunks` is recomputed
    * arithmetically from the original row rather than carried through
    * the pipeline.
    */
  /** Tumbling word-chunk explode shared by [[chunkDedup]] and
    * [[boilerplateStrip]]: `(doc_id, chunk_idx, chunk)` rows.
    */
  private def chunkRows(docs: DataFrame, textCol: String, idCol: String,
                        chunkWords: Int): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val nChunks = floor((size(toks).cast("long") + lit(chunkWords - 1).cast("long"))
      / lit(chunkWords.toLong)).cast("long")
    val chunkArr = when(size(toks) > 0,
      transform(sequence(lit(0L), nChunks - 1),
        g => array_join(slice(toks, (g * chunkWords + 1).cast("int"), lit(chunkWords)), " ")))
      .otherwise(expr("CAST(array() AS ARRAY<STRING>)"))
    docs.select(col(idCol).as("doc_id"),
      posexplode(chunkArr).as(Seq("chunk_idx", "chunk")))
  }

  private def nChunksCol(textCol: String, chunkWords: Int) = {
    val toks = Dedup.tokens(col(textCol))
    floor((size(toks).cast("long") + lit(chunkWords - 1).cast("long"))
      / lit(chunkWords.toLong)).cast("long")
  }

  def chunkDedup(docs: DataFrame, textCol: String, idCol: String,
                 chunkWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nChunks = nChunksCol(textCol, chunkWords)
    val chunked = chunkRows(docs, textCol, idCol, chunkWords)
    val w = Window.partitionBy(md5(col("chunk"))).orderBy(col("doc_id"), col("chunk_idx"))
    val winners = chunked
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val perDoc = winners.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
        x => x.getField("chunk")), " ").as("kept_text"))
    docs.select(col(idCol).as("doc_id"), nChunks.as("n_chunks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Overlapping sliding-window chunk split (the RAG-indexing /
    * long-context training prep step): cut each document into
    * `window`-token chunks every `stride` tokens, keeping token
    * offsets so downstream stages can map chunks back into the
    * source. The last chunk is the first whose end reaches the
    * document end (a trailing fully-contained chunk is never
    * emitted): n_chunks = 1 + ceil(max(n - window, 0) / stride).
    *
    * Scale shape: the chunk grid is generated IN the plan
    * (sequence + explode per doc — fan-out is the output itself);
    * zero shuffle, zero driver involvement. Token-less documents
    * produce no rows.
    */
  def chunkSplit(docs: DataFrame, textCol: String, idCol: String,
                 window: Int = 16, stride: Int = 8): DataFrame = {
    require(stride > 0 && window >= stride, "need 0 < stride <= window")
    val toks = Dedup.tokens(col(textCol))
    val n = size(toks).cast("long")
    val nch = lit(1L) + floor(
      (greatest(n - window, lit(0L)) + lit(stride - 1).cast("long"))
        / lit(stride.toLong)).cast("long")
    docs
      .select(col(idCol).as("doc_id"), toks.as("__toks"), n.as("n_tokens"),
        nch.as("__nch"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("__toks"),
        explode(sequence(lit(0L), col("__nch") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(window.toLong), col("n_tokens") - col("start_tok"))
          .as("n_chunk_tokens"),
        array_join(
          slice(col("__toks"), (col("start_tok") + 1).cast("int"), lit(window)),
          " ").as("chunk_text"))
  }

  /** One sliding k-gram key per window position. */
  case class GramPos(pos: Long, h: Long)

  /** splitmix64 finalizer — avalanches the linear structure of the
    * polynomial rolling hash (and of the 32+32-bit token hash pair)
    * so the band/partition assignment downstream sees uniform bits.
    * Equality-preserving, so gram-key semantics are unchanged.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** All sliding k-gram 64-bit keys of a token array in ONE imperative
    * pass: each token is hashed once (two MurmurHash3 seeds packed
    * into a Long, avalanched), then a degree-(k-1) polynomial in an
    * odd 64-bit base rolls across positions with one multiply-add and
    * one subtract per step — O(n) total versus the O(n·k) string
    * rebuild + md5 of the per-position slice formulation. Total on
    * null/short input (also usable standalone).
    */
  /** The shared rolling-hash kernel: one 64-bit key per window
    * position (index = pos). Both gram UDFs delegate here so the
    * positional and set faces can never drift.
    */
  private[graft] def gramHashArray(toks: Seq[String], k: Int): Array[Long] = {
    val n = if (toks == null) 0 else toks.length
    if (n < k) Array.emptyLongArray
    else {
      val th = new Array[Long](n)
      var i = 0
      while (i < n) {
        val t = toks(i)
        th(i) = mix64(
          (scala.util.hashing.MurmurHash3.stringHash(t, 0xc0ffee).toLong << 32) |
            (scala.util.hashing.MurmurHash3.stringHash(t, 0x5eed).toLong & 0xffffffffL))
        i += 1
      }
      val B = 0x9e3779b97f4a7c15L // odd => invertible mod 2^64, full period
      var powK = 1L
      i = 1
      while (i < k) { powK *= B; i += 1 }
      var h = 0L
      i = 0
      while (i < k) { h = h * B + th(i); i += 1 }
      val out = new Array[Long](n - k + 1)
      out(0) = mix64(h)
      i = 1
      while (i <= n - k) {
        h = (h - th(i - 1) * powK) * B + th(i + k - 1)
        out(i) = mix64(h)
        i += 1
      }
      out
    }
  }

  private[graft] val gramHashUdf = udf { (toks: Seq[String], k: Int) =>
    val hs = gramHashArray(toks, k)
    val out = new Array[GramPos](hs.length)
    var i = 0
    while (i < hs.length) { out(i) = GramPos(i.toLong, hs(i)); i += 1 }
    out.toSeq
  }

  /** The per-document DISTINCT gram-hash set — the positionless face
    * of [[gramHashUdf]] for consumers that only need WHICH grams a
    * document owns (the counted index's owner counts, the persisted
    * distinct-hash index): deduping inside the document (sort +
    * unique on a primitive array, no boxing) means the downstream
    * explode emits one row per distinct gram instead of one per
    * position, and a per-gram aggregate needs ONE shuffle (the
    * groupBy) instead of distinct-then-groupBy's two — the guide's
    * "aggregate before you shuffle" done at the row the data is
    * narrowest.
    */
  private[graft] val gramHashSetUdf = udf { (toks: Seq[String], k: Int) =>
    val hs = gramHashArray(toks, k)
    if (hs.length <= 1) hs.toSeq
    else {
      java.util.Arrays.sort(hs)
      var w = 1
      var i = 1
      while (i < hs.length) {
        if (hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
        i += 1
      }
      hs.take(w).toSeq
    }
  }

  /** One (doc_id, h) row per document-distinct gram hash — the
    * pre-shuffle-deduplicated gram table for ownership counting and
    * distinct-hash index builds.
    */
  private[graft] def gramHashSet(docs: DataFrame, textCol: String,
                                 idCol: String, k: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col("doc_id"), explode(gramHashSetUdf(col("__toks"), lit(k))).as("h"))

  /** Substring-level duplicated-span removal — the "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al. 2022)
    * ExactSubstr operator at word granularity: any window of `k`
    * consecutive tokens that occurs more than once in the corpus is a
    * duplicate; every occurrence except the globally-first (by
    * (doc_id, pos)) is removed, overlapping duplicate windows merged
    * into maximal spans, and each document reassembled from its
    * surviving tokens. Finer-grained than [[chunkDedup]] (tumbling
    * chunks miss duplicates that straddle a chunk boundary; sliding
    * windows cannot).
    *
    * Scale shape: one sliding-gram explode (O(corpus tokens) rows —
    * the algorithm's intrinsic cost; the suffix-array formulation
    * reads the same data), first-occurrence via a map-side-combined
    * min(struct) aggregate (NO window over the gram key — a million-
    * occurrence boilerplate gram is one aggregate row, and the
    * mark-duplicates join fans out only to the occurrences that must
    * be marked anyway). Span merging is a per-document window
    * (document-bounded). Coverage is exploded to (doc_id, pos) rows so
    * token removal is an EQUI anti-join, never a range-predicate
    * nested loop. Cheaper screens (winnowing, chunk, MinHash) are the
    * recall path; this is the precision path.
    *
    * Gram keys come from [[gramHashUdf]] — a single imperative pass
    * per document (hash each token once, then O(1) rolling updates),
    * the same ~5x-over-array-HOFs trade [[Dedup.winnowFpSets]]
    * documents. The per-position `slice`+`array_join`+`md5`
    * formulation this replaced rebuilt and re-hashed ~k tokens of
    * string per position through Catalyst's generic array paths and
    * was the single most expensive step of the whole bench. Equal
    * grams always collide (hash of content), so correctness needs
    * only "distinct grams don't": at 64 bits the birthday bound is
    * ~n²/2⁶⁵ — negligible to ~100M grams; at 100 TB (~10¹³ grams)
    * widen [[GramPos.h]] to a pair of independent 64-bit polynomials
    * and key on the struct.
    */
  def substringDedup(docs: DataFrame, textCol: String, idCol: String,
                     k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, "substringDedup: need k >= 2")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    val grams = base.filter(col("n_tokens") >= k)
      .select(col("doc_id"), explode(gramHashUdf(col("__toks"), lit(k))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    val firsts = grams.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n_occ") > 1)
      .select(col("h"), col("first.doc_id").as("f_doc"), col("first.pos").as("f_pos"))
    val dupSpans = grams.join(firsts, "h")
      .filter(!(col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
      .select(col("doc_id"), col("pos").as("start"), (col("pos") + k).as("stop"))
    removeCoveredSpans(base, dupSpans)
  }

  /** Shared back half of the substring-dedup family: merge duplicate
    * token spans into maximal islands per document (gaps-and-islands
    * window — document-bounded), aggregate each affected document's
    * islands into ONE span-list row, attach that metadata row to the
    * document, and cut the covered positions with an indexed `filter`
    * HOF over the token array — all codegen expressions, zero
    * per-token rows. `base` carries (doc_id, __toks, n_tokens).
    *
    * Scale shape (guide §8: move big rows once, decide on small
    * rows): the old form posexploded EVERY token of every document
    * into (doc_id, pos, tok) rows, anti-joined them against the
    * exploded coverage, and re-assembled with a collect_list shuffle —
    * the whole corpus text crossed two exchanges to delete a few
    * spans, and `base` was consumed twice more for the n_tokens join
    * (three scans + tokenizes of the input). Now only the span LIST
    * per affected document shuffles (the islands window + one
    * collect_list over span pairs); the token arrays are read once
    * and never leave their scan partitions unless the span-list join
    * itself needs a shuffle.
    */
  private def removeCoveredSpans(base: DataFrame, dupSpans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("doc_id").orderBy("start", "stop")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val islands = dupSpans
      .withColumn("brk",
        when(col("start") > coalesce(max(col("stop")).over(wPrev), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(wOrd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min("start").as("start"), max("stop").as("stop"))
    // one row per AFFECTED doc: its merged islands as a span array —
    // partitioned by doc_id from the window, so neither aggregate
    // re-shuffles (hash(doc_id) satisfies both groupings)
    val spansPerDoc = islands.groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("stop"))).as("__spans"))
    val spans = coalesce(col("__spans"),
      array().cast("array<struct<start:bigint,stop:bigint>>"))
    // indexed filter: keep token i unless some island covers i; islands
    // are per-doc few, so the exists() scan is tiny per token
    val kept = filter(col("__toks"), (tok: Column, i: Column) =>
      !exists(spans, s =>
        i.cast("long") >= s.getField("start") && i.cast("long") < s.getField("stop")))
    base.join(spansPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(kept).cast("long")).as("n_removed"),
        array_join(kept, " ").as("kept_text"))
  }

  /** Incremental substring-span removal — the ExactSubstr sibling of
    * [[Dedup.nearDupAgainst]] / [[bloomDedup]]: a NEW batch is deduped
    * against the PRIOR corpus's gram index without re-pairing history.
    * A batch window of `k` tokens is a duplicate if the gram exists
    * anywhere in the prior corpus (prior owns the first occurrence by
    * construction) or earlier within the batch itself (keep-first by
    * (doc_id, pos)); spans merge and documents reassemble exactly as
    * in [[substringDedup]]. Only batch documents are returned.
    *
    * Scale shape: the prior side reduces to its DISTINCT gram-hash set
    * — the persistable index artifact a production pipeline stores and
    * appends to (grams only ever get added), exactly like the LSH band
    * index. The probe is one hash-partitioned left join of batch grams
    * against that index; 100 TB of history is never re-scanned, only
    * its gram set is.
    */
  def substringDedupAgainst(prior: DataFrame, batch: DataFrame,
                            textCol: String, idCol: String,
                            k: Int = 8): DataFrame = {
    require(k >= 2, "substringDedupAgainst: need k >= 2")
    // the prior side only contributes its distinct hash set — use the
    // positionless per-doc-distinct gram face so the distinct shuffles
    // document-deduped rows, not per-position rows (guide §2.3)
    substringDedupAgainstIndex(
      gramHashSet(prior, textCol, idCol, k).select("h").distinct(),
      batch, textCol, idCol, k)
  }

  /** (base, grams) decomposition of a document frame: `base` carries
    * (doc_id, __toks, n_tokens); `grams` one (doc_id, pos, h) row per
    * sliding window via the rolling-hash UDF.
    */
  private[graft] def gramTable(docs: DataFrame, textCol: String, idCol: String,
                               k: Int): (DataFrame, DataFrame) = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("__toks"))
      .withColumn("n_tokens", size(col("__toks")).cast("long"))
    val g = base.filter(col("n_tokens") >= k)
      .select(col("doc_id"), explode(gramHashUdf(col("__toks"), lit(k))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.h").as("h"))
    (base, g)
  }

  /** [[substringDedupAgainst]] with the prior corpus already reduced to
    * its persisted gram-hash index `priorIdx` (one column `h`) — the
    * form an incremental/streaming pipeline uses so history text is
    * never re-tokenized.
    */
  def substringDedupAgainstIndex(priorIdx: DataFrame, batch: DataFrame,
                                 textCol: String, idCol: String,
                                 k: Int = 8): DataFrame = {
    require(k >= 2, "substringDedupAgainstIndex: need k >= 2")
    val (base, grams) = gramTable(batch, textCol, idCol, k)
    val firsts = grams.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val dupSpans = grams
      .join(priorIdx.select(col("h"), lit(1L).as("__prior")).distinct(), Seq("h"), "left")
      .join(firsts, "h")
      .filter(col("__prior").isNotNull ||
        !(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos").as("start"), (col("pos") + k).as("stop"))
    removeCoveredSpans(base, dupSpans)
  }

  /** Boilerplate chunk removal (the C4/RefinedWeb "remove lines that
    * repeat across many pages" stage, word-chunk flavored): drop every
    * tumbling chunk whose corpus-wide DOCUMENT frequency exceeds
    * `maxDocFreq` (navigation bars, cookie banners, license footers),
    * then reassemble each document from its surviving chunks in order.
    * Unlike [[chunkDedup]] (keep FIRST occurrence) this deletes the
    * chunk text everywhere — boilerplate carries no training signal in
    * any copy.
    *
    * Scale shape: chunk doc-frequency is distinct (chunk, doc) pairs
    * then one map-side-combined count per chunk — the classic
    * two-level exact distinct; the frequency table joins back on the
    * chunk hash. No windows over hot keys: a chunk shared by a million
    * docs is one frequency row, and the reassembly groups by doc_id
    * (bounded by document size).
    */
  def boilerplateStrip(docs: DataFrame, textCol: String, idCol: String,
                       chunkWords: Int = 10, maxDocFreq: Long = 5L): DataFrame = {
    // tokenize + chunk-slice + posexplode runs pre-shuffle — spread a
    // too-few-splits scan across the cluster first (no-op on
    // production multi-split inputs); covers BOTH consumers below
    // (the chunk table and the per-doc n_chunks recount)
    val spreadDocs = Par.spread(docs.select(col(idCol), col(textCol)))
    val chunked = chunkRows(spreadDocs, textCol, idCol, chunkWords)
    val freq = chunked.select(col("chunk"), col("doc_id")).distinct()
      .groupBy("chunk").agg(count(lit(1)).as("chunk_df"))
    val kept = chunked.join(freq, "chunk").filter(col("chunk_df") <= maxDocFreq)
    val perDoc = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
        x => x.getField("chunk")), " ").as("kept_text"))
    spreadDocs.select(col(idCol).as("doc_id"), nChunksCol(textCol, chunkWords).as("n_chunks"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Bloom-filter incremental dedup (the Dolma-style cross-batch
    * membership test): documents matching `priorPred` form the
    * already-ingested batch whose content hashes populate a Bloom
    * filter of `mBits` bits with `k` md5-derived hash functions; every
    * other document is probed against it. Output per probed document:
    * `bloom_hit` (all k bits set), `exact_dup` (ground truth via hash
    * join), `false_pos` (bloom said yes, exact says no) — 0/1 BIGINTs.
    *
    * Scale shape: the filter itself is the aggregated bitmap table —
    * `mBits/60` rows of `(word_idx, 60-bit word)` built with one
    * map-side-combined `bit_or` aggregate — small enough to BROADCAST
    * at any corpus size (mBits is chosen for the target false-positive
    * rate, not the corpus size... a 4-billion-bit filter is still only
    * ~70M rows / ~1 GB). Probing is a broadcast join + one thin
    * `bool_and` groupBy of k rows per doc; the corpus text never
    * shuffles. In a real incremental pipeline the words table is built
    * once per ingested batch and persisted; the exact join here is the
    * false-positive accounting a pipeline runs on samples.
    *
    * Bits use 60-bit words (not 64) so `1L << bit` stays positive —
    * DuckDB's `<<` and Spark's `shiftleft` then agree without
    * sign-overflow edge cases.
    *
    * Removal boundary: `bit_or` is not invertible (a set bit cannot
    * know how many items witnessed it), so rights-removal for a
    * persisted bloom sidecar is a rebuild from the surviving corpus
    * (Forget.Targets.extraRebuilds) — bounded at mBits/60 rows, one
    * aggregate. The sum-merged families retract instead
    * ([[graft.sources.DeltaLogCompaction.retractStamped]]); a
    * counting-bloom variant would retract too, but the membership
    * check would pay a per-cell count column for a removal path the
    * bounded rebuild already serves.
    */
  def bloomDedup(docs: DataFrame, textCol: String, idCol: String,
                 priorPred: Column, probePred: Column,
                 mBits: Int = 1 << 16, k: Int = 3,
                 salt: String = "bloom"): DataFrame = {
    val h = md5(col(textCol))
    def pos(j: Int, hc: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"$salt$j|"), hc)), 1, 15), 16, 10).cast("long"),
        lit(mBits.toLong))
    val prior = docs.filter(priorPred).select(h.as("h"))
    val probe = docs.filter(probePred).select(col(idCol).as("doc_id"), h.as("h"))
    val words = prior
      .select(explode(array((0 until k).map(j => pos(j, col("h"))): _*)).as("p"))
      .select(expr("p div 60").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 60 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
    val probed = probe
      .select(col("doc_id"), col("h"),
        explode(array((0 until k).map(j => pos(j, col("h"))): _*)).as("p"))
      .select(col("doc_id"), col("h"), expr("p div 60").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 60 AS INT))").as("m"))
      .join(broadcast(words), Seq("w"), "left")
      .groupBy("doc_id", "h")
      .agg(expr("bool_and(bits IS NOT NULL AND (bits & m) <> 0)").as("__hit"))
    val priorH = prior.distinct().withColumn("__ex", lit(1L))
    probed.join(priorH, Seq("h"), "left")
      .select(col("doc_id"),
        when(col("__hit"), lit(1L)).otherwise(lit(0L)).as("bloom_hit"),
        coalesce(col("__ex"), lit(0L)).as("exact_dup"),
        when(col("__hit") && col("__ex").isNull, lit(1L)).otherwise(lit(0L)).as("false_pos"))
  }

  /** Deterministic stratified sampling: keep a row iff
    * md5(salt|id) mod 1000 < rate‰ for its stratum (per-mille rates
    * in `ratesPerMille`, `defaultPerMille` otherwise). One projection
    * + filter over the scan — sampling never shuffles, and per-stratum
    * rates let a pipeline re-weight sources (the domain-mixture lever)
    * without materializing intermediate tables.
    */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
                       ratesPerMille: Map[String, Int], defaultPerMille: Int,
                       salt: String = "sample"): DataFrame = {
    val rate = ratesPerMille.foldLeft(lit(defaultPerMille)) {
      case (acc, (stratum, r)) => when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    docs.filter(pmod(idHash(salt, col(idCol)), lit(1000L)) < rate)
  }

  /** URL/domain filtering (the C4/Dolma source-blocklist stage):
    * extract the host from each document's URL, derive its registered
    * domain (last two dot-labels), and mark documents whose host or
    * registered domain appears in the blocklist.
    *
    * Scale shape: host/domain extraction is a codegen'd projection;
    * the blocklist (thousands of rows in practice) joins BROADCAST on
    * both keys — the corpus never shuffles. Output: per-doc host,
    * domain, blocked flag, and the matched blocklist entry.
    */
  def urlFilter(docs: DataFrame, urlCol: String, idCol: String,
                blockedDomains: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val host = regexp_extract(col(urlCol), "^[a-z]+://([^/]+)", 1)
    val block = blockedDomains.toDF("blocked_entry")
    val extracted = docs.select(col(idCol).as("doc_id"), host.as("host"))
      .withColumn("domain", regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1))
    // Aggregate after the join: when BOTH the host and the registered
    // domain match (different) blocklist entries, the left join fans
    // out to two rows — collapse back to the one-row-per-doc contract
    // (matched = lexicographic min of the matching entries).
    extracted
      .join(broadcast(block),
        col("host") === col("blocked_entry") || col("domain") === col("blocked_entry"),
        "left")
      .groupBy("doc_id", "host", "domain")
      .agg(
        max(when(col("blocked_entry").isNotNull, lit(1L)).otherwise(lit(0L))).as("blocked"),
        coalesce(min(col("blocked_entry")), lit("")).as("matched"))
  }

  /** Corpus snapshot diff (dataset versioning): align two corpus
    * versions on the document id and classify every id as `added`
    * (new only), `removed` (old only), `changed` (both, different
    * content hash) or `unchanged`. The per-release audit a 100 TB
    * corpus pipeline runs between snapshots.
    *
    * Scale shape: each side reduces to `(id, md5(text))` at scan time
    * — the full-outer join shuffles 2 slim columns, never the text.
    * (Production pipelines persist exactly this manifest per snapshot
    * so the next diff reads manifests, not the corpus; the operator
    * is the same join either way.)
    */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame,
                   textCol: String, idCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("oh"))
    val n = newDocs.select(col(idCol).as("doc_id"), md5(col(textCol)).as("nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("oh").isNull, lit("added"))
          .when(col("nh").isNull, lit("removed"))
          .when(col("oh") =!= col("nh"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Distributed quality-classifier TRAINING (the trainer half of
    * [[TextAnalysis.qualityScore]]): batch gradient descent on a
    * logistic model over the same cheap text features, labels from
    * `isPositive` (e.g. "docs from the curated source"). Per round:
    * ONE map-side-combined aggregate over the corpus (5 gradient sums
    * + count) and a driver-side weight update — the same
    * driver-holds-the-model contract as [[Similarity.kmeans]] and
    * [[Bpe.learn]], which is how every distributed trainer works.
    *
    * Cross-engine exactness: the sigmoid is the RATIONAL surrogate
    * `0.5 + z / (2*(1+|z|))` — only +,*,/,abs, so per-row doubles are
    * bit-identical in Spark and DuckDB (no exp() correctness-of-
    * rounding gamble); gradient contributions aggregate as FIXED-POINT
    * longs (floor(e*f x 1e9)), so the distributed sum is exact under
    * any partitioning; weight updates replay the identical IEEE ops on
    * both sides. Output: the learned weights + training accuracy.
    */
  def trainQualityLr(docs: DataFrame, textCol: String, idCol: String,
                     isPositive: Column, iters: Int, lr: Double): DataFrame = {
    val spark = docs.sparkSession
    val toks = Dedup.tokens(col(textCol))
    val nw = size(toks)
    val nwD = greatest(nw, lit(1)).cast("double")
    val feats = docs.select(
      when(isPositive, lit(1.0d)).otherwise(lit(0.0d)).as("y"),
      lit(1.0d).as("f0"),
      (least(nw, lit(500)).cast("double") / lit(500.0)).as("f1"),
      (size(filter(toks, t => array_contains(lit(TextAnalysis.Stopwords.toArray), t)))
        .cast("double") / nwD).as("f2"),
      (size(array_distinct(toks)).cast("double") / nwD).as("f3"),
      (length(concat_ws("", toks)).cast("double") / nwD / lit(10.0)).as("f4"))
      .localCheckpoint() // one corpus scan; every GD round reads this
    val n = feats.count()
    if (n == 0L) { // empty input: zero weights, 0 accuracy (no div-by-0 / null sums)
      graft.plans.CheckpointHygiene.free(feats)
      import spark.implicits._
      return (0 until 5).map(j => (j.toLong, 0.0d, 0.0d))
        .toDF("feature", "weight", "train_acc")
    }
    var w = Array.fill(5)(0.0d)
    def z: Column =
      lit(w(0)) * col("f0") + lit(w(1)) * col("f1") + lit(w(2)) * col("f2") +
        lit(w(3)) * col("f3") + lit(w(4)) * col("f4")
    for (_ <- 1 to iters) {
      val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
      val e = col("y") - p
      val sums = feats.agg(
        sum(floor(e * col("f0") * lit(1e9)).cast("long")),
        sum(floor(e * col("f1") * lit(1e9)).cast("long")),
        sum(floor(e * col("f2") * lit(1e9)).cast("long")),
        sum(floor(e * col("f3") * lit(1e9)).cast("long")),
        sum(floor(e * col("f4") * lit(1e9)).cast("long"))).collect()(0)
      w = Array.tabulate(5)(j => w(j) + lr * (sums.getLong(j) / 1e9 / n))
    }
    val correct = feats.agg(
      sum(when((z > 0.0d) === (col("y") === 1.0d), 1L).otherwise(0L))).collect()(0).getLong(0)
    graft.plans.CheckpointHygiene.free(feats)
    import spark.implicits._
    // rounding happens IN the plan (Spark round == oracle round; a
    // driver-side math.rint would be half-even vs SQL half-up)
    w.toSeq.zipWithIndex
      .map { case (wj, j) => (j.toLong, wj, correct.toDouble / n) }
      .toDF("feature", "weight", "train_acc")
      .select(col("feature"), round(col("weight"), 6).as("weight"),
        round(col("train_acc"), 6).as("train_acc"))
  }

  /** Mixture-weight planning: given per-source mixture weights in
    * per-mille (the tempered mixture spec — alpha-tempering of raw
    * weights is driver-side arithmetic on a handful of sources) and a
    * total token budget, derive per-source token targets and the
    * per-mille sampling rate that hits them. The planning step that
    * feeds [[stratifiedSample]]/[[tokenBudget]] in a Llama/GPT-style
    * data-mixture pipeline.
    *
    * One map-side-combined aggregate over the corpus; everything else
    * is per-source integer algebra (BIGINT div — deterministic, no
    * float summation-order hazards across engines).
    */
  def mixtureWeights(docs: DataFrame, textCol: String, idCol: String,
                     strataCol: String, weightsPerMille: Map[String, Long],
                     totalBudget: Long): DataFrame = {
    val w = weightsPerMille.foldLeft(lit(0L)) {
      case (acc, (stratum, wt)) => when(col(strataCol) === stratum, lit(wt)).otherwise(acc)
    }
    docs
      .select(col(strataCol).as("source"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("weight_pm", w)
      .withColumn("target_tokens", expr(s"($totalBudget * weight_pm) div 1000"))
      .withColumn("rate_pm",
        least(lit(1000L), expr("(target_tokens * 1000) div greatest(n_tokens, 1)")))
  }

  /** Temperature-based mixture weighting — the multilingual/multi-
    * source sampling rule `p_i proportional to n_i^(1/2)` (temperature
    * T = 2, the standard up-weight-the-tail choice of mBERT/XLM-R-
    * style pretraining): per-source token counts, square-root
    * weighting, token targets from `totalBudget`, and the resulting
    * per-mille sampling rate against what the source actually has.
    *
    * Exactness: sqrt is IEEE-754 correctly rounded, so both engines
    * compute the identical double; it is immediately floored into a
    * FIXED-POINT long (x 1e6) so every downstream sum/ratio is exact
    * BIGINT algebra — no cross-source float summation whose result
    * depends on aggregation order. One aggregate (source cardinality
    * rows), one window-free broadcastable total: free at any scale.
    */
  def temperatureMixture(docs: DataFrame, textCol: String, idCol: String,
                         strataCol: String, totalBudget: Long): DataFrame = {
    val bySrc = docs
      .select(col(strataCol).as("source"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("w_fp", floor(sqrt(col("n_tokens").cast("double")) * lit(1e6)).cast("long"))
    val total = bySrc.agg(sum(col("w_fp")).as("w_tot"))
    bySrc.crossJoin(broadcast(total))
      .withColumn("target_tokens",
        expr(s"($totalBudget * w_fp) div greatest(w_tot, 1)"))
      .withColumn("rate_pm",
        least(lit(1000L), expr("(target_tokens * 1000) div greatest(n_tokens, 1)")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_fp"),
        col("target_tokens"), col("rate_pm"))
  }

  /** Exact-k deterministic sample per stratum: the k lowest
    * md5-hash-order documents of each source — "give me exactly 1000
    * inspection docs per domain", reproducibly. Catalyst runs the
    * rank-filter as a partial map-side WindowGroupLimit, so each task
    * forwards at most k rows per stratum before the shuffle.
    */
  def sampleK(docs: DataFrame, idCol: String, strataCol: String,
              k: Int, salt: String = "samplek"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("__h"), col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"), col(strataCol).as("source"),
        idHash(salt, col(idCol)).as("__h"))
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .filter(col("rank_in_source") <= k)
      .select(col("doc_id"), col("source"), col("rank_in_source"))
  }

  /** Weighted exact-k sample per stratum (Efraimidis-Spirakis A-ES):
    * rank by `ln(u) / weight` descending with u an md5-derived uniform
    * in (0,1] — inclusion probability proportional to weight, no RNG
    * state across executors, reproducible under re-runs and corpus
    * growth like [[hashSplit]]. The only float ops are one ln and one
    * division on identical operands in any engine, so the oracle
    * reproduces the ORDER (the keys never leave the plan).
    * Rank-filter runs as map-side WindowGroupLimit like [[sampleK]].
    */
  def weightedSampleK(docs: DataFrame, idCol: String, strataCol: String,
                      weightCol: String, k: Int,
                      salt: String = "wsample"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // 60-bit md5 hash (idHash = 15 hex chars) -> uniform (h+1)/2^60 in
    // (0, 1]; the double rounding is IEEE-identical in either engine
    val u = (idHash(salt, col("doc_id")).cast("double") + 1.0) / lit(1152921504606846976.0)
    val w = Window.partitionBy(col("source")).orderBy(col("__key").desc, col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"), col(strataCol).as("source"),
        col(weightCol).as("weight"))
      .filter(col("weight") > 0) // before the key: ln(u)/0 trips ANSI
      .withColumn("__key", log(u) / col("weight").cast("double"))
      .withColumn("rank_in_source", row_number().over(w).cast("long"))
      .filter(col("rank_in_source") <= k)
      .select(col("doc_id"), col("source"), col("weight"), col("rank_in_source"))
  }

  /** Sequence packing (GPT-style "concat then chunk"): lay the corpus
    * out as one deterministic token stream per shard and cut it into
    * fixed `seqLen`-token training sequences. Each document gets its
    * shard, its start offset in the shard's stream, and the
    * first/last sequence (block) it lands in — exactly the placement
    * map a dataloader needs to pack documents into training batches.
    *
    * Scale shape: the only non-map work is ONE window prefix-sum per
    * shard (hash-order within shard) — shards are independent, so the
    * window parallelizes across `shards` partitions; there is no
    * global ordering bottleneck, which is why real packers shard
    * first. Doc order within a shard is md5-hash order: deterministic,
    * stable under corpus growth of other shards, and uncorrelated
    * with ingest order (the packer's shuffle).
    *
    * Empty documents occupy zero tokens: their start offset is
    * well-defined and `first_block = last_block` = the block at that
    * offset (via `greatest(n,1)` so the arithmetic stays total).
    */
  def packSequences(docs: DataFrame, textCol: String, idCol: String,
                    seqLen: Int, shards: Int, salt: String = "pack"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val start = sum(col("n_tokens")).over(w) - col("n_tokens")
    docs
      .select(col(idCol).as("doc_id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tokens"),
        pmod(idHash(salt, col(idCol)), lit(shards.toLong)).as("shard"),
        idHash(salt + "-ord", col(idCol)).as("__h"))
      .withColumn("start_offset", start)
      // integer `div`, not double `/`: offsets at 100 TB exceed 2^53
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("start_offset"),
        expr(s"start_offset div $seqLen").as("first_block"),
        expr(s"(start_offset + greatest(n_tokens, 1) - 1) div $seqLen").as("last_block"))
      .withColumn("n_blocks", col("last_block") - col("first_block") + 1)
  }
}
