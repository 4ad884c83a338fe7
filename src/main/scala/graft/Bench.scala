package graft

import org.apache.spark.sql.SparkSession

/** Bench harness: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Failures are recorded
  * per-query in an "errors" object (never silently timed — see
  * VERDICT r01). The noop datasource forces full evaluation (count()
  * can short-circuit scans).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder()
      // the generated-class cache (static conf) holds 100 entries by
      // default; a 137-query surface cycles it completely each pass, so
      // EVERY query in a full run recompiles + reloads + re-JITs its
      // codegen classes on every pass while an isolated min-of-3 hits
      // the cache from pass 2 — measured as the r8 "in-run inflation"
      // (q_dedup_insert 2.73 s in-run vs 0.77 s isolated, same sha).
      // Size it for the whole surface so full-run passes see the same
      // warm cache an isolated probe does.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // AQE sizes every post-shuffle stage by coalescing DOWN from the
      // initial partition count — but that initial count defaults to
      // spark.sql.shuffle.partitions (one per core), so a 10x-scale soak
      // shuffle gets one sort buffer per core and spills (measured at
      // local[32]: q_setsim_join 19x on 10x data, ~1e9 candidate rows
      // through 32 partitions). Start shuffles wide and let AQE coalesce small
      // ones back to a few partitions — exactly how a production job
      // sizes itself; small-query overhead is unchanged (coalesced),
      // big shuffles stop spilling.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256"))
      // straggler armor: this box shows rare single-task stalls from
      // host-level page management (zero GC, thread parked 10-40 s —
      // see PLANS.md). The heap is pre-touched (build.sbt); speculation
      // re-launches any task 4x over the stage median so one stalled
      // thread cannot gate a whole query — which is also exactly the
      // posture a real 1000-executor job runs with.
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "1s")
      .config("spark.speculation.multiplier", "2")
      // many stages here have 3-4 tasks: at the default quantile 0.75
      // a single stalled task of 3 blocks speculation forever (2/3 <
      // 0.75); 0.5 lets the healthy majority trigger it
      .config("spark.speculation.quantile", "0.5")
      .config("spark.speculation.efficiency.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // releasing locally-checkpointed blocks between queries emits one
    // WARN per RDD ("lineage has been truncated..."); those lines land
    // directly before the final JSON line and eat the driver's stdout
    // tail capture — silence just that logger
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

    // session/JIT/codegen warmup so the first timed query is not
    // charged for executor + whole-stage-codegen compiler startup;
    // touch both the lineitem agg path and the documents regex/
    // tokenize path (the two codegen families the queries live in)
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .limit(1000).groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    try graft.operators.TextAnalysis.qualityStats(
        spark.read.parquet(s"$sfDir/documents.parquet").limit(200), "text", "doc_id")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // ...and the heaviest family: shingle explode + 12-way min-agg +
    // banded self-join + jaccard verify (codegen classes are keyed by
    // generated source, so the limited variant warms the full query)
    try graft.operators.Dedup.nearDupPairs(
        spark.read.parquet(s"$sfDir/documents.parquet").limit(64), "text", "doc_id")
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // ...and the iterative-rounds family (BPE merge loop): each round
    // compiles fresh codegen classes, so a cold first iterative query
    // gets charged several seconds of JIT (q_bpe spiked 11 s in a full
    // alphabetical run vs 2.3 s isolated); two tiny merge rounds warm
    // the loop's aggregate/join/rewrite shapes
    try graft.operators.Bpe.learn(
        spark.read.parquet(s"$sfDir/documents.parquet").limit(64), "text", merges = 2)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    graft.plans.CheckpointHygiene.releaseAll(spark)

    // ------------------------------------------------------------------
    // SPARK_GRAFT_VS_DUCK=1: the ENGINE half of the 2x-of-single-node
    // measurement (tools/vs_duck.py is the one-command driver). Times
    // the fixed judge comparison set min-of-N, dumps the judged oracle
    // SQL where time_oracle.py expects it, and writes the engine half
    // as JSON for the wrapper to merge. The DuckDB half must run AFTER
    // this JVM exits: timed as a child of the live (even stopped-Spark)
    // JVM, DuckDB measured 5x slower on the heavy rows (q_setsim_join
    // 24.4 s in-JVM vs 4.7 s standalone, same box, same minute) — a
    // distortion in the ENGINE's favor the artifact must not bake in.
    // ------------------------------------------------------------------
    if (sys.env.get("SPARK_GRAFT_VS_DUCK").contains("1")) {
      // the fixed r12+ judge comparison set (PLANS.md "judge comparison
      // set") — keep in lockstep with what VERDICT re-times
      val judged = Seq(
        "q_setsim_join", "q_canonical_pick", "q_curation_full2",
        "q_bloom_join_prune", "q_kmv_setops", "q_boilerplate",
        "q_interval_overlap", "q_pagerank_mass", "q_dup_clusters",
        "q_triangles")
      val vsPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)
      def minWall(name: String): Double = {
        val fn = SparkEntry.queries(name)
        (1 to vsPasses).map { _ =>
          val (_, dt) = GraftSession.timed(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          graft.plans.CheckpointHygiene.releaseAll(spark)
          dt
        }.min
      }
      // box-health probe, same convention as the full bench: a warmed
      // cheap query re-timed start/mid/end; >3x drift = degraded box
      def calibOne(): Double = minWall("q_json_props")
      val calibs = scala.collection.mutable.ArrayBuffer(calibOne())
      val engine = judged.zipWithIndex.map { case (n, i) =>
        if (i == judged.size / 2) calibs += calibOne()
        n -> minWall(n)
      }
      calibs += calibOne()
      val degraded = calibs.max / calibs.min > 3.0
      // dump the judged oracle SQL where time_oracle.py expects it
      val tmp = java.nio.file.Files.createTempDirectory("vs_duck")
      def jq(s: String): String = "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      java.nio.file.Files.writeString(tmp.resolve("oracle_sql.json"),
        SparkEntry.oracleSql.filter(kv => judged.contains(kv._1))
          .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}"))
      val eTot = engine.map(_._2).sum
      def s3(v: Double): String = f"$v%.3f"
      val half = "{\"metric\":\"vs_duck_engine_half\"," +
        s""""value":${s3(eTot)},"unit":"sec","sf":"$sfDir",""" +
        s""""passes":$vsPasses,"degraded":${if (degraded) 1 else 0},""" +
        s""""calib":[${calibs.map(s3).mkString(",")}],""" +
        s""""oracle_dir":"${tmp.toString}",""" +
        s""""engine":{${engine.map { case (k, v) => s""""$k":${s3(v)}""" }.mkString(",")}}}"""
      println(half)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_VS_DUCK_OUT",
          "/tmp/graft_vs_duck_engine.json")), half + "\n")
      spark.stop()
      return
    }

    // EVERY oracle query is timed (round-7 contract: no query invisible
    // to cross-round regression tracking) and every per-query number
    // lands in the bench diag (scratch by default, promoted to the
    // committed bench_diag.json only under SPARK_GRAFT_DIAG_COMMIT=1 —
    // see the write site below). The one-line stdout
    // JSON cannot carry 110+ per-query entries (the caller's tail
    // capture is ~2000 chars; BENCH_r04 recorded parsed=null when the
    // line overflowed), so the printed "queries" object reports the
    // fixed HEADLINE subset below (cross-round comparable back to r3)
    // and "value" stays the headline-set total — "value_all"/"n_all"
    // carry the full-surface aggregate. SPARK_GRAFT_HEADLINE=1 times
    // only the headline set; SPARK_GRAFT_ONLY=a,b restricts further
    // (dev iteration).
    val headline: Set[String] = Set(
      "q1_pricing_summary", "q3_top_revenue_orders", "q5_region_revenue",
      "q_ann_ivf", "q_ann_lsh", "q_closure", "q_corpus_stats",
      "q_curation_full", "q_curation_pipeline", "q_dedup_exact",
      "q_dedup_insert", "q_edit_script", "q_embed_neardup", "q_fingerprint",
      "q_frontier", "q_hourly_rollup", "q_json_props", "q_langid",
      "q_linearize", "q_media_decode", "q_media_transform", "q_multimodal",
      "q_neardup_minhash", "q_ngram_jaccard", "q_replay_affine",
      "q_replay_incremental", "q_replay_per_user", "q_sessionize",
      "q_simhash", "q_simhash_neardup", "q_substitute", "q_text_stats",
      "q_token_count", "q_top_customers", "q_topk_cosine",
      "q_topk_quantized", "q_toposort", "q_winnow",
      // round-4/5 families
      "q_bpe", "q_bpe_encode", "q_chunk_dedup", "q_dup_clusters",
      "q_kmeans", "q_lr_train", "q_perplexity", "q_tfidf", "q_pagerank",
      "q_asof_join", "q_range_join", "q_rolling_features", "q_scd2",
      "q_column_stats", "q_zorder", "q_pack", "q_decontaminate",
      "q_embed_moments", "q_semantic_dedup", "q_token_ids",
      "q_heavy_hitters", "q_data_quality", "q_gap_fill", "q_retention",
      "q_funnel", "q_fuzzy_match",
      // round-5 families
      "q_cube", "q_cdc_apply", "q_chunk_split", "q_triangles", "q_skew",
      "q_winsorize", "q_entropy", "q_neardup_incremental",
      "q_group_topk", "q_kanon", "q_join_size",
      // round-6 families
      "q_shelve_merge", "q_substring_dedup", "q_sql_materialize",
      // round-7 families
      "q_sql_shelve", "q_sql_merge", "q_setsim_join",
      // round-11 re-base (PLANS.md): rounds 8-10 grew a heavy tail the
      // frozen headline never saw — seven of r10's top-10 most
      // expensive queries were invisible to cross-round tracking. The
      // pre-r11 rows above are UNCHANGED, so old headline totals still
      // compare; diffs spanning the re-base compare shared keys only.
      "q_kmv_setops", "q_kmv_sketch_only", "q_ann_pq_learned",
      "q_ann_pq_sampled", "q_ann_ivf_learned", "q_ann_ivf_sampled",
      "q_pagerank_mass", "q_curation_full2", "q_interval_overlap",
      "q_bloom_join_prune", "q_sem_decontam_lsh10",
      "q_ann_index", "q_ann_probe_incremental", "q_kmv_sketch_merge",
      "q_ann_index_learned",
      // round-12 additions whose clean-box cost clears ~1 s: the
      // persisted band-index round-trip. The sketch-merge gates
      // (q_loghist_sketch_merge, q_cms_sketch_merge) stay off the
      // headline — sub-second artifact math.
      "q_neardup_index_probe")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .orElse(if (sys.env.contains("SPARK_GRAFT_HEADLINE")) Some(headline) else None)
    // min of N passes (default 2): this host shows rare 10-40 s
    // single-task stalls (see the speculation comment above) — one
    // stall during the single measured pass charged 15 s to a 1 s
    // query in a round-4-era run. The min is the steady-state number
    // a capacity plan would use; pass 1 additionally absorbs each
    // query's plan/codegen compile.
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt.max(1)

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String]) = {
      val (err, dt) = GraftSession.timed {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          Some(e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").take(160))
        }
      }
      // free checkpoint blocks the query left behind — outside the
      // timed region; accumulation across the run drags GC
      graft.plans.CheckpointHygiene.releaseAll(spark)
      (dt, err)
    }

    // Calibration probe: re-time one fixed cheap query at the START,
    // EVERY ~12 QUERIES (piggybacking the GC point), and at the END.
    // This host's page-management stall window (PLANS.md) can span
    // BOTH measurement passes of a query, so min-of-N cannot detect
    // it — but the probe can: a healthy run re-times the same warmed
    // query within noise, a degraded run shows >3x drift between its
    // fastest and slowest probe. The r10 lesson (BENCH_r10 recorded
    // 12x on the q_se* block with degraded:0) is that THREE probes per
    // run straddle a multi-minute window; one probe per ~12 queries
    // lands on it.
    val calibQuery = "q_json_props"
    val calib = scala.collection.mutable.ArrayBuffer[Double]()
    def probe(): Unit =
      SparkEntry.queries.get(calibQuery).foreach(fn => calib += timeOne(fn)._1)

    // second defense, per-query (BenchGuard): the COMMITTED diag's
    // per-query mins are the cross-round reference — any query whose
    // every pass lands >3x its committed min gets an end-of-run
    // re-probe appended, so one stall window spanning a query's whole
    // pass block cannot be its only observation. Read the reference
    // from git HEAD (the working-tree copy is overwritten by every dev
    // probe run); fall back to the file.
    val refMins: Map[String, Double] = {
      val viaGit =
        try {
          val p = new ProcessBuilder("git", "-C", "/root/repo", "show",
            "HEAD:bench_diag.json").redirectErrorStream(false).start()
          val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
          if (p.waitFor() == 0) Some(out) else None
        } catch { case _: Throwable => None }
      val json = viaGit.getOrElse(
        try new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/root/repo/bench_diag.json")), "UTF-8")
        catch { case _: Throwable => "" })
      BenchGuard.parseRefMins(json, sfDir = Some(sfDir))
    }

    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    // warm the probe query untimed once: its first execution carries
    // plan + codegen compile (~3x the steady state), which would trip
    // the degraded threshold on a perfectly healthy run
    SparkEntry.queries.get(calibQuery).foreach(timeOne)
    probe()
    val firstResults = todo.zipWithIndex.map { case ((name, fn), i) =>
      // periodic driver GC OUTSIDE the timed region: 130+ queries in
      // one JVM accumulate broadcast/shuffle/accumulator state that
      // the ContextCleaner only releases after a GC — without this,
      // late-alphabet queries pay rising GC tax (r7's q_kmeans "2.3x
      // regression" and r8's q_neardup_* run-level spikes, both
      // vanishing when run isolated). The calibration probe runs right
      // after, so the probe series samples the whole run.
      if (i % 12 == 0) { System.gc(); if (i > 0) probe() }
      val first = (1 to passes).map(_ => timeOne(fn))
      // spread-flagged (>3x between passes = a transient stall hit one
      // pass): take an automatic extra pass so the recorded min — and
      // every round-over-round read built on it — never rides a
      // one-off stall with only one clean observation behind it
      // (r9: q_kmv_setops [3.23 s, 16.62 s] in the final run vs
      // [3.07, 2.56] the commit before, same sha)
      val ts0 = first.map(_._1)
      val runs =
        if (passes > 1 && first.forall(_._2.isEmpty) &&
            ts0.max / ts0.min.max(1e-9) > 3.0) first :+ timeOne(fn)
        else first
      (name, runs.map(_._1), runs.flatMap(_._2).headOption)
    }
    probe()
    // end-of-run re-probe of diag-flagged suspects: by now a transient
    // window has usually passed, so the appended pass replaces the
    // stalled min with a clean one; a genuine regression re-measures
    // slow and stays visible (still >3x ref after the extra pass)
    val reprobed = scala.collection.mutable.ArrayBuffer[String]()
    val results = firstResults.map { case (name, vs, err) =>
      if (err.isEmpty && BenchGuard.isSuspect(vs, refMins.get(name))) {
        System.gc()
        reprobed += name
        val extra = SparkEntry.queries.get(name).map(timeOne)
        (name, vs ++ extra.filter(_._2.isEmpty).map(_._1), err)
      } else (name, vs, err)
    }
    // any query STILL >3x its committed min after the re-probe — the
    // judge's cross-round read starts here
    val suspects = results.collect { case (name, vs, None)
      if BenchGuard.isSuspect(vs, refMins.get(name)) =>
        name -> (vs.min / refMins(name)) }
    if (reprobed.nonEmpty) probe()

    // 3-decimal seconds: with 70+ queries a full-precision Double per
    // entry pushed the one-line JSON past the driver's stdout tail
    // capture (BENCH_r04 recorded parsed:null). ~1ms resolution is
    // ample for per-query wall times; keep the line compact.
    def sec(v: Double): String = f"$v%.3f"
    def arr(vs: Seq[Double]): String = vs.map(sec).mkString("[", ",", "]")
    val degraded = calib.nonEmpty && calib.max / calib.min.max(1e-9) > 3.0
    val sha =
      try {
        val repo = java.nio.file.Paths.get("/root/repo/.git")
        val head = new String(java.nio.file.Files.readAllBytes(repo.resolve("HEAD"))).trim
        val full =
          if (head.startsWith("ref: "))
            new String(java.nio.file.Files.readAllBytes(repo.resolve(head.drop(5)))).trim
          else head
        full.take(9)
      } catch { case _: Throwable => "unknown" }

    // stdout line carries the headline subset; the diag file carries all
    // (dev SPARK_GRAFT_ONLY runs report exactly what they timed)
    val headlineResults =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) results
      else results.filter(r => headline.contains(r._1))
    val errsAll = results.collect { case (k, _, Some(e)) => (k, e) }
    // full error text goes to bench_diag.json; the stdout line gets a
    // HARD-capped digest (BENCH_r07 recorded parsed=null because 17
    // uncapped error messages alone overran the ~2000-char tail capture
    // and truncated the JSON mid-object) — at most 8 entries, 40 chars
    // each, plus an honest n_errors count
    val errsDiagJson = if (errsAll.isEmpty) "" else
      s""","errors":${errsAll.map { case (k, e) => s""""$k":"${esc(e)}"""" }.mkString("{", ",", "}")}"""
    val errsJson = if (errsAll.isEmpty) "" else {
      val shown = errsAll.take(8).map { case (k, e) => s""""$k":"${esc(e.take(40))}"""" }
      s""","n_errors":${errsAll.size},"errors":${shown.mkString("{", ",", "}")}"""
    }
    // per-query pass spread >3x = a transient stall absorbed by min-of-N;
    // empty on a healthy run, so it costs nothing in the common case
    val spread = results.collect { case (k, vs, _)
      if vs.size > 1 && vs.max / vs.min.max(1e-9) > 3.0 => s""""$k":${sec(vs.max / vs.min)}""" }
      .take(8)
    val spreadJson = if (spread.isEmpty) "" else s""","spread":${spread.mkString("{", ",", "}")}"""
    // totals cover only queries that RAN: an errored query's fast-fail
    // wall time is not a throughput number, and mixing it in makes the
    // headline incomparable across rounds (VERDICT r07)
    val total = headlineResults.collect { case (_, vs, None) => vs.min }.sum
    val totalAll = results.collect { case (_, vs, None) => vs.min }.sum
    // the caller's stdout tail capture is ~2000 chars (BENCH_r04
    // overflowed it: parsed=null). Budget the per-query object HARD:
    // 2-decimal values, and if the assembled line would still run past
    // ~1900 chars (errors/spread eat headroom), drop the CHEAPEST
    // entries first — the expensive queries are the regression signal,
    // and every dropped value is still in bench_diag.json
    def sec2(v: Double): String = f"$v%.2f"
    // calib is ~14 entries now (one per 12 queries), and the
    // n_reprobed/n_suspect fields ride the line too
    val fixedOverhead = 300 + errsJson.length + spreadJson.length + sfDir.length +
      arr(calib.toSeq).length
    var entries = headlineResults.filter(_._3.isEmpty).sortBy(-_._2.min)
      .map { case (k, vs, _) => s""""$k":${sec2(vs.min)}""" }
    while (entries.map(_.length + 1).sum + fixedOverhead > 1900 && entries.nonEmpty)
      entries = entries.init
    val qs = entries.mkString("{", ",", "}")

    // full per-pass detail is too wide for the one-line contract (the
    // caller's stdout tail capture is ~2000 chars) — write it beside
    // the repo for the judge: every pass of every query, the calibration
    // series, and the commit the numbers belong to
    val diag = results.map { case (k, vs, _) => s""""$k":${arr(vs.toSeq)}""" }.mkString("{", ",", "}")
    // diag-reference defenses (BenchGuard): which queries earned an
    // end-of-run re-probe, and which are STILL >3x their committed min
    // afterwards (ratio vs the reference — a genuine regression or an
    // unresolved host window; either way not a number to trust blind)
    val reprobedJson = if (reprobed.isEmpty) "" else
      s""","reprobed":${reprobed.map(n => s""""$n"""").mkString("[", ",", "]")}"""
    val suspectJson = if (suspects.isEmpty) "" else
      s""","suspect":${suspects.map { case (n, r) => s""""$n":${sec(r)}""" }.mkString("{", ",", "}")}"""
    val diagLine = s"""{"sha":"$sha","sf":"$sfDir","passes":$passes,""" +
      s""""calib":${arr(calib.toSeq)},"degraded":${if (degraded) 1 else 0},""" +
      s""""total_min":${sec(totalAll)},"n_queries":${results.size},""" +
      s""""headline_total":${sec(total)}$reprobedJson$suspectJson,""" +
      s""""passes_per_query":$diag$errsDiagJson}"""
    // scratch by default, the COMMITTED diag only on explicit promote:
    // three rounds of closeout audits found the final bench run
    // overwriting the committed bench_diag.json and leaving the repo
    // dirty — probes and driver runs now land in /tmp, and refreshing
    // the committed BenchGuard reference is a deliberate act
    // (SPARK_GRAFT_DIAG_COMMIT=1 on a run you then commit)
    val diagPath =
      if (sys.env.get("SPARK_GRAFT_DIAG_COMMIT").contains("1"))
        "/root/repo/bench_diag.json"
      else "/tmp/graft_bench_diag.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(diagPath),
      (diagLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }

    // stdout carries the suspect COUNT (full detail in the diag): a
    // nonzero n_suspect on the official artifact says "read the diag
    // before trusting these numbers", which is exactly what BENCH_r10
    // could not say about itself
    println(s"""{"metric":"total","value":${sec(total)},"unit":"sec","value_all":${sec(totalAll)},""" +
      s""""n_all":${results.size},"queries":$qs$errsJson$spreadJson,""" +
      s""""sf":"$sfDir","sha":"$sha","calib":${arr(calib.toSeq)},""" +
      s""""n_reprobed":${reprobed.size},"n_suspect":${suspects.size},""" +
      s""""degraded":${if (degraded) 1 else 0}}""")
    spark.stop()
  }
}
