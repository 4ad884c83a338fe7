package graft

import graft.exvc.{Address, Command, CommandKind}
import graft.operators._
import graft.operators.AnnLifecycle.{IvfPqSpec, IvfSqSpec, Pca, RotatedSpec}
import graft.plans.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see SURVEY.md §7 + VERDICT.md.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2 (or an
  * LLM-pipeline operator) expressed over the driver-generated testdata;
  * [[oracleSql]] holds the equivalent DuckDB SQL. Column names and
  * output types are aligned on both sides (aggregates go through
  * DECIMAL or fixed rounding so the value hash matches exactly).
  */
object SparkEntry {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // layout armor at the single load point (no-op on the contract
    // schema) — the normalizeTs lesson applied to the other tables
    name match {
      case "documents" => graft.sources.TableArmor.documents(df)
      case "embeddings" => graft.sources.TableArmor.embeddings(df)
      case _ => df
    }
  }

  private def pow2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = c * c

  /** Per-process scratch path for queries that stage an artifact:
    * keyed by the dataset dir AND this process's pid, so two
    * concurrent runs (e.g. Verify and a bench probe) over the same
    * data can never interleave one run's overwrite with the other's
    * header-trusted probe. `toUnsignedString` (not math.abs, whose
    * Int.MinValue result is negative) keeps the dir key collision-free.
    * Pid-keyed paths are unique per run, so each is registered for
    * deletion at JVM exit (with any sibling like `.rebuild.old` the
    * query's lifecycle produced) — repeated runs must not grow /tmp
    * without bound.
    */
  private val runTmpPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      runTmpPaths.forEach { base =>
        Seq("", ".rebuild.tmp", ".rebuild.old", ".compact.tmp", ".compact.old")
          .foreach { suf =>
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles()).foreach(_.foreach(rm))
              f.delete(): Unit
            }
            rm(new java.io.File(base + suf))
          }
      }))
  }
  private def runTmp(prefix: String, dir: String): String = {
    val p = s"/tmp/graft_${prefix}_p${ProcessHandle.current.pid}_" +
      Integer.toUnsignedString(dir.hashCode)
    runTmpPaths.add(p)
    p
  }

  /** Flagship: the SURVEY §7.2-step-4 vertical slice — per-user causal
    * replay (linearize + ordered non-commutative fold) on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    EventReplay.replayPerUser(spark, "/root/testdata/sf0.001")

  /** The exvc edit script used by q_edit_script (fixed, so the DuckDB
    * oracle can mirror it with list algebra).
    */
  val editScript: Seq[Command] = Seq(
    Command(Address.Rng(2, 5), CommandKind.Change(Vector("<REDACTED>"))),
    Command(Address.Last, CommandKind.Append(Vector("<EOF>"))),
    Command(Address.Rgx("^b"), CommandKind.Substitute("^b", "B")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- star-schema analytics (bench headliners; Catalyst gets
    // pushdown/broadcast/AQE from the declarative plan) ----
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // decimal arithmetic internally (exact); DOUBLE on the output
          // surface so the driver's float64 canonicalizer hashes cleanly
          expr("CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)").as("sum_qty"),
          expr("CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)").as("sum_base_price"),
          expr("CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    "q3_top_revenue_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("o_orderkey")
        .agg(expr("CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    "q5_region_revenue" -> ((s, dir) => {
      val region = t(s, dir, "region")
      val nation = t(s, dir, "nation")
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .groupBy("r_name")
        .agg(expr("CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)").as("revenue"))
    }),

    // sessionization: 30-min-gap sessions per user (lag boundary +
    // running sum). Computed on the MICROsecond timeline on both sides:
    // DuckDB reads the ns parquet timestamps at us precision, so us is
    // the shared exact domain.
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      EventReplay.loadEvents(s, dir)
        .withColumn("ts_us", expr("ts DIV 1000"))
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
        .withColumn("boundary",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("boundary")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
    }),

    // star-schema window top-k: top-20 customers by revenue
    "q_top_customers" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      ord.join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(expr("CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // JSON scalar surface over the props payload (the reference's one
    // JSON parse lives in its WASM example module)
    "q_json_props" -> ((s, dir) => {
      EventReplay.loadEvents(s, dir)
        .filter(col("event_id") % 10 === 0)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),

    "q_hourly_rollup" -> ((s, dir) => {
      EventReplay.loadEvents(s, dir)
        .groupBy(expr("ts DIV 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").as("cents"))
    }),

    // materialized-view rewrite: the day-grain aggregate below is
    // WRITTEN against the base events table, but the registered
    // optimizer rule re-targets it onto the persisted hourly rollup
    // (count -> sum(cnt), cents-sum -> sum(cents) — exact integer
    // re-aggregation); the oracle recomputes from the base table, so
    // the check proves the rewritten access path returns base-table
    // truth. MvRewriteSpec asserts the plan actually switches.
    "q_mv_rewrite" -> ((s, dir) => {
      val base = EventReplay.loadEvents(s, dir)
      graft.plans.MvRewrite.materializeHourlyMv(s, base, s"$dir/events.parquet",
        runTmp("mv_hourly", dir),
        rewriteGrains = Set(86400000000000L))
      base.groupBy(expr("ts DIV 86400000000000").as("day_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").as("cents"))
    }),

    // ---- esvc core operators over the events table ----
    // OP-5/6/7+13: content-addressed linearized ordered replay
    "q_replay_per_user" -> ((s, dir) => EventReplay.replayPerUser(s, dir)),

    // OP-6 skew-proof variant: affine-algebra replay via two-level
    // ordered reduction (parallel prefix) — a whale entity spanning
    // many partitions no longer serializes on one task
    "q_replay_affine" -> ((s, dir) => AffineReplay.replayPerUser(s, dir)),

    // OP-5/6: distributed state cache — materialize a causal prefix,
    // then fold only the suffix; output must equal the full replay
    "q_replay_incremental" -> ((s, dir) => StateCache.replayIncremental(s, dir)),

    // OP-4 (degenerate per-entity chain): deterministic linearization
    "q_linearize" -> ((s, dir) => EventReplay.linearize(s, dir)
      .select(col("event_id"), col("user_id"), col("seq").cast("long").as("seq"))),

    // SQL front end (GraftSqlParser via spark.sql.extensions): the
    // MATERIALIZE STATE / LINEARIZE EVENTS statements parse to the
    // SAME logical plans as the DataFrame API — oracle-gating them
    // proves the parser round-trip, not just the operator
    "q_sql_materialize" -> ((s, dir) => s.sql(s"MATERIALIZE STATE FROM '$dir'")),
    "q_sql_linearize" -> ((s, dir) =>
      s.sql(s"LINEARIZE EVENTS FROM '$dir'")
        .select(col("event_id"), col("user_id"), col("seq").cast("long").as("seq"))),

    // write-path SQL verbs (GraftSqlParser): shelve 16 substitution
    // events onto a 16-token base datum. The oracle RECOMPUTES the
    // substitution algebra (each event's single-token rewrite, zero
    // minimized deps on an empty frontier) — not a pinned fixture.
    "q_sql_shelve" -> ((s, dir) => {
      val base = (0 until 16).map(i => f"a$i%02d").mkString("|")
      val evs = (0 until 16).map(i => f"a$i%02d->b$i%02d").mkString(",")
      s.sql(s"SHELVE EVENTS '$evs' ONTO '$base'")
    }),

    // SHELVE EVENTS FROM table form (closes VERDICT r07 missing #2):
    // the same 16 events staged as a parquet artifact and shelved by
    // path — proves the persisted-event-set plumbing end-to-end; the
    // oracle recomputes identically to q_sql_shelve
    "q_sql_shelve_from" -> ((s, dir) => {
      import s.implicits._
      val base = (0 until 16).map(i => f"a$i%02d").mkString("|")
      val path = runTmp("sql_shelve_from", dir)
      (0 until 16).map(i => (i.toLong, f"a$i%02d", f"b$i%02d"))
        .toDF("event_idx", "search", "replacement")
        .coalesce(1).write.mode("overwrite").parquet(path)
      s.sql(s"SHELVE EVENTS FROM '$path' ONTO '$base'")
    }),

    // MERGE STATES twin of q_shelve_merge at 16 branches. DERIVED
    // oracle (like q_shelve_merge since r12): a recursive CTE applies
    // the same sequential search->replace semantics the engine's
    // shelve/merge must converge to on this conflict-free event set,
    // so the merged datum is re-derived, not pinned.
    "q_sql_merge" -> ((s, dir) => {
      val base = (0 until 16).map(i => f"a$i%02d").mkString("|")
      val evs = (0 until 16).map(i => f"a$i%02d->b$i%02d").mkString(",")
      s.sql(s"MERGE STATES '$evs' ONTO '$base'")
    }),

    // OP-3: content-addressed dedup insert (ensure_event in bulk).
    // Addressing runs through the native blake2b512 Catalyst
    // expression (the reference's event hash, hash.rs:77-85) inside
    // whole-stage codegen: the dedup window + anti-join key on the
    // blake2b address. The output carries a sha256 twin of the same
    // content so DuckDB (which has no blake2b) value-checks identical
    // grouping/anti-join semantics.
    "q_dedup_insert" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val ev = EventReplay.loadEvents(s, dir)
        .withColumn("content", concat_ws("|", col("event_type"),
          expr("CAST(CAST(round(value * 100) AS BIGINT) AS STRING)"), col("props")))
        .withColumn("addr", expr("blake2b512(encode(content, 'UTF-8'))"))
        .withColumn("content_hash", sha2(col("content"), 256))
      val incoming = ev.filter(col("event_id") % 3 === 0).select("addr", "content_hash", "event_id")
      val existing = ev.filter(col("event_id") % 3 =!= 0).select("addr")
      GraphOps.dedupInsert(existing, incoming, "addr", "event_id")
        .select(col("content_hash"), col("event_id").as("keep_event_id"))
    }),

    // OP-1: transitive closure. The dep relation here is functional
    // (one dep per event, like per-entity causal chains), so the
    // log2(depth)-round pointer-doubling path applies; the general-DAG
    // BFS fixpoint (GraphOps.closure) is exercised in GraphOpsSpec.
    "q_closure" -> ((s, dir) => {
      val ids = EventReplay.loadEvents(s, dir).select(col("event_id").as("id"))
      val edges = ids.filter(col("id") > 0).select(col("id"), expr("id DIV 2").as("dep"))
      val seeds = ids.filter(col("id") % 97 === 0)
      GraphOps.closureFunctional(seeds, edges)
    }),

    // OP-2: frontier/antichain compression (anti-join)
    "q_frontier" -> ((s, dir) => {
      val ev = EventReplay.loadEvents(s, dir).filter(col("user_id") % 7 === 0)
      val state = ev.select(col("event_id").as("id"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = ev.select(col("event_id").as("id"), lag(col("event_id"), 1).over(w).as("dep"))
        .filter(col("dep").isNotNull)
      GraphOps.frontier(state, edges)
    }),

    // OP-4: deterministic topological rounds (= dependency depth).
    // Functional dep relation -> pointer-doubling depth; the general
    // Kahn-rounds operator (GraphOps.topoRounds) is exercised in
    // GraphOpsSpec (incl. cycle detection).
    "q_toposort" -> ((s, dir) => {
      val nodes = EventReplay.loadEvents(s, dir)
        .filter(col("event_id") < 3000).select(col("event_id").as("id"))
      val edges = nodes.filter(col("id") > 0).select(col("id"), expr("id DIV 2").as("dep"))
      GraphOps.topoDepthFunctional(nodes, edges).select(col("id"), col("round").cast("long").as("round"))
    }),

    // OP-9/OP-11 at bench scale: shelve-based dependency inference and
    // the O(n^2)-by-design merge (the reference's headline feature,
    // README.md:5-6; workcache.rs:419-479) as a MEASURED surface, not
    // just a ScalaTest one. 48 divergent single-edit branches are
    // re-shelved onto a growing common frontier; each round's
    // commutation tests fan out over executors as ONE batch job
    // (plans/ShelveSpark.tester), so what this times is the real
    // orchestration shape: driver-sequential shelve, distributed
    // independence testing. Everything is content-addressed and the
    // engine is pure, so the merged datum is bit-deterministic — the
    // oracle pins it exactly. PINNED oracle: a fixture-outcome check
    // (DuckDB cannot run shelve/merge), not an independent
    // recomputation — see PLANS.md "Pinned oracles".
    "q_shelve_merge" -> ((s, dir) => {
      import s.implicits._
      import scala.collection.immutable.{SortedMap, SortedSet}
      val k = 48
      val base = (0 until k).map(i => f"a$i%02d").mkString("|")
      val g = new graft.core.EventGraph[graft.core.SearArg](graft.core.SearEngine)
      val w = new graft.core.WorkCache[graft.core.SearArg, String](
        graft.core.SearEngine, base,
        Some(graft.plans.ShelveSpark.tester(s, graft.core.SearEngine)),
        Some(graft.plans.ShelveSpark.baseBuilder(s, graft.core.SearEngine)),
        Some(graft.plans.ShelveSpark.fusedTester(s, graft.core.SearEngine)))
      var states = SortedSet.empty[String]
      (0 until k).foreach { i =>
        states += w.shelveEvent(g, SortedSet.empty[String], 0,
          graft.core.SearArg(f"a$i%02d", f"b$i%02d")).get
      }
      w.tryMerge(g, states)
      val minimized = SortedSet.from(g.foldState(
        SortedMap.from(states.iterator.map(_ -> false)), expand = false).keysIterator)
      val (dat, tt) = w.materialize(g, minimized)
      Seq((dat, g.events.size.toLong, tt.size.toLong))
        .toDF("final_datum", "n_events", "n_applied")
    }),

    // ---- LLM-pipeline: dedup family over documents ----
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")),

    "q_neardup_minhash" -> ((s, dir) =>
      Dedup.nearDupPairs(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, bands = 6, rows = 2, threshold = 0.4)),

    // temperature (T=2) mixture weighting: sqrt token-mass weights in
    // fixed-point, BIGINT target/rate algebra (oracle bit-exact)
    "q_temp_mixture" -> ((s, dir) =>
      Curation.temperatureMixture(t(s, dir, "documents"), "text", "doc_id",
        "source", totalBudget = 100000L)),

    // SQL-verb twins of the two dedup headliners (GraftSqlParser
    // curation verbs) — same parameters, same oracles, zero drift
    "q_sql_dedup" -> ((s, dir) => s.sql(s"DEDUP DOCUMENTS FROM '$dir'")),
    "q_sql_neardup" -> ((s, dir) => s.sql(s"NEARDUP DOCUMENTS FROM '$dir'")),
    "q_sql_decontaminate" -> ((s, dir) => s.sql(s"DECONTAMINATE DOCUMENTS FROM '$dir'")),

    // the ANN lifecycle as SQL verbs: BUILD writes + stamps the
    // persisted index, PROBE searches it header-trusted — same
    // split/parameters as q_ann_probe_incremental, so this statement
    // chain reuses that query's oracle verbatim. (REBUILD ANN INDEX
    // IF NEEDED is exercised in GraftSqlSurfaceSpec, not here: an
    // audit that trips would retrain data-seeded and legitimately
    // diverge from the salted-default oracle.)
    "q_sql_ann_probe" -> ((s, dir) => {
      val path = runTmp("sql_ann_index", dir)
      s.sql(s"BUILD ANN INDEX FROM '$dir' AT '$path'").collect()
      s.sql(s"PROBE ANN INDEX '$path' FROM '$dir'")
    }),

    // the encoding clause: BUILD ... USING SQ8 writes the scalar-
    // quantized artifact; PROBE has no USING — it dispatches on the
    // artifact's OWN header kind (encoding is an artifact property)
    "q_sql_ann_sq_probe" -> ((s, dir) => {
      val path = runTmp("sql_ann_sq", dir)
      s.sql(s"BUILD ANN INDEX FROM '$dir' AT '$path' USING SQ8").collect()
      s.sql(s"PROBE ANN INDEX '$path' FROM '$dir'")
    }),

    // USING RESIDUAL: the Faiss-default residual encoding through the
    // same verb pair; the probe reads residual=true from the header
    "q_sql_ann_res_probe" -> ((s, dir) => {
      val path = runTmp("sql_ann_res", dir)
      s.sql(s"BUILD ANN INDEX FROM '$dir' AT '$path' USING RESIDUAL").collect()
      s.sql(s"PROBE ANN INDEX '$path' FROM '$dir'")
    }),

    // the filtered-search verb: ALLOWING takes ordinary SQL over the
    // embeddings table, its admitted ids become the allowed set —
    // shares q_ann_probe_filtered's oracle (same index split, same
    // predicate)
    "q_sql_ann_probe_filtered" -> ((s, dir) => {
      val path = runTmp("sql_ann_filt", dir)
      s.sql(s"BUILD ANN INDEX FROM '$dir' AT '$path'").collect()
      s.sql(s"PROBE ANN INDEX '$path' FROM '$dir' ALLOWING vec_id % 5 <= 1")
    }),

    // the deletion lifecycle as SQL verbs: DELETE tombstones the ids
    // the predicate admits (the ALLOWING seam), VACUUM makes them
    // physical (verified rewrite + atomic swap + sidecar cleared),
    // and the probe answers from the folded generation — shares
    // q_ann_delete's oracle (ids outside the artifact's slice are
    // admitted and fold as zero rows, by design)
    "q_sql_ann_delete" -> ((s, dir) => {
      val path = runTmp("sql_ann_del", dir)
      s.sql(s"BUILD ANN INDEX FROM '$dir' AT '$path'").collect()
      s.sql(s"DELETE FROM ANN INDEX '$path' FROM '$dir' WHERE vec_id % 7 = 1").collect()
      s.sql(s"VACUUM ANN INDEX '$path'").collect()
      s.sql(s"PROBE ANN INDEX '$path' FROM '$dir'")
    }),

    // duplicate CLUSTERS: connected components (star contraction) over
    // the near-dup pair graph, one canonical survivor per component
    "q_dup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, bands = 6, rows = 2, threshold = 0.4)),

    // quality-aware survivorship: per cluster keep the highest-quality
    // member, not the arbitrary min-id canonical
    "q_canonical_pick" -> ((s, dir) =>
      Dedup.canonicalPick(t(s, dir, "documents"), "text", "doc_id",
        shingleN = 3, bands = 6, rows = 2, threshold = 0.4)),

    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      Dedup.ngramJaccard(docs, pairs, "text", "doc_id", n = 2)
    }),

    // asymmetric containment |A∩B|/|A| over the same pair list: stays
    // high when a short doc is quoted inside a long one (Jaccard ~0)
    "q_ngram_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
      Dedup.ngramContainment(docs, pairs, "text", "doc_id", n = 2)
    }),

    "q_simhash" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))),

    // winnowing (MOSS) fingerprints: aggregated per doc so the output
    // stays compact — the full set is what q-grams share detection uses.
    // winnowSummary keeps the aggregate inside the row (array algebra),
    // so the plan is scan -> project with zero exchange.
    "q_winnow" -> ((s, dir) =>
      Dedup.winnowSummary(t(s, dir, "documents"), "text", "doc_id")),

    "q_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(t(s, dir, "documents"), "text", "doc_id")),

    "q_fingerprint" -> ((s, dir) =>
      Dedup.fingerprint(t(s, dir, "documents"), "text", "doc_id", w = 5)),

    // ---- LLM-pipeline: text analysis ----
    "q_text_stats" -> ((s, dir) =>
      TextAnalysis.qualityStats(t(s, dir, "documents"), "text", "doc_id")),

    "q_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "text", "doc_id")),

    "q_langid" -> ((s, dir) =>
      TextAnalysis.langId(t(s, dir, "documents"), "text", "doc_id")),

    // Unicode normalization gate: plant decomposed accents + a control
    // char + double spaces on the doc_id % 7 grid (same augmentation in
    // the oracle), then NFC + control strip + whitespace collapse; the
    // oracle RECOMPUTES via DuckDB's independent nfc_normalize
    "q_normalize" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit("Cafe\u0301 \u0007 "), col("text"))).otherwise(col("text")))
      TextAnalysis.normalizeText(aug, "text", "doc_id")
    }),

    // Gopher-style repetition signals — zero-shuffle fold over sorted
    // per-doc gram arrays (see TextAnalysis.repetitionStats)
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "text", "doc_id")),

    // top-3 TF-IDF terms per document (corpus DF reuses the TF table)
    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidf(t(s, dir, "documents"), "text", "doc_id", topK = 3)),

    // BM25 keyword retrieval: top-10 docs per query, fixed-point
    // per-term contributions (exact distributed sums)
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        queries = Seq((0L, "spark join window"), (1L, "hash merge batch"),
          (2L, "stream filter sort value"), (3L, "table scan agg")), k = 10)),

    // BPE vocabulary learning: 10 merge rounds over the word-frequency
    // vocab (corpus scanned once; rounds run on the distinct-word table)
    "q_bpe" -> ((s, dir) =>
      Bpe.learn(t(s, dir, "documents"), "text", merges = 10)),

    // BPE tokenizer APPLY: the 10 learned merges applied to the vocab,
    // corpus scored by a word -> symbol-count join
    "q_bpe_encode" -> ((s, dir) =>
      Bpe.encode(t(s, dir, "documents"), "text", "doc_id", merges = 10)),

    // PII scrub over deterministically augmented text (the corpus is
    // synthetic word soup with no PII, so the query plants emails/IPs/
    // phone numbers on a doc_id grid — the SAME augmentation runs in
    // the oracle, so match counts and redaction are fully exercised)
    "q_pii" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text2", concat(
        col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".17 up"))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call +1-415-555-"),
            lpad((col("doc_id") % 100).cast("string"), 4, "0"),
            lit(" ok"))).otherwise(lit(""))))
      TextAnalysis.piiScrub(aug, "text2", "doc_id")
    }),

    // ---- LLM-pipeline: curation beyond dedup ----
    // benchmark decontamination: contamination scores of the corpus
    // (doc_id % 50 != 3) against a held-out "test set" (% 50 == 3);
    // flagged = sharing >= 3 distinct word-3-grams with any test doc
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contamination(
        docs.filter(col("doc_id") % 50 =!= 3),
        docs.filter(col("doc_id") % 50 === 3),
        "text", "doc_id", n = 3)
        .filter(col("n_overlap") >= 3)
    }),

    // deterministic md5 train/val/test split (90/5/5)
    "q_hash_split" -> ((s, dir) =>
      Curation.hashSplit(t(s, dir, "documents"), "doc_id")),

    // deterministic stratified sampling with per-source rates
    // (the domain-mixture lever: 50% src0, 25% src1, 5% src2, 10% rest)
    "q_stratified" -> ((s, dir) =>
      Curation.stratifiedSample(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 500, "src1" -> 250, "src2" -> 50), defaultPerMille = 100)
        .select(col("doc_id"), col("source"))),

    // token-budget mixing: per-source token budgets, docs taken in
    // deterministic hash order until the stratum budget is exhausted
    "q_token_budget" -> ((s, dir) =>
      Curation.tokenBudget(t(s, dir, "documents"), "text", "doc_id", "source",
        Map("src0" -> 3000L, "src1" -> 1500L), defaultBudget = 800L)),

    // output shard manifest: deterministic shard assignment + the
    // per-shard stats (counts, token totals, order-free checksum)
    "q_shards" -> ((s, dir) =>
      Curation.shardManifest(t(s, dir, "documents"), "text", "doc_id", shards = 16)),

    // DSIR importance scores: target LM = src0 documents, background =
    // whole corpus; fixed-point per-term contributions
    "q_dsir" -> ((s, dir) =>
      Curation.dsirScores(t(s, dir, "documents"), "text", "doc_id",
        col("source") === "src0")),

    // cross-doc duplication coverage via shared winnow fingerprints
    "q_dup_coverage" -> ((s, dir) =>
      Dedup.dupCoverage(t(s, dir, "documents"), "text", "doc_id")),

    // C4-style chunk-level exact dedup: tumbling 10-word chunks,
    // corpus-wide keep-first, documents reassembled from survivors
    "q_chunk_dedup" -> ((s, dir) =>
      Curation.chunkDedup(t(s, dir, "documents"), "text", "doc_id", chunkWords = 10)),

    // ExactSubstr-style duplicated-SPAN removal (Lee et al. 2022):
    // sliding 8-token windows, global keep-first, overlapping dup
    // windows merged to maximal spans, docs reassembled
    "q_substring_dedup" -> ((s, dir) =>
      Curation.substringDedup(t(s, dir, "documents"), "text", "doc_id", k = 8)),

    // incremental ExactSubstr: the doc_id % 5 == 0 batch deduped
    // against the rest of the corpus's persistable gram index — prior
    // owns every shared gram's first occurrence, batch keeps first
    // within itself
    "q_substring_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.substringDedupAgainst(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "text", "doc_id", k = 8)
    }),

    // boilerplate chunk strip: a planted 10-word banner on the
    // doc_id % 3 grid exceeds the doc-frequency cap and is deleted
    // from EVERY copy (same augmentation in the oracle)
    "q_boilerplate" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(lit("subscribe to our newsletter today for updates and special offers "),
            col("text")))
          .otherwise(col("text")))
      Curation.boilerplateStrip(aug, "text", "doc_id", chunkWords = 10, maxDocFreq = 5L)
    }),

    // Bloom-filter incremental dedup: the "already ingested" batch is
    // doc_id % 3 != 0 PLUS the % 9 == 0 slice of the probe set, so true
    // hits (re-ingested docs), misses, and — at larger sf — false
    // positives are all exercised (m=2^16, k=3)
    "q_bloom_dedup" -> ((s, dir) =>
      Curation.bloomDedup(t(s, dir, "documents"), "text", "doc_id",
        priorPred = (col("doc_id") % 3 =!= 0) || (col("doc_id") % 9 === 0),
        probePred = col("doc_id") % 3 === 0,
        mBits = 1 << 16, k = 3)),

    // fixed-weight linear quality classifier (logit + keep decision)
    "q_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "text", "doc_id")),

    // GPT-style sequence packing: per-shard hash-order token stream
    // cut into 512-token blocks; per-doc placement map
    "q_pack" -> ((s, dir) =>
      Curation.packSequences(t(s, dir, "documents"), "text", "doc_id",
        seqLen = 512, shards = 8)),

    // CCNet-style perplexity filter: bigram LM trained on src0,
    // add-one smoothed, keep iff cross-entropy <= 7 nats/token
    "q_perplexity" -> ((s, dir) =>
      TextAnalysis.perplexityFilter(t(s, dir, "documents"), "text", "doc_id",
        isTrain = col("source") === "src0", thresholdNats = 7.0)),

    // URL blocklist filter over a deterministic URL grid (the corpus
    // has no url column; the SAME augmentation runs in the oracle)
    "q_url_filter" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("url", concat(
        lit("https://"),
        when(col("doc_id") % 4 === 0, "www").when(col("doc_id") % 4 === 1, "blog")
          .when(col("doc_id") % 4 === 2, "cdn").otherwise("shop"),
        lit("."),
        when(col("doc_id") % 5 === 0, "spamsite.com").when(col("doc_id") % 5 === 1, "example.org")
          .when(col("doc_id") % 5 === 2, "adfarm.net").when(col("doc_id") % 5 === 3, "news.io")
          .otherwise("example.com"),
        lit("/p/"), col("doc_id").cast("string")))
      Curation.urlFilter(aug, "url", "doc_id",
        Seq("spamsite.com", "adfarm.net", "cdn.example.com"))
    }),

    // HTML text extraction over deterministically wrapped documents
    "q_html_extract" -> ((s, dir) => {
      val aug = t(s, dir, "documents").withColumn("html", concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><p class=\"intro\">"), col("text"), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<a href=\"https://example.com/p/"), col("doc_id").cast("string"),
            lit("\">more &amp; more</a>"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("<script>var x = 1;</script>")).otherwise(lit("")),
        lit("<p>tail &lt;ok&gt;</p></body></html>")))
      TextAnalysis.htmlExtract(aug, "html", "doc_id")
    }),

    // quality-classifier TRAINING: 3 GD rounds, labels = src0 docs,
    // rational-sigmoid logistic model, fixed-point gradient sums
    "q_lr_train" -> ((s, dir) =>
      Curation.trainQualityLr(t(s, dir, "documents"), "text", "doc_id",
        isPositive = col("source") === "src0", iters = 3, lr = 0.5)),

    // mixture planning: weights 500/300/150/50 permille, 1M-token budget
    "q_mixture" -> ((s, dir) =>
      Curation.mixtureWeights(t(s, dir, "documents"), "text", "doc_id", "source",
        Map("src0" -> 500L, "src1" -> 300L, "src2" -> 150L, "src3" -> 50L),
        totalBudget = 1000000L)),

    // mergeable histogram quantiles (the at-scale percentile): 8-wide
    // bins over token counts, p25/p50/p75/p90 per source
    "q_hist_quantiles" -> ((s, dir) =>
      TextAnalysis.histQuantiles(t(s, dir, "documents"), "text", "doc_id", "source",
        binWidth = 8, quantilesPermille = Seq(250, 500, 750, 900))),

    // linear-counting distinct sketch per source (deterministic
    // cardinality estimation) + the exact count as accuracy report
    "q_distinct_sketch" -> ((s, dir) =>
      TextAnalysis.distinctSketch(t(s, dir, "documents"), "text", "source", m = 65536)),

    // KMV set operations: per source-pair union/intersection/Jaccard
    // estimates from k=256-row sketches ALONE (no corpus join) + the
    // exact overlap as accuracy audit — "how many distinct shingles do
    // two crawls share" answered from two tiny persisted artifacts.
    // 3-gram shingles as the item domain (the corpus vocabulary is
    // template-bounded; shingle cardinality exceeds k, so the
    // (k-1)*M/h_k estimator branch — not the small-set fallback — is
    // what the oracle gates)
    "q_kmv_setops" -> ((s, dir) =>
      Sketches.kmvSetOps(t(s, dir, "documents"), "text", "source",
        k = 256, shingleN = 3)),

    // the ARTIFACT path: the same set-operation estimates computed
    // from the persisted k-row sketch rows ALONE — kmvSketch builds
    // the artifact (in production: yesterday's job), then
    // kmvSetOpsFromSketches answers union/intersection/Jaccard with
    // NO corpus access; at 100 TB this is the difference between a
    // broadcast join over kilobytes and a re-scan of two crawls
    "q_kmv_sketch_only" -> ((s, dir) =>
      Sketches.kmvSetOpsFromSketches(
        Sketches.kmvSketch(t(s, dir, "documents"), "text", "source",
          k = 256, shingleN = 3), k = 256)),

    // ARTIFACT MERGE: two half-corpus sketches (doc_id parity as two
    // crawl days) min-merged into one — KMV mergeability is exact, so
    // the oracle rebuilds the sketch from the WHOLE corpus and the
    // merged artifact must match it bit for bit; at 100 TB this is
    // how daily k-row artifacts roll up with zero history re-scan
    "q_kmv_sketch_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Sketches.kmvMergeSketches(
        Sketches.kmvSketch(docs.filter(col("doc_id") % 2 === 0), "text", "source",
          k = 256, shingleN = 3),
        Sketches.kmvSketch(docs.filter(col("doc_id") % 2 =!= 0), "text", "source",
          k = 256, shingleN = 3),
        k = 256)
        .select(col("source"), col("h"), col("rn").cast("long").as("rn"),
          col("k").cast("long").as("k"))
    }),

    // log-spaced (relative-error) quantile histogram over lineitem
    // price cents per returnflag: 8 sub-buckets per octave, mergeable
    // by addition, exact integer bucket algebra (HDR/DDSketch shape)
    "q_loghist_quantiles" -> ((s, dir) =>
      Sketches.logHistQuantiles(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents")),
        "cents", "l_returnflag", Seq(250, 500, 750, 990))),

    // day-over-day QUANTILE rollup gated by the mergeability theorem
    // itself: two half-corpus log-histogram sketches merged by
    // addition must equal the full-corpus histogram DuckDB rebuilds
    // from raw rows — every stored bucket of the merged artifact
    // checked (the q_kmv_sketch_merge convention for the quantile
    // family; quantile DERIVATION from a sketch is gated through
    // q_loghist_quantiles, which is literally the
    // sketch -> quantiles composition)
    "q_loghist_sketch_merge" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_orderkey"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      def half(even: Boolean) = Sketches.logHistSketch(
        li.filter(if (even) col("l_orderkey") % 2 === 0 else col("l_orderkey") % 2 =!= 0),
        "cents", "l_returnflag")
      Sketches.logHistMergeSketches(half(even = true), half(even = false))
    }),

    // HyperLogLog distinct sketch per source + a `__union__` row
    // max-merged from the per-source registers alone (the cross-shard
    // merge path); exact counts ride along as the accuracy report
    "q_hll_distinct" -> ((s, dir) =>
      Sketches.hllDistinct(t(s, dir, "documents"), "text", "source", b = 10)),

    // corpus-wide top-20 word bigrams with deterministic ties
    "q_top_ngrams" -> ((s, dir) =>
      TextAnalysis.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 20)),

    // exactly 25 hash-order docs per source
    "q_sample_k" -> ((s, dir) =>
      Curation.sampleK(t(s, dir, "documents"), "doc_id", "source", k = 25)),

    // vocab-id encoding: top-100 word vocab, OOV = 0, space-joined ids
    "q_token_ids" -> ((s, dir) =>
      TextAnalysis.tokenIds(t(s, dir, "documents"), "text", "doc_id", vocabSize = 100)),

    // corpus snapshot diff: old = %11 slice with edits on %7, new = %13 slice
    "q_corpus_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val old = d.filter(col("doc_id") % 11 =!= 0).withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" OLD"))).otherwise(col("text")))
      val nw = d.filter(col("doc_id") % 13 =!= 0)
      Curation.snapshotDiff(old, nw, "text", "doc_id")
    }),

    // exact corpus length quantiles per source (linear interpolation —
    // the same type-7 definition DuckDB's quantile_cont uses)
    "q_length_quantiles" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 6).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 6).as("p99"))),

    // SemDeDup-shape semantic dedup over embeddings: IVF-clustered
    // candidates, exact-cosine verify, keep lowest id per near-pair
    "q_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(t(s, dir, "embeddings"), tau = 0.3, dim = 64)
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"))),

    // distributed Lloyd's k-means (3 rounds, fixed-point integer mean
    // sums for bit-reproducible distributed aggregation)
    "q_kmeans" -> ((s, dir) =>
      Similarity.kmeans(t(s, dir, "embeddings"), k = 8, iters = 3, dim = 64)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          col("score"))),

    // cluster-balanced sampling: kmeans topic clusters + deterministic
    // per-cluster hash-order quota — the diversification stage that
    // stops dominant topics keeping their share through quality gates;
    // re-run/growth-stable, quota prefixes nest
    "q_cluster_sample" -> ((s, dir) =>
      Similarity.clusterBalancedSample(t(s, dir, "embeddings"),
          k = 8, iters = 3, dim = 64, perCluster = 25)
        .select(col("cluster_id").cast("long").as("cluster_id"),
          col("vec_id"), col("pick_rank"))),

    // OP-21 sear + OP-16 substitute as text operators
    "q_substitute" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        ExvcColumns.sear(ExvcColumns.sear(col("text"), "spark", "SPARK"), "data", "DATA").as("text"))),

    // OP-14/15/16: a full exvc edit script over the word-array view.
    // The words array is materialized behind a projection boundary so
    // the script's many references don't re-tokenize per use.
    "q_edit_script" -> ((s, dir) => {
      val withWords = t(s, dir, "documents")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("words"))
      withWords.select(col("doc_id"),
        concat_ws(" ", ExvcColumns.applyScript(col("words"), editScript)).as("text"))
    }),

    // ---- composed curation pipeline: language gate -> quality gate
    // -> exact dedup -> survivors (the end-to-end shape a user chains
    // the operators into) ----
    "q_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // fused single-scan gate: lang + quality thresholds in one
      // projection — 1 corpus read instead of 3
      // the gate's tokenize/marker/stopword projection is the heavy
      // pre-shuffle map stage — spread a too-few-splits scan first
      // (no-op on production multi-split inputs)
      val eligible = TextAnalysis.curationGate(
        Par.spread(docs.select(col("doc_id"), col("text"))), "text", "doc_id",
        minMarkers = 3, minWords = 30, maxStopRatio = 0.3)
      Dedup.exact(eligible, "text", "doc_id")
        .select(col("keep_id").as("doc_id"), col("content_hash"))
    }),

    // the FULL curation shape: the exact-dedup winners additionally go
    // through near-dup removal (minhash-LSH pairs; greedy keep-lowest-id
    // policy — drop every doc_b of a verified pair). This ordering is
    // the scale contract: exact dedup first collapses identical docs so
    // near-dup's hot-bucket exposure shrinks before banding
    "q_curation_full" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // fused single-scan gate (lang + quality in one projection)
      // the gate's tokenize/marker/stopword projection is the heavy
      // pre-shuffle map stage — spread a too-few-splits scan first
      // (no-op on production multi-split inputs)
      val eligible = TextAnalysis.curationGate(
        Par.spread(docs.select(col("doc_id"), col("text"))), "text", "doc_id",
        minMarkers = 3, minWords = 30, maxStopRatio = 0.3)
      // winners feeds BOTH the near-dup candidate generation and the
      // final anti-join — checkpoint once or the gate + exact-dedup
      // subtree runs twice
      val winners = Dedup.exact(eligible, "text", "doc_id")
        .select(col("keep_id").as("doc_id"), col("content_hash"))
        .localCheckpoint(eager = false)
      val winnerDocs = docs.join(winners.select("doc_id"), "doc_id")
      val drop = Dedup.nearDupPairs(winnerDocs, "text", "doc_id",
          shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
        .select(col("doc_b").as("doc_id")).distinct()
      winners.join(drop, Seq("doc_id"), "left_anti")
    }),

    // the curation pipeline a pretraining run actually ships: v1's
    // gate -> exact-dedup -> near-dup chain EXTENDED with the two
    // decontamination stages — n-gram overlap vs the held-out docs
    // (broadcast gram set, one corpus pass) and the sign-LSH semantic
    // pass (bucketed candidates, bench bucket table broadcast) — both
    // at their measured sub-second cost. Held-out docs (% 50 == 3)
    // that leak through the quality/dedup stages are dropped HERE,
    // which is the pipeline's self-cleaning property
    "q_curation_full2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the gate's tokenize/marker/stopword projection is the heavy
      // pre-shuffle map stage — spread a too-few-splits scan first
      // (no-op on production multi-split inputs)
      val eligible = TextAnalysis.curationGate(
        Par.spread(docs.select(col("doc_id"), col("text"))), "text", "doc_id",
        minMarkers = 3, minWords = 30, maxStopRatio = 0.3)
      val winners = Dedup.exact(eligible, "text", "doc_id")
        .select(col("keep_id").as("doc_id"), col("content_hash"))
        .localCheckpoint(eager = false)
      val winnerDocs = docs.join(winners.select("doc_id"), "doc_id")
      val nearDrop = Dedup.nearDupPairs(winnerDocs, "text", "doc_id",
          shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
        .select(col("doc_b").as("doc_id")).distinct()
      val surv = winners.join(nearDrop, Seq("doc_id"), "left_anti")
      val bench = docs.filter(col("doc_id") % 50 === 3)
      val survDocs = docs.join(surv.select("doc_id"), "doc_id")
      // n-gram decontamination of the survivors; the id list feeds
      // BOTH the semantic corpus and the final cut — checkpoint once
      val clean1 = Curation.decontaminate(survDocs, bench, "text", "doc_id",
          n = 3, minOverlap = 3)
        .select("doc_id").localCheckpoint(eager = false)
      val emb = t(s, dir, "embeddings")
      val semFlag = Similarity.semanticContaminationLsh(
          emb.join(clean1.withColumnRenamed("doc_id", "vec_id"), "vec_id"),
          emb.filter(col("vec_id") % 50 === 3), threshold = 0.3, dim = 64)
        .select(col("vec_id").as("doc_id"))
      surv.join(clean1, Seq("doc_id"), "left_semi")
        .join(semFlag, Seq("doc_id"), "left_anti")
    }),

    "q_corpus_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("source"), Dedup.tokens(col("text")).as("toks"), col("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).cast("long").as("total_tokens"),
          expr("CAST(sum(n_chars) AS BIGINT)").as("total_chars"))
    }),

    // ---- LLM-pipeline: embedding similarity ----
    "q_topk_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.topKCosine(emb, emb.filter(col("vec_id") < 8).limit(64), k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("score"))
    }),

    // embedding-cosine near-dup dedup: LSH-bucketed candidates +
    // exact-cosine verify; oracle mirrors the full bucket algebra
    // (hyperplanes are SQL-derivable)
    "q_embed_neardup" -> ((s, dir) =>
      Similarity.embedNearDup(t(s, dir, "embeddings"), threshold = 0.3, dim = 64)),

    // semantic decontamination: corpus vectors (98%) scored against a
    // broadcast "benchmark" slice (vec_id % 50 == 3); flags best-match
    // cosine >= 0.3 — catches paraphrased leakage n-grams miss
    "q_sem_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticContamination(
        emb.filter(col("vec_id") % 50 =!= 3),
        emb.filter(col("vec_id") % 50 === 3), threshold = 0.3)
    }),

    // the scale path: LSH-bucketed candidates (corpus meets only
    // same-bucket bench vectors — the brute-force form went 37x on the
    // 10x soak); the bucket algebra is oracle-mirrored like q_ann_lsh
    "q_sem_decontam_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticContaminationLsh(
        emb.filter(col("vec_id") % 50 =!= 3),
        emb.filter(col("vec_id") % 50 === 3), threshold = 0.3, dim = 64)
    }),

    // the 100 TB-SHAPED configuration of the same operator: planes is
    // sign-LSH's nlist and must scale ~log2(corpus) — the 100x soak
    // measured planes=6 at 130 s where planes=10 took 15.6 s on
    // identical data (PLANS.md round 9). planes and tables scale
    // JOINTLY: deeper buckets cut per-table recall at any fixed
    // cosine (agreement^planes), so tables rises to hold detection —
    // 8 -> 48 here keeps the LOW 0.3 threshold non-vacuously covered
    // at sf0.01 (detection ~0.7%/table at 10 planes; the production
    // near-dup regime >= 0.8 needs far fewer). Shipping both keeps
    // the small-sf default AND the at-scale parameterization
    // oracle-gated (same algebra, 480 salts, 10-bit buckets)
    "q_sem_decontam_lsh10" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.semanticContaminationLsh(
        emb.filter(col("vec_id") % 50 =!= 3),
        emb.filter(col("vec_id") % 50 === 3), threshold = 0.3, dim = 64,
        planes = 10, tables = 48)
    }),

    // recall@5 of the LSH index against exact top-k — ANN quality as
    // an oracle-checked number (exact list = denominator, so queries
    // the index misses entirely still appear with recall 0)
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8).limit(64)
      Similarity.annRecall(
        Similarity.topKCosine(emb, q, k = 5),
        Similarity.annLsh(emb, q, k = 5, dim = 64), k = 5)
    }),

    // recall@5 of the composed IVF-PQ index as actually shipped
    // (ADC top-32 + exact refine, Faiss's IndexRefine shape) — same
    // exact-top-k denominator as q_ann_recall, so coarse-probe misses
    // and PQ ranking drift both land in one oracle-checked number.
    // Measured bound on the synthetic (unclustered) embeddings at
    // sf0.01: mean recall 0.20 ~= 0.8x the nprobe/lists=0.25 probe
    // ceiling — the refine stage recovers the PQ ranking loss (0.05
    // without it), leaving the coarse probe as the knob this eval
    // makes tunable-by-measurement
    "q_ann_recall_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8).limit(64)
      Similarity.annRecall(
        Similarity.topKCosine(emb, q, k = 5),
        Similarity.annIvfPqRefine(emb, q, k = 5, dim = 64), k = 5)
    }),

    // scale-path ANN (bucketed sign-LSH) — approximate by
    // construction, but the bucket algebra is SQL-derivable so even the
    // approximation is oracle-checked
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annLsh(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("score"))
    }),

    // scale-path ANN (IVF coarse-quantize + probe) — deterministic
    // md5-derived centroids make assignment/probing SQL-derivable, so
    // the whole index algebra is oracle-checked
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvf(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("score"))
    }),

    // IVF + TRAINED scalar quantization (the Faiss "IVF16,SQ8" shape,
    // the other standard billion-scale byte budget besides PQ): per-dim
    // (min, max) bounds trained FROM the data, 1 byte/dim codes,
    // asymmetric decode-dot scoring — min/max training is exact and
    // order-independent, so bounds, codes AND scores are oracle-checked
    // bit-for-bit, training included
    "q_ann_ivfsq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvfSq(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64)
    }),

    // the SQ8 artifact lifecycle inside the gate: annIndexWrite
    // trains bounds on the indexed corpus and stamps the header;
    // annProbeAt decodes under the header's OWN bounds (the
    // incremental %3 split of q_ann_probe_incremental)
    "q_ann_sq_probe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_sq", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfSqSpec(64))
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
    }),

    // the SQ8 header-driven append INSIDE the gate: the %3==0 slice
    // is admitted under the artifact's STORED bounds (values beyond
    // the prior span clamp to rail codes — the oracle's least/greatest
    // mirrors the clamp), then the probe searches the grown artifact;
    // the oracle trains bounds on the prior slice only and encodes
    // everything under them — append semantics derived end to end
    "q_ann_sq_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_sq_append", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfSqSpec(64))
      Similarity.annAppendAt(emb.filter(col("vec_id") % 3 === 0), path)
      Similarity.annProbeAt(s, path, emb.filter(col("vec_id") < 8), k = 5)
    }),

    // the SQ-specific staleness AUDIT oracle-gated: per-dimension
    // rail-code counts over the grown artifact (appended values
    // outside the stored span clamp to 0/255 — the drift signal
    // annNeedsRebuild polls), all-BIGINT algebra
    "q_ann_sq_saturation" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_sq_sat", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfSqSpec(64))
      Similarity.annAppendAt(emb.filter(col("vec_id") % 3 === 0), path)
      Similarity.ivfSqSaturation(s, path)
    }),

    // the INCREMENTAL form of the same audit: write seeds the stats
    // sidecar, the append accumulates the admitted rows' rail counts
    // into it, and the audit answers from O(dim) numbers — gated
    // against the identical full-scan oracle, so increment == scan is
    // DuckDB-proven, not just spec-held
    "q_ann_sq_sat_stats" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_sq_sat_inc", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfSqSpec(64))
      Similarity.annAppendAt(emb.filter(col("vec_id") % 3 === 0), path)
      Similarity.ivfSqSaturationFromStats(s, path).get
    }),

    // the PCA pre-transform's TRAINING aggregate oracle-gated exactly:
    // pairwise second-moment sums at the kmeans 2^20 fixed point —
    // the rotation (driver-side deterministic Jacobi on these sums)
    // and the composed PCAR->IVF-PQ artifact are spec-held on top of
    // this gate (eigensolves are not SQL-derivable; their INPUT is)
    "q_embed_cov" -> ((s, dir) =>
      Similarity.embedCovariance(t(s, dir, "embeddings"), dim = 64)),

    // the basis staleness AUDIT's algebra oracle-gated on a drifted
    // frame: pcaCaptureAudit consumes exactly this — the covariance
    // sums of a fresh bounded sample of a corpus whose variance has
    // MOVED (simulated here by list reversal, a deterministic basis
    // rotation both engines express), sampled via the static
    // hash-threshold convention (trainFraction = 0.25 -> 2^60/4, the
    // q_ann_ivf_sampled constant). The capture ratio itself is
    // deterministic driver arithmetic over these gated sums (the
    // jacobiEigen convention); the rebuild it triggers is spec-held
    "q_pca_drift_cov" -> ((s, dir) =>
      Similarity.embedCovariance(
        t(s, dir, "embeddings").select(col("vec_id"),
          reverse(col("embedding")).as("embedding")),
        dim = 64, trainFraction = 0.25)),

    // scale-path ANN (product quantization + ADC): base vectors
    // reduced to 8 code bytes, queries score through a fixed-point
    // lookup table — codebooks are md5-salted so the ENTIRE index
    // algebra (encode, LUT, integer ADC sum) is oracle-checked
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annPq(emb, emb.filter(col("vec_id") < 8).limit(64), k = 5, dim = 64)
    }),

    // the learned COARSE index oracle-gated end to end: annIvf over
    // kmeansCentroids (the production centroid contract from the 100x
    // soak — see PLANS), oracle = the q_kmeans training chain composed
    // with the IVF assignment/probe/verify algebra
    "q_ann_ivf_learned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvf(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64,
        centroids = Some(Similarity.kmeansCentroids(emb, k = 16, iters = 2, dim = 64)))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("score"))
    }),

    // SAMPLE-BOUNDED training oracle-gated end to end: centroids
    // train on the deterministic 25% hash-threshold sample
    // (trainFraction = 0.25 -> threshold exactly 2^60/4, a STATIC
    // constant the oracle embeds literally — equal by construction,
    // no data-dependent counts on either engine), then
    // assign/probe/verify the FULL corpus — the 100 TB index-build
    // posture (Faiss trains on ~max(10k, 256*k) vectors, never the
    // corpus) with the training sample itself inside the gate
    "q_ann_ivf_sampled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvf(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64,
        centroids = Some(Similarity.kmeansCentroids(emb, k = 16, iters = 2, dim = 64,
          trainFraction = 0.25)))
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("score"))
    }),

    // the LEARNED index path oracle-gated END TO END, training
    // included: per-subspace k-means codebooks (pqLearnedCodebooks —
    // fixed-point mean sums, so training is bit-reproducible under any
    // partitioning) feed the same encode/LUT/ADC algebra; the oracle
    // unrolls the 8 subspace trainings as CTE chains like q_kmeans
    "q_ann_pq_learned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annPq(emb, emb.filter(col("vec_id") < 8).limit(64), k = 5, dim = 64,
        codebooks = Some(Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 2)))
    }),

    // PQ training sample-bounded like q_ann_ivf_sampled: all 8
    // subspace k-means runs share ONE deterministic 25% hash-threshold
    // sample at the STATIC trainFraction = 0.25 (a real index build
    // trains on ~max(10k, 256*codes) vectors, not the corpus —
    // measured 7.7 -> 5.8 s on the 200k-vector soak); encode/LUT/ADC
    // still cover every vector
    "q_ann_pq_sampled" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annPq(emb, emb.filter(col("vec_id") < 8).limit(64), k = 5, dim = 64,
        codebooks = Some(Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 2,
          trainFraction = 0.25)))
    }),

    // the full IVF-PQ composition: coarse-list probe bounds the scan
    // to nprobe/lists of the corpus, PQ codes bound the bytes touched
    // to 4/vector — both salted-deterministic, so the composed index
    // is oracle-checked end to end
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64)
    }),

    // RESIDUAL IVF-PQ (the Faiss IVFPQ default; Jegou et al. 2011
    // §IV): codes quantize v - centroid(list) and the ADC score adds
    // the exact per-(query, probed list) coarse term — code bytes
    // spend their precision on LOCAL detail the coarse quantizer
    // already removed. Whole algebra (residual encode, coarse term,
    // fixed-point ADC) oracle-checked bit-for-bit
    "q_ann_ivfpq_res" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 8), k = 5, dim = 64,
        residual = true)
    }),

    // the persisted IVF-PQ index ARTIFACT itself (what production
    // stores: coarse list + m code bytes per vector, the 64x shrink),
    // exploded to one row per (vector, subspace) so every stored byte
    // is oracle-checked — the ANN sibling of q_band_index
    "q_ann_index" -> ((s, dir) =>
      Similarity.ivfPqIndex(t(s, dir, "embeddings"), dim = 64)
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
          posexplode(col("codes")))
        .select(col("vec_id"), col("list_id"),
          col("pos").cast("long").as("s"), col("col").cast("long").as("code"))),

    // the PRODUCTION artifact: learned coarse centroids + learned PQ
    // codebooks, training inside the correctness gate — what a real
    // index build persists, every stored byte recomputed by the oracle
    // from raw embeddings through both training chains
    "q_ann_index_learned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqIndex(emb, dim = 64,
        centroids = Some(Similarity.kmeansCentroids(emb, k = 16, iters = 2, dim = 64)),
        codebooks = Some(Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 2)))
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
          posexplode(col("codes")))
        .select(col("vec_id"), col("list_id"),
          col("pos").cast("long").as("s"), col("col").cast("long").as("code"))
    }),

    // OPQ gated end to end — q_ann_index_learned EXTENDED ONE STAGE
    // LEFT: a data-dependent pre-quantization ROTATION is inside the
    // oracle too. The gate's rotation is the SQL-exact permutation
    // form (energy-balanced dimension interleave — exact BIGINT ranks,
    // bit-exact float reorder); the eigenbasis OPQ_P production form
    // (annIndexWrite over an OpqP spec, method-aware rebuild) trains from the
    // q_embed_cov-gated sums and is spec-held, the pcaRotation
    // precedent
    "q_ann_opq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rotated = Similarity.applyDimPermutation(emb,
        Similarity.opqEnergyPermutation(emb, dim = 64, m = 8))
      Similarity.ivfPqIndex(rotated, dim = 64,
        centroids = Some(Similarity.kmeansCentroids(rotated, k = 16, iters = 2, dim = 64)),
        codebooks = Some(Similarity.pqLearnedCodebooks(rotated, dim = 64, iters = 2)))
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
          posexplode(col("codes")))
        .select(col("vec_id"), col("list_id"),
          col("pos").cast("long").as("s"), col("col").cast("long").as("code"))
    }),

    // INCREMENTAL ANN probe: the vec_id % 3 == 0 slice arrives as NEW
    // query vectors and searches the PERSISTED index of the rest —
    // annIvfPqProbe consumes ONLY the (vec_id, list_id, codes)
    // artifact rows, never the historical corpus vectors (the
    // q_neardup_incremental convention; reference analog: the
    // append-only event log + derived state,
    // crates/esvc-core/src/workcache.rs:60-108)
    "q_ann_probe_incremental" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // through the PERSISTED path: annIndexWrite stamps the
      // self-describing header (params + quantizer arrays + content
      // hash) and annProbeAt loads every parameter FROM it — the
      // correctness gate covers the full write/validate/probe
      // round-trip, not just the in-memory composition
      val path = runTmp("ann_index", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfPqSpec(64))
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
    }),

    // search-as-shipped against the PERSISTED artifact: ADC probe from
    // the header-trusted index (annProbeAt, rerank=32 survivors)
    // + exact-cosine refine touching prior-corpus vectors ONLY for the
    // survivor ids — the Faiss IndexRefine shape with the index on
    // disk, same incremental split as q_ann_probe_incremental
    "q_ann_probe_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val prior = emb.filter(col("vec_id") % 3 =!= 0)
      val path = runTmp("ann_refine", dir)
      Similarity.annIndexWrite(prior, path, IvfPqSpec(64))
      Similarity.annRefineAt(s, path, prior,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24),
        k = 5, rerank = 32)
    }),

    // the SQ8 twin of q_ann_probe_refine — same refineExact kernel,
    // same incremental split, candidates ranked by SQ8 decode-dot
    // from the stored artifact instead of PQ ADC (at the probe's
    // measured scale SQ8 is the recall-leading encoding, so its
    // search-as-shipped posture needs the same gate)
    "q_ann_sq_refine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val prior = emb.filter(col("vec_id") % 3 =!= 0)
      val path = runTmp("ann_sq_refine", dir)
      Similarity.annIndexWrite(prior, path, IvfSqSpec(64))
      Similarity.annRefineAt(s, path, prior,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24),
        k = 5, rerank = 32)
    }),

    // FILTERED ANN search (the Faiss IDSelector / metadata-filter
    // shape): top-k ADC among an allowed-id set ONLY — the k-cut is
    // taken WITHIN the allowed set, so a selective filter stays full
    // instead of under-filling the way post-filtering an unfiltered
    // top-k would. The allowed frame is what any metadata predicate's
    // id column produces; same persisted header-trusted index and
    // incremental split as q_ann_probe_incremental
    "q_ann_probe_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_filtered", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfPqSpec(64))
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5,
        allowedIds = Some(emb.filter(col("vec_id") % 5 <= 1).select("vec_id")))
    }),

    // DELETION, tombstone-live (the Faiss remove_ids verb): the
    // deleted ids land in the bounded content-hashed sidecar and
    // leave the candidate set at the artifact scan, BEFORE the rank
    // cut — a deleted row must neither surface nor displace a live
    // neighbor out of the top-k. No artifact rewrite happens here;
    // the oracle mirrors the exclusion as a candidate predicate over
    // the otherwise-identical probe algebra
    "q_ann_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_delete", dir)
      // this gate leaves its tombstones LIVE (that is what it tests),
      // so a later pass's build-over-existing would refuse — start
      // each pass from a clean path
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfPqSpec(64))
      Similarity.annIndexDeleteAt(s, path,
        emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 1)
          .select("vec_id"))
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
    }),

    // the same deletion made PHYSICAL: annTombstoneFold rewrites the
    // artifact minus the tombstoned rows (verified row accounting,
    // sidecars carried, atomic swap, sidecar cleared) and the probe
    // answers from the folded generation — gate-equal to the
    // tombstone-live form above by construction, and both share one
    // oracle, so exclusion-at-probe == physical-removal == DuckDB
    "q_ann_delete_fold" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_delete_fold", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfPqSpec(64))
      Similarity.annIndexDeleteAt(s, path,
        emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 1)
          .select("vec_id"))
      Similarity.annTombstoneFold(s, path)
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
    }),

    // the SQ8 twin of q_ann_delete: the scalar artifact's id column
    // and decode-dot probe run the same tombstone exclusion (one
    // deletion verb serves every encoding — ids live outside the
    // vector space)
    "q_ann_sq_delete" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_sq_delete", dir)
      // tombstones stay live here (the gate's point) — clean the path
      // so a later pass's build-over-existing does not refuse
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfSqSpec(64))
      Similarity.annIndexDeleteAt(s, path,
        emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 1)
          .select("vec_id"))
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
    }),

    // MMR diversified re-rank (Carbonell & Goldstein 1998) over the
    // refine path's exact-cosine candidates: greedy lambda-tradeoff
    // between relevance and max-sim-to-picked, all selection algebra
    // in e6 fixed-point BIGINT so the oracle unrolls the greedy loop
    // exactly — the retrieval-side diversity step of a curation
    // pipeline (the raw top-k of a near-dup-heavy corpus is often k
    // copies of one document)
    "q_ann_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val prior = emb.filter(col("vec_id") % 3 =!= 0)
      val path = runTmp("ann_mmr", dir)
      Similarity.annIndexWrite(prior, path, IvfPqSpec(64))
      val refined = Similarity.annRefineAt(s, path, prior,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24),
        k = 32, rerank = 32)
      Similarity.mmrRerank(refined, prior, k = 5)
    }),

    // the FULL index-maintenance lifecycle inside the correctness
    // gate: a salted-default artifact is written + stamped, then
    // annRebuildAt retrains BOTH quantizers on the corpus with
    // DATA-DERIVED seeds (hash-order picks — the k-means++-style
    // init the rebuild path defaults to, because constant seeds
    // provably cannot subdivide drifted dense regions), re-encodes,
    // verifies, atomically swaps and re-stamps; the swapped
    // artifact's every stored byte is re-derived by DuckDB through
    // both data-seeded training chains
    "q_ann_index_rebuilt" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("ann_rebuilt", dir)
      Similarity.annIndexWrite(emb, path, IvfPqSpec(64)) // stale: salted defaults
      Similarity.annRebuildAt(emb, path) // kmIters = pqIters = 2
      s.read.parquet(path)
        .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
          posexplode(col("codes")))
        .select(col("vec_id"), col("list_id"),
          col("pos").cast("long").as("s"), col("col").cast("long").as("code"))
    }),

    // list-balance audit of the persisted artifact, from the artifact
    // ALONE (q_ann_index's rows aggregated): per-list load in
    // thousandths of the uniform share + the rebuild flag — the
    // retrain trigger for append-grown indexes whose frozen centroids
    // drift away from the data (Next-#6, r11 verdict)
    "q_ann_index_balance" -> ((s, dir) =>
      Similarity.ivfPqListBalance(
        Similarity.ivfPqIndex(t(s, dir, "embeddings"), dim = 64), lists = 16)),

    // hybrid retrieval: BM25 top-20 fused with dense cosine top-20 by
    // reciprocal-rank fusion (fixed-point contributions -> exact BIGINT
    // fused score); keeps docs found by only one retriever
    "q_rrf_fusion" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        queries = Seq((0L, "spark join window"), (1L, "hash merge batch"),
          (2L, "stream filter sort value"), (3L, "table scan agg")), k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.topKCosine(emb, emb.filter(col("vec_id") < 4).limit(64), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Retrieval.rrfFuse(lex, dense, k = 10)
    }),

    // HYBRID retrieval end-to-end: the BM25 lexical list + the dense
    // cosine list fused by RRF, then MMR-diversified — the full
    // retrieval stack as one composition (every stage is individually
    // oracle-gated; this gates their composition). Relevance for the
    // MMR stage is rank-based in [0,1]: after fusion the rank IS the
    // signal — raw rrf_e9 lives on a ~1/61 scale the sim term drowns
    "q_hybrid_retrieval" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
        queries = Seq((0L, "spark join window"), (1L, "hash merge batch"),
          (2L, "stream filter sort value"), (3L, "table scan agg")), k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.topKCosine(emb, emb.filter(col("vec_id") < 4).limit(64), k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      val fused = Retrieval.rrfFuse(lex, dense, k = 20)
      val cands = fused.select(col("query_id"), col("id").as("neighbor_id"),
        ((lit(21.0) - col("rank")) / lit(20.0)).as("score"))
      Similarity.mmrRerank(cands, emb, k = 8)
    }),

    // offline index evaluation: recall@5 + harmonic-discount nDCG@5 of
    // the IVF index against brute-force cosine ground truth — the
    // recall/quality dial every ANN deployment tunes; all-integer
    // gains/discounts so the metric itself is oracle-exact
    "q_retrieval_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 8).limit(64)
      val truth = Similarity.topKCosine(emb, q, k = 5)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      val approx = Similarity.annIvf(emb, q, k = 5, dim = 64)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Retrieval.evalRanking(truth, approx, k = 5)
    }),

    // hard-negative mining: top-5 similar vectors OUTSIDE the query's
    // IVF list, for the 8 query vectors
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 8).limit(64), k = 5)
    }),

    // per-dim embedding moments over int8 codes (whitening/PCA prep);
    // integer sums -> partitioning-independent exactness
    "q_embed_moments" -> ((s, dir) =>
      Similarity.embedMoments(t(s, dir, "embeddings"))),

    // int8-quantized cosine top-k: the memory/SIMD scale lever; the
    // quantization algebra (floor scaling, integer dots) is exact, so
    // the oracle checks it bit-for-bit
    "q_topk_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.topKQuantized(emb, emb.filter(col("vec_id") < 8).limit(64), k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("score"))
    }),

    // ---- multimodal plumbing (from-spec container codecs) ----
    "q_multimodal" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.withPayload(t(s, dir, "documents"), "text"), "doc_id")),

    // construct a VALID PNG/BMP/WAV/JPEG per doc (by doc_id mod 4), then
    // recover the dimensions by actually parsing the container bytes;
    // the oracle predicts the same values from the construction
    // algebra, so the check proves the construct -> parse round-trip
    "q_media_decode" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.withMediaPayload(t(s, dir, "documents"), "text", "doc_id"), "doc_id")
        .select("doc_id", "kind", "width", "height", "channels", "sample_rate", "bit_depth")),

    // decode -> transform -> re-decode: PNGs/BMPs/JPEGs half-resized
    // (real pixel sampling; JPEG through a full baseline entropy
    // decode -> re-encode), WAVs 2x sample-decimated; the oracle
    // predicts the re-parsed metadata from the construction formulas
    "q_media_transform" -> ((s, dir) =>
      Multimodal.extractFeatures(
        Multimodal.transformMedia(
          Multimodal.withMediaPayload(t(s, dir, "documents"), "text", "doc_id"), "doc_id"), "doc_id")
        .select("doc_id", "kind", "width", "height", "channels", "sample_rate", "bit_depth")),

    // image near-dup over DECODED PIXELS: a planted 32-image corpus
    // (16 jittered pairs) runs the full 4:2:0 color encode -> entropy
    // decode -> luma dHash -> Manku band-join -> hamming verify
    // pipeline; the planted pair structure is an integer-algebra fact
    // the oracle states directly, the engine must earn it end-to-end.
    // PINNED oracle: a fixture-outcome check (DuckDB cannot run JPEG
    // entropy coding), not an independent recomputation — see PLANS.md
    // "Pinned oracles"
    "q_image_neardup" -> ((s, dir) =>
      Multimodal.imageNearDup(Multimodal.plantedImages(s, 32), "payload", "doc_id")),

    // audio near-dup over the planted WAV corpus (16 amplitude-
    // jittered pairs): 8-bit PCM encode -> decode -> energy-difference
    // fingerprint -> Manku band-join -> hamming verify. PINNED oracle
    // (fixture-outcome check; DuckDB cannot decode WAV) — see PLANS.md
    // "Pinned oracles"
    "q_audio_neardup" -> ((s, dir) =>
      Multimodal.audioNearDup(Multimodal.plantedAudio(s, 32), "payload", "doc_id")),

    // video near-dup over the planted y4m corpus (16 amplitude-
    // jittered pairs, container flavors mixed C420jpeg/Cmono):
    // from-spec y4m decode -> temporal-energy fingerprint -> Manku
    // band-join -> hamming verify. PINNED oracle (fixture-outcome
    // check; DuckDB cannot parse y4m) — see PLANS.md "Pinned oracles"
    "q_video_neardup" -> ((s, dir) =>
      Multimodal.videoNearDup(Multimodal.plantedVideo(s, 32), "payload", "doc_id")),

    // ---- temporal joins (operators Spark lacks, in 100 TB shapes) ----
    // as-of join: each purchase gets the user's latest at-or-before
    // click value — union + running last_value, ONE shuffle, no range
    // explosion (the point-in-time feature join)
    "q_asof_join" -> ((s, dir) => {
      val ev = EventReplay.loadEvents(s, dir).withColumn("tsu", expr("ts DIV 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("tsu")).agg(max(col("value")).as("click_value"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tsu"))
      Temporal.asofJoin(purchases, clicks, "user_id", "tsu", "click_value", "asof_click")
        .select(col("event_id"), col("user_id"), col("asof_click"))
    }),

    // bounded range join: clicks within 7 days after each signup.
    // Bucketed by floor(t/width): every probe hits exactly 2 buckets,
    // every click lands in 1 — an equi-join Catalyst can shuffle-hash,
    // never the BroadcastNestedLoop a raw BETWEEN predicate degrades to
    "q_range_join" -> ((s, dir) => {
      val ev = EventReplay.loadEvents(s, dir).withColumn("tsu", expr("ts DIV 1000"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("tsu"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tsu"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val pairs = Temporal.rangeJoinBucketed(signups, clicks, "user_id", "tsu", "tsu",
        width = 604800000000L)
      val agg = pairs.groupBy("event_id")
        .agg(count(lit(1)).as("n_clicks"), sum(col("r_cents")).as("click_cents"))
      signups.join(agg, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("click_cents"), lit(0L)).as("click_cents"))
    }),

    // rolling point-in-time features: per event, the user's purchase
    // count + cents over the strictly-preceding 7 days (RANGE frame —
    // one shuffle + sort, single pass; integer sums for bit parity)
    "q_rolling_features" -> ((s, dir) => {
      val ev = EventReplay.loadEvents(s, dir)
        .withColumn("tsu", expr("ts DIV 1000"))
        .withColumn("is_p", when(col("event_type") === "purchase", lit(1L)).otherwise(lit(0L)))
        .withColumn("p_cents", when(col("event_type") === "purchase",
          expr("CAST(round(value * 100) AS BIGINT)")).otherwise(lit(0L)))
      Temporal.rollingFeatures(ev, "user_id", "tsu", span = 604800000000L,
        aggs = Map(
          "n_recent_purchases" -> sum(col("is_p")),
          "recent_purchase_cents" -> sum(col("p_cents"))))
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_recent_purchases"), lit(0L)).as("n_recent_purchases"),
          coalesce(col("recent_purchase_cents"), lit(0L)).as("recent_purchase_cents"))
    }),

    // blocked fuzzy entity matching over part names: distinct-first,
    // block on the noun token, capped blocks, levenshtein verify on
    // survivors only — entity resolution without the all-pairs quadratic
    "q_fuzzy_match" -> ((s, dir) =>
      FuzzyJoin.fuzzyNamePairs(t(s, dir, "part"), "p_name",
        blockExpr = "split(name, ' ')[1]", maxDist = 2)
        .select(col("name_a"), col("name_b"), col("dist").cast("long").as("dist"),
          col("n_a"), col("n_b"))),

    // fixed-point integer PageRank over the functional event dep graph
    // (id -> id DIV 2): 3 Pregel rounds, each ONE message aggregate +
    // one join + two one-row broadcast scalars (dangling mass, node
    // count — standard uniform redistribution); BIGINT ranks make the
    // distributed sums exact, so the oracle checks every node
    // bit-for-bit
    "q_pagerank" -> ((s, dir) => {
      val ids = EventReplay.loadEvents(s, dir).select(col("event_id").as("id"))
      val edges = ids.filter(col("id") > 0)
        .select(col("id").as("src"), expr("id DIV 2").as("dst"))
      graft.plans.PageRank.pageRankFixed(ids, edges, iters = 3)
    }),

    // the conservation audit: per-round total mass. With dangling
    // redistribution every total stays at n * Scale minus only the
    // deterministic division remainders — the oracle pins each round's
    // sum, so silently dropped mass (the pre-round-10 formulation)
    // cannot reappear
    "q_pagerank_mass" -> ((s, dir) => {
      val ids = EventReplay.loadEvents(s, dir).select(col("event_id").as("id"))
      val edges = ids.filter(col("id") > 0)
        .select(col("id").as("src"), expr("id DIV 2").as("dst"))
      graft.plans.PageRank.pageRankMass(ids, edges, iters = 3)
    }),

    // ---- warehouse modeling + storage layout ----
    // SCD2 dimension history from the signup change stream: validity
    // intervals via one lead() window, open version keeps null;
    // changes pre-deduped per (user, instant) so ordering is total
    "q_scd2" -> ((s, dir) => {
      val changes = EventReplay.loadEvents(s, dir)
        .filter(col("event_type") === "signup")
        .withColumn("tsu", expr("ts DIV 1000"))
        .groupBy(col("user_id"), col("tsu"))
        .agg(expr("max(CAST(round(value * 100) AS BIGINT))").as("cents"))
      Dimensions.scd2(changes, "user_id", "tsu")
        .select(col("user_id"), col("version"), col("valid_from"), col("valid_to"), col("cents"))
    }),

    // ordered funnel view -> click -> purchase: each stage is the
    // first occurrence STRICTLY AFTER the previous stage's time; all
    // stages co-partition on user_id
    "q_funnel" -> ((s, dir) => {
      val ev = EventReplay.loadEvents(s, dir)
        .select(col("user_id"), expr("ts DIV 1000").as("tsu"), col("event_type"))
      Dimensions.funnel(ev, "user_id", "tsu", "event_type",
        Seq("view", "click", "purchase"))
    }),

    // ANALYZE analog: per-column n/nulls/NDV/min/max in ONE scan
    // (posexplode melt) + one aggregate — the stats every optimizer
    // decision (join order, broadcast, skipping) feeds on
    "q_column_stats" -> ((s, dir) =>
      TableStats.columnStats(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_partkey"))),

    // Z-order (Morton) layout key over (partkey, suppkey): pure column
    // bit-algebra inside whole-stage codegen; sorting files by this key
    // gives tight min/max on BOTH dimensions -> parquet skipping for
    // predicates on either (the lakehouse OPTIMIZE ZORDER primitive)
    "q_zorder" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zvalue(col("l_partkey"), col("l_suppkey")).as("zval"))),

    // zone-map audit of the z-ordered layout: per-file min/max on both
    // dimensions + which files an orderkey range predicate would scan —
    // the measurable half of the file-skipping story
    "q_zone_map" -> ((s, dir) =>
      Layout.zoneMap(t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        nFiles = 64, pruneLo = 1000L, pruneHi = 2000L)),

    // wide z-order: 31 bits/dimension (the 16-bit zvalue silently
    // masked coordinates above 65,535 — colliding z-keys exactly at
    // the scales the operator exists for). Inputs are Knuth-hashed
    // into the full 31-bit domain to prove the wide path
    "q_zorder64" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Layout.zvalue64(
            (col("l_orderkey") * lit(2654435761L)).bitwiseAND(lit(0x7FFFFFFFL)),
            (col("l_partkey") * lit(40503L)).bitwiseAND(lit(0x7FFFFFFFL))).as("zval64"))),

    // zone-map audit over the 62-bit key with the overflow-free file
    // split (z DIV (max_z DIV n + 1)) on the same hashed 31-bit domain
    "q_zone_map64" -> ((s, dir) =>
      Layout.zoneMap64(
        t(s, dir, "lineitem")
          .select((col("l_orderkey") * lit(2654435761L)).bitwiseAND(lit(0x7FFFFFFFL)).as("xw"),
            (col("l_partkey") * lit(40503L)).bitwiseAND(lit(0x7FFFFFFFL)).as("yw")),
        "xw", "yw", nFiles = 64, pruneLo = 100000000L, pruneHi = 400000000L)),

    // count-min sketch heavy hitters: fixed-memory 4x1024 counter
    // table (pure SUMs -> mergeable across shards/days by addition,
    // deterministic), point-queried for the exact top-20 tokens; the
    // oracle rebuilds every counter, so est_n is checked bit-for-bit
    // (and est >= exact by construction)
    "q_heavy_hitters" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("word"))
      // ONE map-side-combined word histogram feeds BOTH the sketch
      // (cell counts are sums over words — cmsBuildCounted bounds the
      // cell explode by vocabulary, not corpus tokens) and the exact
      // candidates; checkpointed so the token explode runs once —
      // LAZILY, so merely building the frame (plan inspection, bench
      // enumeration) runs no jobs and pins no blocks
      val exact = tok.groupBy("word").agg(count(lit(1)).as("exact_n"))
        .localCheckpoint(eager = false)
      val sketch = Sketches.cmsBuildCounted(
        exact.select(col("word"), col("exact_n").as("n")), d = 4, w = 1024)
      val cand = exact.orderBy(col("exact_n").desc, col("word")).limit(20)
      cand.join(Sketches.cmsEstimate(sketch, cand.select("word"), d = 4, w = 1024), "word")
        .select(col("word"), col("exact_n"), col("est_n"))
    }),

    // the CMS day-over-day rollup gated by mergeability itself: two
    // half-corpus counter tables merged by addition must equal the
    // full-corpus table DuckDB rebuilds from raw tokens — every
    // stored (row, col) counter checked. With q_kmv_sketch_merge
    // (min-merge), q_loghist_sketch_merge (bucket addition) and
    // q_hll_distinct's __union__ row (register max-merge), every
    // sketch family's merge path is oracle-gated
    "q_cms_sketch_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def half(even: Boolean) = Sketches.cmsBuildBatch(
        docs.filter(if (even) col("doc_id") % 2 === 0 else col("doc_id") % 2 =!= 0)
          .select(explode(Dedup.tokens(col("text"))).as("word")), d = 4, w = 1024)
      Sketches.cmsMergeSketches(half(even = true), half(even = false))
        .select(col("row").cast("long").as("row"), col("col"), col("c"))
    }),

    // the STREAMED CMS lifecycle end to end, through the stamped
    // delta-log discipline (round 18): three "micro-batch" appends
    // under monotone stamps, a maintenance fold (nets the stamps
    // away), then a crash-retry of the LAST batch replayed AFTER the
    // fold — the replay-after-fold seam: before the fold watermark the
    // re-append was invisible to the read-side retry dedupe and every
    // batch-2 word estimated DOUBLE. The oracle recomputes the exact
    // min-of-cells estimate from the whole corpus, so a regression in
    // the watermark/skip logic hash-mismatches here.
    "q_cms_stream_fold" -> ((s, dir) => {
      import graft.sources.DeltaLogCompaction
      val docs = t(s, dir, "documents")
      val path = runTmp("cms_streamfold", dir)
      graft.sources.ArtifactHeader.validateOrStamp(s, path, "cms",
        graft.streaming.StreamingCms.cmsParams(4, 1024))
      // one tokenize pass feeds all three batch builds (the explode is
      // the expensive stage; the per-batch CMS aggregates are cheap) —
      // identical per-batch word multisets, so identical cell rows
      val words3 = docs.select((col("doc_id") % 3).as("__b"),
        explode(Dedup.tokens(col("text"))).as("word")).localCheckpoint()
      def batchDelta(b: Int) = Sketches.cmsBuildBatch(
        words3.filter(col("__b") === b).select("word"), d = 4, w = 1024)
      // the retry must re-present the SAME batch-2 rows — materialize
      // them once instead of rebuilding the delta twice
      val delta2 = batchDelta(2).localCheckpoint()
      (0 until 2).foreach(b => DeltaLogCompaction.appendStamped(
        batchDelta(b), path, b.toLong))
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      DeltaLogCompaction.compactCms(s, path)
      // the folded crash-retry: identical rows, stamp at the watermark
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      graft.plans.CheckpointHygiene.free(words3, delta2)
      val probes = docs.filter(col("doc_id") % 101 === 7)
        .select(explode(Dedup.tokens(col("text"))).as("word")).distinct()
      graft.streaming.StreamingCms.estimateFrom(s, path, probes)
        .select(col("word"), col("est_n").cast("long").as("est_n"))
    }),

    // the second sum-merged family through the same stamped lifecycle:
    // three partial hourly-rollup appends (StreamingMvMaintain's exact
    // write expression), a fold, then the post-fold crash-retry of the
    // last batch — the read path (retry dedupe + re-aggregate) must
    // return base-table truth, which only holds if the replayed append
    // was a watermark no-op (a double-count shifts cnt AND cents for
    // every batch-2 bucket).
    "q_mv_stream_fold" -> ((s, dir) => {
      import graft.sources.DeltaLogCompaction
      val path = runTmp("mv_streamfold", dir)
      // one event scan feeds all three batch rollups; the retry
      // re-presents the SAME batch-2 rows from the materialized delta
      val ev3 = EventReplay.loadEvents(s, dir)
        .select(col("ts"), col("event_type"), col("value"),
          (col("event_id") % 3).as("__b")).localCheckpoint()
      def batchDelta(b: Int) = graft.plans.MvRewrite.hourlyRollup(
        ev3.filter(col("__b") === b))
      val delta2 = batchDelta(2).localCheckpoint()
      (0 until 2).foreach(b => DeltaLogCompaction.appendStamped(
        batchDelta(b), path, b.toLong))
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      DeltaLogCompaction.compactHourlyMv(s, path)
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      graft.plans.CheckpointHygiene.free(ev3, delta2)
      DeltaLogCompaction.dedupeRetries(
          s.read.parquet(path), Seq("hour_bucket", "event_type"))
        .groupBy("hour_bucket", "event_type")
        .agg(sum(col("cnt")).as("cnt"), sum(col("cents")).as("cents"))
    }),

    // rights-removal for the sum-merged family WITHOUT rebuild: the
    // removed events' own partial rollup, sign-flipped under a
    // negative stamp (retractStamped — the counted-gram decrement
    // strategy generalized). The lifecycle stacks every seam: three
    // stamped ingests, the retraction, a fold (which must preserve the
    // retraction VERBATIM while netting the ingests), then crash-
    // retries of BOTH the removal and the folded last ingest — each a
    // required no-op. The oracle recomputes from events minus the
    // removed slice; fully-retracted buckets must vanish, not read 0.
    "q_mv_retract" -> ((s, dir) => {
      import graft.sources.DeltaLogCompaction
      val path = runTmp("mv_retract", dir)
      // one event scan feeds the three batch rollups AND both retract
      // calls (the second retract is the gated crash-retry — the VERB
      // must run twice, but its input scan need not)
      val ev3 = EventReplay.loadEvents(s, dir)
        .select(col("ts"), col("event_type"), col("value"),
          (col("event_id") % 3).as("__b"), (col("event_id") % 7).as("__r"))
        .localCheckpoint()
      def batchDelta(b: Int) = graft.plans.MvRewrite.hourlyRollup(
        ev3.filter(col("__b") === b))
      val delta2 = batchDelta(2).localCheckpoint()
      (0 until 2).foreach(b => DeltaLogCompaction.appendStamped(
        batchDelta(b), path, b.toLong))
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      val removed = ev3.filter(col("__r") === 0)
      graft.streaming.StreamingMvMaintain.retract(removed, path, removalStamp = -1L)
      DeltaLogCompaction.compactHourlyMv(s, path)
      graft.streaming.StreamingMvMaintain.retract(removed, path, removalStamp = -1L)
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      graft.plans.CheckpointHygiene.free(ev3, delta2)
      graft.streaming.StreamingMvMaintain.readRollup(s, path)
    }),

    // and the third: log-histogram quantile buckets (sum-merged like
    // CMS cells). The derived quantile EDGES are the observable — a
    // replay double-count inflates batch-2 buckets' counts and moves
    // rank thresholds, so the oracle's whole-corpus recompute catches
    // the seam through the full sketch -> quantile composition.
    "q_loghist_stream_fold" -> ((s, dir) => {
      import graft.sources.DeltaLogCompaction
      // one lineitem scan feeds all three batch sketches; the retry
      // re-presents the SAME batch-2 rows from the materialized delta
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
          (col("l_orderkey") % 3).as("__b"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
        .localCheckpoint()
      val path = runTmp("loghist_streamfold", dir)
      def batchDelta(b: Int) = Sketches.logHistSketch(
        li.filter(col("__b") === b), "cents", "l_returnflag")
      val delta2 = batchDelta(2).localCheckpoint()
      (0 until 2).foreach(b => DeltaLogCompaction.appendStamped(
        batchDelta(b), path, b.toLong))
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      DeltaLogCompaction.compactLogHist(s, path)
      DeltaLogCompaction.appendStamped(delta2, path, 2L)
      graft.plans.CheckpointHygiene.free(li, delta2)
      graft.streaming.StreamingLogHist.quantilesFrom(s, path,
        Seq(250, 500, 750, 990))
    }),

    // declarative data-quality suite: uniqueness, referential
    // integrity, domain/range rules — each ONE aggregate or anti-join,
    // unioned into a tiny violations summary (the publish gate)
    "q_data_quality" -> ((s, dir) => {
      import QualityChecks._
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      val ev = EventReplay.loadEvents(s, dir)
      suite(Seq(
        uniqueCheck(orders, "unique:orders.o_orderkey", Seq("o_orderkey")),
        uniqueCheck(li, "unique:lineitem.pk", Seq("l_orderkey", "l_linenumber")),
        fkCheck(orders, "o_custkey", cust, "c_custkey", "fk:orders->customer"),
        fkCheck(li, "l_orderkey", orders, "o_orderkey", "fk:lineitem->orders"),
        predicateCheck(li, "range:l_quantity[1,50]",
          col("l_quantity").between(1.0, 50.0)),
        predicateCheck(li, "range:l_discount[0,0.1]",
          col("l_discount").between(0.0, 0.1)),
        predicateCheck(ev, "domain:event_type",
          col("event_type").isin("signup", "click", "purchase", "view", "error")),
        predicateCheck(cust, "notnull:c_acctbal", col("c_acctbal").isNotNull)))
    }),

    // daily gap-filled per-user activity series: dense bucket grid via
    // sequence+explode (grid = output, never on the driver), zero-fill
    // + running cumulative — the resampling step before any
    // time-series featurization
    "q_gap_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val actual = EventReplay.loadEvents(s, dir)
        .groupBy(col("user_id"), expr("ts DIV 86400000000000").as("day_bucket"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day_bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Dimensions.gapFill(actual, "user_id", "day_bucket")
        .withColumn("n_events", coalesce(col("n"), lit(0L)))
        .withColumn("cum_events", sum(col("n_events")).over(w))
        .select("user_id", "day_bucket", "n_events", "cum_events")
    }),

    // cohort retention: users active k days after their first-activity
    // day — two aggregates + one co-partitioned join over (user, day)
    "q_retention" -> ((s, dir) => {
      val act = EventReplay.loadEvents(s, dir)
        .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      Dimensions.retention(act, "user_id", "day", horizon = 13)
    }),

    // interval-interval overlap join: which even/odd user session
    // pairs overlap in time — both sides bucket-exploded, each pair
    // reported ONCE at the later interval's start bucket (spatial-join
    // dedup: no distinct pass over the candidate set)
    "q_interval_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val sess = EventReplay.loadEvents(s, dir)
        .withColumn("ts_us", expr("ts DIV 1000"))
        .withColumn("prev_ts", lag(col("ts_us"), 1).over(w))
        .withColumn("boundary",
          when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > 1800000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("boundary")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min(col("ts_us")).as("s0"), (max(col("ts_us")) + 1).as("e0"))
        // materialize ONCE: both join sides slice this frame, and
        // without the checkpoint each side re-runs the whole
        // sessionize subtree (scan + user_id shuffle + two windows +
        // agg) — plan-audited as two full Window chains; at scale
        // that is 2x the event scan for a frame that is tiny
        // (one row per session)
        .localCheckpoint()
      val a = sess.filter(col("user_id") % 2 === 0)
        .select(lit(0L).as("k"), col("user_id").as("user_a"),
          col("s0").as("a_start"), col("e0").as("a_end"))
      val b = sess.filter(col("user_id") % 2 === 1)
        .select(lit(0L).as("k"), col("user_id").as("user_b"),
          col("s0").as("b_start"), col("e0").as("b_end"))
      Temporal.intervalJoinBucketed(a, b, "k", "a_start", "a_end",
        "b_start", "b_end", width = 86400000000L)
        .groupBy(col("user_a"), col("r_user_b").as("user_b"))
        .agg(count(lit(1)).as("n_overlaps"))
    }),

    // weighted exact-k sample per source (A-ES): inclusion chance
    // proportional to n_chars, zero RNG state, reproducible — ranking
    // key is ln(u)/w on md5-uniforms, identical IEEE in both engines
    "q_weighted_sample" -> ((s, dir) =>
      Curation.weightedSampleK(t(s, dir, "documents"), "doc_id", "source",
        "n_chars", k = 10)),

    // TPC-H q6 shape: tight-filter scan aggregate — every predicate
    // reaches the parquet scan (PushedFilters), two columns read for
    // the product, zero joins; the purest pushdown/pruning probe
    "q6_revenue_delta" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(expr("CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE)")
          .as("revenue"))),

    // incremental aggregate maintenance: the hourly rollup REBUILT by
    // merging two independently-aggregated snapshot halves (partial
    // states re-aggregated — the nightly-delta-into-running-state
    // pattern); the oracle computes the rollup directly, so the hash
    // match PROVES the merge is lossless bit-for-bit (BIGINT algebra)
    "q_rollup_merge" -> ((s, dir) => {
      def half(parity: Int) = EventReplay.loadEvents(s, dir)
        .filter(col("event_id") % 2 === parity)
        .groupBy(expr("ts DIV 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)").as("cents"))
      half(0).unionByName(half(1))
        .groupBy("hour_bucket", "event_type")
        .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
    }),

    // dynamic pivot: per-user event-type counts to wide columns (the
    // DataFrame pivot surface, with a FIXED value list so the output
    // schema is deterministic and plan-time known)
    "q_pivot" -> ((s, dir) =>
      EventReplay.loadEvents(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("signup", "click", "purchase", "view", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("user_id"), col("signup").as("n_signup"), col("click").as("n_click"),
          col("purchase").as("n_purchase"), col("view").as("n_view"),
          col("error").as("n_error"))),

    // integer-exact anomaly flags: hourly counts per event type whose
    // squared deviation exceeds 9 sigma^2, tested as
    // (n*x - S)^2 > 9*(n*Q - S^2) — pure BIGINT cross-multiplication,
    // no float mean/std (a float variance is summation-order-sensitive)
    "q_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = EventReplay.loadEvents(s, dir)
        .groupBy(expr("ts DIV 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy(col("event_type"))
      hourly
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("s", sum(col("x")).over(w))
        .withColumn("q", sum(col("x") * col("x")).over(w))
        .filter(pow2(col("n") * col("x") - col("s")) > lit(9L) *
          (col("n") * col("q") - col("s") * col("s")))
        .select(col("hour_bucket"), col("event_type"), col("x"))
    }),

    // Markov next-event transition matrix per user timeline: one
    // lead() window + one count aggregate
    "q_transitions" -> ((s, dir) => {
      val ev = EventReplay.loadEvents(s, dir)
        .select(col("user_id"), expr("ts DIV 1000").as("tsu"),
          col("event_id"), col("event_type"))
      Drift.transitions(ev, "user_id", "tsu", "event_id", "event_type")
    }),

    // PSI distribution drift between the even/odd doc_id snapshot
    // halves, over word-count deciles per source; per-bin fixed-point
    // contributions summed as BIGINT (partitioning-independent)
    "q_psi" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("wc", size(Dedup.tokens(col("text"))).cast("long"))
        .withColumn("bin", least(expr("wc DIV 20"), lit(9L)))
      Drift.psi(
        docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 === 1),
        "source", "bin", nBins = 10)
    }),

    // the same PSI through the PERSISTED reference-histogram artifact:
    // stamped writeReference build (n_bins rides in the header) ->
    // psiFromCounts with the grid taken FROM the artifact — same
    // oracle as q_psi (the monitoring deployment's path must score
    // drift identically to the inline two-corpus comparison)
    "q_psi_ref" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("wc", size(Dedup.tokens(col("text"))).cast("long"))
        .withColumn("bin", least(expr("wc DIV 20"), lit(9L)))
      val path = runTmp("psi_ref", dir)
      graft.streaming.StreamingDrift.writeReference(
        docs.filter(col("doc_id") % 2 === 0), "source", "bin", nBins = 10, path)
      val (ref, nBins) = graft.streaming.StreamingDrift.referenceCounts(s, path)
      Drift.psiFromCounts(ref,
        Drift.binCounts(docs.filter(col("doc_id") % 2 === 1), "source", "bin"),
        "source", "bin", nBins)
    }),

    // EXACT Jaccard >= 19/20 self-join via prefix filtering (PPJoin
    // family): rarest-first prefixes prune the brute-force quadratic,
    // every surviving test is integer cross-multiplication — the
    // exact counterpart to the MinHash approximation. tau=0.95: on
    // this template-heavy corpus lower thresholds make the RESULT
    // itself quadratic (tau=0.8 admits ~3M true pairs at sf0.1 —
    // that's the answer, not a blow-up; DuckDB needs 56 s for it too)
    "q_setsim_join" -> ((s, dir) =>
      SetSimJoin.jaccardJoin(t(s, dir, "documents"), "text", "doc_id",
        tauNum = 19, tauDen = 20)),

    // CUBE rollup with grouping_id: all four aggregation grains of
    // (returnflag, linestatus) in one pass — Spark plans cube as ONE
    // scan + Expand (4 rows per input) + a single hash aggregate, the
    // multi-grain report a 100 TB fact table wants instead of 4 scans
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          grouping_id().cast("long").as("gid"))),

    // CDC MERGE apply: the events table read as a change log
    // (error = delete tombstone, everything else upserts `value`);
    // final snapshot = last writer per user, trailing deletes drop
    // the row — one max_by aggregate, no window sort (Dimensions)
    "q_cdc_apply" -> ((s, dir) => {
      val changes = EventReplay.loadEvents(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
          col("value"))
      Dimensions.cdcApply(changes, "user_id", "ts", "event_id", "op", "value")
    }),

    // overlapping sliding-window chunk split (RAG/long-context prep):
    // 16-token chunks every 8 tokens with source offsets; the grid is
    // generated in-plan, zero shuffle (Curation.chunkSplit)
    "q_chunk_split" -> ((s, dir) =>
      Curation.chunkSplit(t(s, dir, "documents"), "text", "doc_id",
        window = 16, stride = 8)),

    // triangle participation counts over a deterministic co-occurrence
    // graph derived from events (user ~ hashed props key); the
    // degree-ordered orientation bounds wedge enumeration by the
    // arboricity — hubs never go quadratic (plans/Triangles)
    "q_triangles" -> ((s, dir) => {
      val edges = EventReplay.loadEvents(s, dir)
        .select(col("user_id").as("a"),
          ((col("user_id") + get_json_object(col("props"), "$.k").cast("long") + 1L)
            % 150L).as("b"))
      graft.plans.Triangles.triangleCorners(edges)
    }),

    // join-key skew diagnostics: per-key row counts, share and
    // key-vs-uniform skew ratio for the orders->customer join key —
    // the report that decides salting/AQE-skew-split thresholds; one
    // map-side-combined count + a broadcast 1-row total + TakeOrdered
    "q_skew" -> ((s, dir) => {
      val cnt = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("n_rows"))
      val tot = cnt.agg(sum(col("n_rows")).as("total"), count(lit(1)).as("n_keys"))
      cnt.crossJoin(broadcast(tot))
        .select(col("key"), col("n_rows"),
          expr("n_rows * 1000 DIV total").as("permille"),
          expr("n_rows * n_keys * 1000 DIV total").as("skew_x1000"))
        .orderBy(col("n_rows").desc, col("key"))
        .limit(20)
    }),

    // per-stratum winsorization: clamp event values to exact rank-k
    // [p5, p95] order statistics in INTEGER cents (interpolated
    // percentiles are engine-specific float formulas — rank cutoffs
    // are not); outlier counts + clamped totals (QualityChecks)
    "q_winsorize" -> ((s, dir) =>
      QualityChecks.winsorizedStats(EventReplay.loadEvents(s, dir),
        "event_type", "value", "event_id")),

    // per-doc token Shannon entropy (lexical-diversity signal);
    // fixed-point ln contributions summed as BIGINT (TextAnalysis)
    "q_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "text", "doc_id")),

    // the persistable LSH band index ITSELF (what production pipelines
    // store and what q_neardup_incremental probes) — oracle-verifying
    // the artifact, not just its consumers (Dedup.bandKeys + capBucket)
    "q_band_index" -> ((s, dir) =>
      Dedup.capBucket(
        Dedup.bandKeys(
          t(s, dir, "documents").select(col("doc_id"), col("text").as("__text")),
          shingleN = 3, bands = 6, rows = 2),
        "band_key", "doc_id", 128)),

    // sketch-based join-size estimation (the optimizer cardinality
    // primitive): |events JOIN orders ON user_id = custkey| estimated
    // from two tiny CMS counter tables alone — never a scan; the exact
    // count rides along as the accuracy report (Sketches.cmsJoinSize)
    "q_join_size" -> ((s, dir) => {
      val d = 4; val w = 512
      val sa = Sketches.cmsBuildBatch(EventReplay.loadEvents(s, dir)
        .select(col("user_id").cast("string").as("word")), d, w)
      val sb = Sketches.cmsBuildBatch(t(s, dir, "orders")
        .select(col("o_custkey").cast("string").as("word")), d, w)
      val exact = EventReplay.loadEvents(s, dir).select(col("user_id"))
        .join(t(s, dir, "orders").select(col("o_custkey").as("user_id")), "user_id")
        .agg(count(lit(1)).as("exact_join_n"))
      Sketches.cmsJoinSize(sa, sb).crossJoin(broadcast(exact))
    }),

    // per-group top-k (largest docs per source): the rank filter runs
    // as a partial map-side WindowGroupLimit, so each map task forwards
    // at most k rows per group — a hot source never floods one reducer
    "q_group_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
    }),

    // k-anonymity small-cell suppression: publish an (hour, type) cell
    // only when >= 5 distinct users back it; suppressed cells survive
    // as -1 so the publication schema is total (the privacy gate every
    // shared analytics export runs)
    "q_kanon" -> ((s, dir) =>
      EventReplay.loadEvents(s, dir)
        .groupBy(expr("ts DIV 3600000000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("hour_bucket"), col("event_type"),
          when(col("n_users") >= 5, col("n_events")).otherwise(lit(-1L)).as("n_published"),
          when(col("n_users") >= 5, lit(1L)).otherwise(lit(0L)).as("published"))),

    // INCREMENTAL near-dup: the doc_id % 3 == 0 slice arrives as a new
    // batch and probes the rest (the "historical index") — candidates
    // are prior x probe band collisions only, the MinHash sibling of
    // q_bloom_dedup's exact incremental membership (Dedup)
    "q_neardup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.nearDupAgainst(
        docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0),
        "text", "doc_id", shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
    }),

    // the same incremental probe through the PERSISTED band-index
    // round-trip: fresh stamped build (ArtifactHeader sidecar) ->
    // header-trusted probe pulling every index-binding parameter FROM
    // the artifact — the q_ann_probe_incremental convention for the
    // near-dup family; same oracle as q_neardup_incremental (the
    // persisted path must answer identically)
    "q_neardup_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val path = runTmp("band_index", dir)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      graft.streaming.StreamingNearDup.appendToIndex(
        Dedup.capBucket(
          Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
            shingleN = 3, bands = 6, rows = 2),
          "band_key", "doc_id", 128),
        path, bucketCap = 128, stampParams = Some((3, 6, 2)))
      Dedup.nearDupAgainstIndexAt(s, prior, docs.filter(col("doc_id") % 3 === 0),
        path, "text", "doc_id", threshold = 0.4)
    }),

    // DELETION from the near-dup index (rights-removal hits the dedup
    // family too): tombstoned prior docs leave the index scan, so
    // they can never become candidates and their winner text is never
    // fetched — exclusion happens AFTER the admission-time bucket
    // cap, which the oracle mirrors
    "q_neardup_delete" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val path = runTmp("band_index_del", dir)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      graft.streaming.StreamingNearDup.appendToIndex(
        Dedup.capBucket(
          Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
            shingleN = 3, bands = 6, rows = 2),
          "band_key", "doc_id", 128),
        path, bucketCap = 128, stampParams = Some((3, 6, 2)))
      Dedup.neardupIndexDeleteAt(s, path,
        prior.filter(col("doc_id") % 7 === 1).select("doc_id"))
      Dedup.nearDupAgainstIndexAt(s, prior, docs.filter(col("doc_id") % 3 === 0),
        path, "text", "doc_id", threshold = 0.4)
    }),

    // the same deletion made PHYSICAL (neardupTombstoneFold on the
    // index; the winner-store half is spec-held — this query's prior
    // side is a frame, not a persisted store): fold is
    // result-invariant, so it shares q_neardup_delete's oracle
    "q_neardup_delete_fold" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val path = runTmp("band_index_delf", dir)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      graft.streaming.StreamingNearDup.appendToIndex(
        Dedup.capBucket(
          Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
            shingleN = 3, bands = 6, rows = 2),
          "band_key", "doc_id", 128),
        path, bucketCap = 128, stampParams = Some((3, 6, 2)))
      Dedup.neardupIndexDeleteAt(s, path,
        prior.filter(col("doc_id") % 7 === 1).select("doc_id"))
      Dedup.neardupTombstoneFold(s, path)
      Dedup.nearDupAgainstIndexAt(s, prior, docs.filter(col("doc_id") % 3 === 0),
        path, "text", "doc_id", threshold = 0.4)
    }),

    // runtime bloom semi-join filter: a selective dim filter (one
    // nation's suppliers) prunes the fact scan via a broadcast bit
    // array BEFORE any join — the fact side sees a pure codegen
    // projection, zero shuffle. The accounting row audits the
    // contract: false negatives must be 0, revenue over survivors
    // equals the plain join's
    "q_bloom_join_prune" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").filter(col("s_nationkey") === 7)
      val bits = Par.bloomBits(sup, "s_suppkey")
      val dimKeys = sup.select(col("s_suppkey").as("k")).distinct()
        .withColumn("__in", lit(1L))
      // the fact side pays 3 md5 probes per row — spread a
      // too-few-splits scan (single-row-group testdata) across the
      // cluster first; no-op on production multi-split inputs, and the
      // projection is already cut to two columns so the exchange ships
      // the minimum
      Par.spread(t(s, dir, "lineitem")
          .select(col("l_suppkey").as("k"),
            expr("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))").as("rev")))
        .withColumn("__pass", Par.bloomMightContain(bits, col("k")))
        .join(broadcast(dimKeys), Seq("k"), "left")
        .agg(count(lit(1)).as("n_fact"),
          sum(when(col("__pass"), 1L).otherwise(0L)).as("n_bloom_pass"),
          sum(when(col("__in").isNotNull, 1L).otherwise(0L)).as("n_true_match"),
          sum(when(col("__pass") && col("__in").isNull, 1L).otherwise(0L)).as("n_false_pos"),
          sum(when(!col("__pass") && col("__in").isNotNull, 1L).otherwise(0L)).as("n_false_neg"),
          expr("CAST(CAST(sum(CASE WHEN __in IS NOT NULL THEN rev END) AS DECIMAL(18,4)) AS DOUBLE)")
            .as("revenue"))
    }),

    // rights-removal END-TO-END (round 16): ONE forgetDocuments call
    // sequences tombstone -> winner-store-first fold -> band/ANN
    // folds -> gram-index rebuild from the surviving corpus. This
    // gate returns the near-dup probe surface afterwards, with the
    // prior TEXT read from the FOLDED winner store — so the oracle's
    // prior exclusion proves the candidate AND text surfaces forgot
    // the docs in the same call that also folded the ANN artifact
    // (that surface is gated by q_forget_ann, the gram surface by
    // q_forget_grams; the four-surface single-call contract is
    // spec-held in ForgetSpec)
    "q_forget" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val bandPath = runTmp("forget_band", dir)
      val storePath = runTmp("forget_store", dir)
      val gramPath = runTmp("forget_gram", dir)
      val annPath = runTmp("forget_annp", dir)
      Seq(bandPath, storePath, gramPath, annPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      val emb = t(s, dir, "embeddings")
      // the four artifact builds are independent (disjoint paths, no
      // read-across); overlap them so each build's task tail back-fills
      // the others' freed cores (guide §2.6) — the forget verb and the
      // probe still see every artifact complete
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 6, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 6, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => graft.streaming.StreamingSubstringDedup.appendToIndex(
          prior, "text", "doc_id", gramPath, k = 8),
        () => Similarity.annIndexWrite(
          emb.filter(col("vec_id") % 3 =!= 0), annPath, IvfPqSpec(64)))
      graft.operators.Forget.forgetDocuments(s,
        prior.filter(col("doc_id") % 7 === 1).select("doc_id"),
        graft.operators.Forget.Targets(
          annIndexPaths = Seq(annPath),
          bandIndexPath = Some(bandPath),
          winnerStorePath = Some(storePath),
          gramIndexPath = Some(gramPath)))
      Dedup.nearDupAgainstIndexAt(s, s.read.parquet(storePath),
        docs.filter(col("doc_id") % 3 === 0), bandPath,
        "text", "doc_id", threshold = 0.4)
    }),

    // the sketch surface of the same composition (round 18): the one
    // forgetDocuments call RETRACTS the deleted docs' own cell counts
    // from the stamped CMS log in phase 2.5 (before the store fold
    // erases their texts) — no rebuild, O(deleted docs). The estimate
    // over surviving-corpus probe words must equal the sketch DuckDB
    // builds from the surviving corpus directly: retraction is exact
    // cell algebra, so a leak (stale counts, double subtraction on the
    // internal retry paths) hash-mismatches.
    "q_forget_cms_retract" -> ((s, dir) => {
      import graft.sources.DeltaLogCompaction
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 5 =!= 0)
      val bandPath = runTmp("forgetcms_band", dir)
      val storePath = runTmp("forgetcms_store", dir)
      val cmsPath = runTmp("forgetcms_cms", dir)
      Seq(bandPath, storePath, cmsPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      // the band index here is required plumbing (the winner store
      // folds through its tombstone sidecar), not this gate's truth —
      // the minimal 1-band shape keeps the scaffold cheap. The three
      // builds touch disjoint paths — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 1, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 1, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => {
          graft.sources.ArtifactHeader.validateOrStamp(s, cmsPath, "cms",
            graft.streaming.StreamingCms.cmsParams(4, 1024))
          DeltaLogCompaction.appendStamped(
            Sketches.cmsBuildBatch(
              prior.select(explode(Dedup.tokens(col("text"))).as("word")), 4, 1024),
            cmsPath, 0L)
        })
      graft.operators.Forget.forgetDocuments(s,
        prior.filter(col("doc_id") % 7 === 1).select("doc_id"),
        graft.operators.Forget.Targets(
          bandIndexPath = Some(bandPath),
          winnerStorePath = Some(storePath),
          retractions = Seq(graft.operators.Forget.SumLogRetraction(
            "cms", cmsPath, (d, st) =>
              graft.streaming.StreamingCms.retract(d, cmsPath, st)))))
      val probes = docs
        .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 1 &&
          col("doc_id") % 101 === 7)
        .select(explode(Dedup.tokens(col("text"))).as("word")).distinct()
      graft.streaming.StreamingCms.estimateFrom(s, cmsPath, probes)
        .select(col("word"), col("est_n").cast("long").as("est_n"))
    }),

    // the SQL face of the same composition: FORGET ... IN CMS SKETCH
    // parses to the identical Targets (third gate on the
    // q_forget_cms_retract truth — parser round-trip, not operator)
    "q_sql_forget_cms" -> ((s, dir) => {
      import graft.sources.DeltaLogCompaction
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 5 =!= 0)
      val bandPath = runTmp("sforgc_band", dir)
      val storePath = runTmp("sforgc_store", dir)
      val cmsPath = runTmp("sforgc_cms", dir)
      Seq(bandPath, storePath, cmsPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      // the band index here is required plumbing (the winner store
      // folds through its tombstone sidecar), not this gate's truth —
      // the minimal 1-band shape keeps the scaffold cheap. The three
      // builds touch disjoint paths — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 1, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 1, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => {
          graft.sources.ArtifactHeader.validateOrStamp(s, cmsPath, "cms",
            graft.streaming.StreamingCms.cmsParams(4, 1024))
          DeltaLogCompaction.appendStamped(
            Sketches.cmsBuildBatch(
              prior.select(explode(Dedup.tokens(col("text"))).as("word")), 4, 1024),
            cmsPath, 0L)
        })
      s.sql(s"FORGET DOCUMENTS FROM '$dir' " +
        "WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1 " +
        s"IN BAND INDEX '$bandPath' WITH WINNER STORE '$storePath' " +
        s"IN CMS SKETCH '$cmsPath'").collect()
      val probes = docs
        .filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 =!= 1 &&
          col("doc_id") % 101 === 7)
        .select(explode(Dedup.tokens(col("text"))).as("word")).distinct()
      graft.streaming.StreamingCms.estimateFrom(s, cmsPath, probes)
        .select(col("word"), col("est_n").cast("long").as("est_n"))
    }),

    // the gram surface of the same composition: after the one call,
    // the substring-incremental probe dedups against the REBUILT gram
    // index — grams owed only to forgotten docs are gone, shared
    // grams survive through their surviving owners (the oracle
    // derives the index from the surviving prior corpus directly)
    "q_forget_grams" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 5 =!= 0)
      val bandPath = runTmp("forgetg_band", dir)
      val storePath = runTmp("forgetg_store", dir)
      val gramPath = runTmp("forgetg_gram", dir)
      Seq(bandPath, storePath, gramPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      // scaffolding: this gate's truth is the gram surface; the band
      // index only hosts the tombstone sidecar the store fold reads —
      // the minimal 1-band shape keeps the fixture cheap. The three
      // builds touch disjoint paths — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 1, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 1, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => graft.streaming.StreamingSubstringDedup.appendToIndex(
          prior, "text", "doc_id", gramPath, k = 8))
      graft.operators.Forget.forgetDocuments(s,
        prior.filter(col("doc_id") % 7 === 1).select("doc_id"),
        graft.operators.Forget.Targets(
          bandIndexPath = Some(bandPath),
          winnerStorePath = Some(storePath),
          gramIndexPath = Some(gramPath)))
      Curation.substringDedupAgainstIndex(
        graft.streaming.StreamingSubstringDedup.indexFor(s, gramPath, 8),
        docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", k = 8)
    }),

    // the COUNTED gram strategy under the same truth: ownership
    // counts decrement from the deleted docs' own texts (O(deleted
    // docs), corpus-size-independent) instead of rebuilding from the
    // surviving corpus — the probe against the live set must equal
    // the rebuild path's result exactly, so both gates share one
    // oracle
    "q_forget_grams_counted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 5 =!= 0)
      val bandPath = runTmp("forgetc_band", dir)
      val storePath = runTmp("forgetc_store", dir)
      val gramPath = runTmp("forgetc_gram", dir)
      Seq(bandPath, storePath, gramPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      // scaffolding: the gate's truth is the counted gram surface; the
      // band index only hosts the store fold's tombstone sidecar. The
      // three builds touch disjoint paths — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 1, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 1, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => graft.streaming.StreamingSubstringDedup.appendToIndexCounted(
          prior, "text", "doc_id", gramPath, k = 8, stampId = 0L))
      graft.operators.Forget.forgetDocuments(s,
        prior.filter(col("doc_id") % 7 === 1).select("doc_id"),
        graft.operators.Forget.Targets(
          bandIndexPath = Some(bandPath),
          winnerStorePath = Some(storePath),
          gramIndexPath = Some(gramPath)))
      Curation.substringDedupAgainstIndex(
        graft.streaming.StreamingSubstringDedup.countedLiveFor(s, gramPath, 8),
        docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", k = 8)
    }),

    // the counted strategy driven END-TO-END through the SQL face:
    // WITH REMOVAL STAMP carries the removal REQUEST's own id into
    // the decrement (the clause that remedies the byte-identical
    // re-ingest refusal — decrementCounted names it in its error);
    // same probe, same truth, same oracle as the Scala-face twins
    "q_sql_forget_stamped" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 5 =!= 0)
      val bandPath = runTmp("sforgetc_band", dir)
      val storePath = runTmp("sforgetc_store", dir)
      val gramPath = runTmp("sforgetc_gram", dir)
      Seq(bandPath, storePath, gramPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      // scaffolding: this gate's truth is the gram surface; the band
      // index only hosts the tombstone sidecar the store fold reads —
      // the minimal 1-band shape keeps the fixture cheap. The three
      // builds touch disjoint paths — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 1, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 1, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => graft.streaming.StreamingSubstringDedup.appendToIndexCounted(
          prior, "text", "doc_id", gramPath, k = 8, stampId = 0L))
      s.sql(s"FORGET DOCUMENTS FROM '$dir' " +
        "WHERE doc_id % 5 <> 0 AND doc_id % 7 = 1 " +
        s"IN BAND INDEX '$bandPath' WITH WINNER STORE '$storePath' " +
        s"IN GRAM INDEX '$gramPath' WITH REMOVAL STAMP 1").collect()
      Curation.substringDedupAgainstIndex(
        graft.streaming.StreamingSubstringDedup.countedLiveFor(s, gramPath, 8),
        docs.filter(col("doc_id") % 5 === 0), "text", "doc_id", k = 8)
    }),

    // the ANN surface through the same verb (ann-only targets): the
    // forget call tombstones AND folds in one sequence, so the probe
    // answers from the physically-clean generation — shares
    // q_ann_delete's oracle
    "q_forget_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = runTmp("forget_ann1", dir)
      Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), path, IvfPqSpec(64))
      graft.operators.Forget.forgetDocuments(s,
        emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 === 1)
          .select("vec_id"),
        graft.operators.Forget.Targets(annIndexPaths = Seq(path)))
      Similarity.annProbeAt(s, path,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
    }),

    // forget over a ROTATED (PCA-composed) ANN artifact: the fold
    // must carry the pcarot sidecar or the projecting probe refuses —
    // and the probe here is made ORACLE-EXACT by construction:
    // nprobe = every list and rerank >= the artifact makes the ADC
    // stage a pure candidate enumeration of the FOLDED index (a
    // leaked forgotten row would surface in the exact top-k and
    // hash-mismatch), and the exact-cosine refine in the ORIGINAL
    // space reduces the result to exact top-k over the surviving
    // corpus — SQL-expressible with no eigen algebra in the oracle.
    // A lifecycle-correctness gate, not a probe-efficiency one (the
    // bounded-nprobe probe cost is q_ann_ivfpq's gate).
    "q_forget_ann_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val prior = emb.filter(col("vec_id") % 3 =!= 0)
      val path = runTmp("forget_annpca", dir)
      Similarity.annIndexWrite(prior, path, RotatedSpec(64, Pca(32)))
      graft.operators.Forget.forgetDocuments(s,
        prior.filter(col("vec_id") % 7 === 1).select("vec_id"),
        graft.operators.Forget.Targets(annIndexPaths = Seq(path)))
      Similarity.annRefineAt(s, path, prior,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24),
        k = 5, nprobe = 16, rerank = 1 << 20)
    }),

    // the SQL face: FORGET DOCUMENTS drives the composition from a
    // predicate over the documents table (ids outside the artifact
    // fold as zero rows, by design — documents at some SFs outnumber
    // embeddings); probe shares q_ann_delete's oracle
    "q_sql_forget" -> ((s, dir) => {
      val path = runTmp("sql_forget", dir)
      s.sql(s"BUILD ANN INDEX FROM '$dir' AT '$path'").collect()
      s.sql(s"FORGET DOCUMENTS FROM '$dir' WHERE doc_id % 7 = 1 " +
        s"IN ANN INDEX '$path'").collect()
      s.sql(s"PROBE ANN INDEX '$path' FROM '$dir'")
    }),

    // PROVE-OF-ABSENCE (the compliance face of rights-removal): ids
    // tombstoned but NOT yet folded — the audit must report every
    // physical row still stored, every id in the live sidecars, and
    // ZERO probe-reachable rows; the oracle derives all three counts
    // per surface from the base tables (the band surface through the
    // full capped band-index algebra)
    "q_forget_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val bandPath = runTmp("audit_band", dir)
      val storePath = runTmp("audit_store", dir)
      val annPath = runTmp("audit_ann", dir)
      Seq(bandPath, storePath, annPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      val emb = t(s, dir, "embeddings")
      // three independent artifact builds — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 6, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 6, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => Similarity.annIndexWrite(
          emb.filter(col("vec_id") % 3 =!= 0), annPath, IvfPqSpec(64)))
      val idsDf = prior.filter(col("doc_id") % 7 === 1).select("doc_id")
      // collect the id set ONCE (bounded) — the two deletes and the
      // audit previously each re-collected the same frame
      val ids = graft.sources.Tombstones.collectBounded(idsDf, "q_forget_audit", "FORGET")
      Dedup.neardupIndexDeleteAt(s, bandPath, ids)
      Similarity.annIndexDeleteAt(s, annPath, ids)
      graft.operators.Forget.auditDocuments(s, ids,
        graft.operators.Forget.Targets(
          annIndexPaths = Seq(annPath),
          bandIndexPath = Some(bandPath),
          winnerStorePath = Some(storePath)))
    }),

    // the same audit through the SQL verb (predicate over documents
    // picks the identical id set) — shares q_forget_audit's oracle
    "q_sql_forget_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 3 =!= 0)
      val bandPath = runTmp("saudit_band", dir)
      val storePath = runTmp("saudit_store", dir)
      val annPath = runTmp("saudit_ann", dir)
      Seq(bandPath, storePath, annPath).foreach { pp =>
        val p = new org.apache.hadoop.fs.Path(pp)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      }
      val emb = t(s, dir, "embeddings")
      // three independent artifact builds — overlap them (guide §2.6)
      Par.jobs(
        () => graft.streaming.StreamingNearDup.appendToIndex(
          Dedup.capBucket(
            Dedup.bandKeys(prior.select(col("doc_id"), col("text").as("__text")),
              shingleN = 3, bands = 6, rows = 2),
            "band_key", "doc_id", 128),
          bandPath, bucketCap = 128, stampParams = Some((3, 6, 2))),
        () => prior.select("doc_id", "text").write.mode("overwrite").parquet(storePath),
        () => Similarity.annIndexWrite(
          emb.filter(col("vec_id") % 3 =!= 0), annPath, IvfPqSpec(64)))
      val idsDf = prior.filter(col("doc_id") % 7 === 1).select("doc_id")
      // one bounded collect feeds both deletes (they re-collected the
      // same frame before)
      val ids = graft.sources.Tombstones.collectBounded(idsDf,
        "q_sql_forget_audit", "FORGET")
      Dedup.neardupIndexDeleteAt(s, bandPath, ids)
      Similarity.annIndexDeleteAt(s, annPath, ids)
      s.sql(s"AUDIT DOCUMENTS FROM '$dir' " +
        "WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1 " +
        s"IN ANN INDEX '$annPath' " +
        s"IN BAND INDEX '$bandPath' WITH WINNER STORE '$storePath'")
    })
  )

  /** DuckDB equivalents, run by the driver on the same parquet tables.
    * Tables are referenced by bare name (the driver registers views).
    */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_revenue_orders" ->
      """SELECT o_orderkey,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |b AS (SELECT user_id, tsu, event_id,
        |    CASE WHEN prev_ts IS NULL OR tsu - prev_ts > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |sess AS (SELECT user_id, tsu,
        |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  max(tsu) - min(tsu) AS duration_us
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_json_props" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |FROM events WHERE event_id % 10 = 0""".stripMargin,

    "q_hourly_rollup" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_mv_rewrite" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day_bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_replay_per_user" ->
      """WITH ls AS (
        |  SELECT user_id, max(ts) AS sts FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT e.user_id,
        |  CAST(CAST(sum(CASE
        |    WHEN e.event_type = 'signup' AND e.ts = ls.sts THEN e.value
        |    WHEN e.event_type = 'purchase' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN e.value
        |    WHEN e.event_type = 'click' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN 1.0
        |    ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS state
        |FROM events e LEFT JOIN ls ON e.user_id = ls.user_id
        |GROUP BY e.user_id""".stripMargin,


    "q_replay_affine" ->
      """WITH ls AS (
        |  SELECT user_id, max(ts) AS sts FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT e.user_id,
        |  CAST(CAST(sum(CASE
        |    WHEN e.event_type = 'signup' AND e.ts = ls.sts THEN e.value
        |    WHEN e.event_type = 'purchase' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN e.value
        |    WHEN e.event_type = 'click' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN 1.0
        |    ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS state
        |FROM events e LEFT JOIN ls ON e.user_id = ls.user_id
        |GROUP BY e.user_id""".stripMargin,

    "q_replay_incremental" ->
      """WITH ls AS (
        |  SELECT user_id, max(ts) AS sts FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT e.user_id,
        |  CAST(CAST(sum(CASE
        |    WHEN e.event_type = 'signup' AND e.ts = ls.sts THEN e.value
        |    WHEN e.event_type = 'purchase' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN e.value
        |    WHEN e.event_type = 'click' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN 1.0
        |    ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS state
        |FROM events e LEFT JOIN ls ON e.user_id = ls.user_id
        |GROUP BY e.user_id""".stripMargin,

    "q_linearize" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
        |FROM events""".stripMargin,

    // the SQL-syntax surfaces must produce bit-identical results to
    // their DataFrame twins, so they share those oracles verbatim
    "q_sql_materialize" ->
      """WITH ls AS (
        |  SELECT user_id, max(ts) AS sts FROM events WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT e.user_id,
        |  CAST(CAST(sum(CASE
        |    WHEN e.event_type = 'signup' AND e.ts = ls.sts THEN e.value
        |    WHEN e.event_type = 'purchase' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN e.value
        |    WHEN e.event_type = 'click' AND (ls.sts IS NULL OR e.ts > ls.sts) THEN 1.0
        |    ELSE 0 END) AS DECIMAL(18,2)) AS DOUBLE) AS state
        |FROM events e LEFT JOIN ls ON e.user_id = ls.user_id
        |GROUP BY e.user_id""".stripMargin,

    "q_sql_linearize" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
        |FROM events""".stripMargin,

    // RECOMPUTING oracle: per shelved event, the substitution algebra
    // (token i rewritten, everything else untouched) and the empty
    // minimized dep set — DuckDB independently rebuilds each datum
    "q_sql_shelve" ->
      """SELECT CAST(i.i AS BIGINT) AS event_idx,
        |  'a' || lpad(CAST(i.i AS VARCHAR), 2, '0') AS search,
        |  'b' || lpad(CAST(i.i AS VARCHAR), 2, '0') AS replacement,
        |  (SELECT string_agg(
        |     CASE WHEN j.j = i.i THEN 'b' ELSE 'a' END || lpad(CAST(j.j AS VARCHAR), 2, '0'),
        |     '|' ORDER BY j.j) FROM range(16) j(j)) AS new_datum,
        |  CAST(0 AS BIGINT) AS n_deps
        |FROM range(16) i(i)""".stripMargin,

    // identical recomputation: the FROM form must yield exactly what
    // the inline form yields on the same event set
    "q_sql_shelve_from" ->
      """SELECT CAST(i.i AS BIGINT) AS event_idx,
        |  'a' || lpad(CAST(i.i AS VARCHAR), 2, '0') AS search,
        |  'b' || lpad(CAST(i.i AS VARCHAR), 2, '0') AS replacement,
        |  (SELECT string_agg(
        |     CASE WHEN j.j = i.i THEN 'b' ELSE 'a' END || lpad(CAST(j.j AS VARCHAR), 2, '0'),
        |     '|' ORDER BY j.j) FROM range(16) j(j)) AS new_datum,
        |  CAST(0 AS BIGINT) AS n_deps
        |FROM range(16) i(i)""".stripMargin,

    // DERIVED oracle (sequential-semantics model, like q_shelve_merge):
    // DuckDB cannot run shelve/merge, but it CAN run the documented
    // sequential model the 4-mode property holds the engine equal to —
    // the oracle replays it instead of pinning the outcome
    "q_sql_merge" -> shelveMergeDerivedOracle(16),

    "q_dedup_insert" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    sha256(concat_ws('|', event_type,
        |      CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), props)) AS content_hash
        |  FROM events),
        |inc AS (SELECT content_hash, event_id FROM ev WHERE event_id % 3 = 0),
        |ex AS (SELECT DISTINCT content_hash FROM ev WHERE event_id % 3 <> 0)
        |SELECT i.content_hash, min(i.event_id) AS keep_event_id
        |FROM inc i ANTI JOIN ex ON i.content_hash = ex.content_hash
        |GROUP BY i.content_hash""".stripMargin,

    "q_closure" ->
      """WITH RECURSIVE clo AS (
        |  SELECT event_id AS id FROM events WHERE event_id % 97 = 0
        |  UNION
        |  SELECT id // 2 FROM clo WHERE id > 0)
        |SELECT id FROM clo""".stripMargin,

    "q_frontier" ->
      """WITH st AS (SELECT event_id, user_id, ts FROM events WHERE user_id % 7 = 0),
        |edges AS (
        |  SELECT event_id AS id,
        |    lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dep
        |  FROM st),
        |deps AS (SELECT DISTINCT dep FROM edges WHERE dep IS NOT NULL)
        |SELECT s.event_id AS id FROM st s ANTI JOIN deps d ON s.event_id = d.dep""".stripMargin,

    "q_toposort" ->
      """WITH RECURSIVE d AS (
        |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS round
        |  UNION ALL
        |  SELECT e.event_id, d.round + 1 FROM events e JOIN d ON e.event_id // 2 = d.id
        |  WHERE e.event_id > 0 AND e.event_id < 3000)
        |SELECT id, round FROM d""".stripMargin,

    // DERIVED oracle: DuckDB cannot run shelve/merge, but shelve's
    // correctness contract IS equality to the sequential model (apply
    // each branch's substitution to the evolving datum in shelve
    // order; an event is admitted iff it changes the state) — the
    // 4-mode ShelveSpark property holds the engine to exactly that.
    // The oracle RE-RUNS the model as a recursive CTE instead of
    // pinning its outcome, so the gate derives final_datum/n_events/
    // n_applied from first principles and survives fixture edits
    // (including future no-op branches). Any drift in hashing, no-op
    // detection, independence classification or merge ordering still
    // breaks the match.
    "q_shelve_merge" -> shelveMergeDerivedOracle(48),

    "q_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_neardup_minhash" -> neardupOracle,
    "q_dup_clusters" -> dupClustersOracle,
    "q_canonical_pick" -> canonicalPickOracle,

    // mirrors Curation.temperatureMixture: sqrt is IEEE-correctly-
    // rounded in both engines, then floored to fixed point — all
    // downstream algebra is BIGINT
    "q_temp_mixture" ->
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS w_fp FROM s),
        |t AS (SELECT sum(w_fp) AS w_tot FROM w)
        |SELECT source, n_docs, n_tokens, w_fp,
        |  CAST((100000 * w_fp) // greatest(w_tot, 1) AS BIGINT) AS target_tokens,
        |  CAST(least(CAST(1000 AS HUGEINT),
        |    (((100000 * w_fp) // greatest(w_tot, 1)) * 1000) // greatest(n_tokens, 1)) AS BIGINT) AS rate_pm
        |FROM w, t""".stripMargin,

    // SQL-verb twins share the DataFrame queries' oracles verbatim
    "q_sql_dedup" ->
      """SELECT md5(lower(trim(text))) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q_sql_neardup" -> neardupOracle,

    // the q_decontaminate flag algebra inverted to survivors: corpus
    // docs NOT reaching 3 shared test 3-grams, full document rows
    "q_sql_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
        |test AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 3),
        |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 3),
        |flagged AS (SELECT doc_id FROM corp JOIN test USING (g)
        |  GROUP BY doc_id HAVING count(*) >= 3)
        |SELECT d.* FROM documents d
        |WHERE d.doc_id % 50 <> 3 AND d.doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 1, 0) + 1),
        |    i -> array_to_string(toks[i:i+1], ' '))) AS sh FROM t),
        |p AS (SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents WHERE doc_id % 50 = 0)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
        |FROM p JOIN s a ON a.doc_id = p.doc_a JOIN s b ON b.doc_id = p.doc_b""".stripMargin,

    "q_ngram_containment" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 1, 0) + 1),
        |    i -> array_to_string(toks[i:i+1], ' '))) AS sh FROM t),
        |p AS (SELECT doc_id AS doc_a, doc_id + 1 AS doc_b FROM documents WHERE doc_id % 50 = 0)
        |SELECT p.doc_a, p.doc_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / CAST(greatest(len(a.sh), 1) AS DOUBLE), 6) AS containment
        |FROM p JOIN s a ON a.doc_id = p.doc_a JOIN s b ON b.doc_id = p.doc_b""".stripMargin,

    "q_simhash" -> simhashOracle,

    "q_simhash_neardup" -> simhashNearDupOracle,

    "q_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |s AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 4, 0) + 1),
        |    i -> array_to_string(toks[i:i+4], ' '))) AS sh FROM t)
        |SELECT doc_id, list_min(list_transform(sh, x -> md5(x))) AS fingerprint
        |FROM s""".stripMargin,

    "q_text_stats" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_words,
        |  round(CAST(len(array_to_string(toks, '')) AS DOUBLE) / greatest(len(toks), 1), 6) AS mean_word_len,
        |  round(CAST(len(text) - len(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        |    / greatest(len(text), 1), 6) AS punct_ratio,
        |  round(CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |    / greatest(len(toks), 1), 6) AS stopword_ratio,
        |  round(CAST(len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE)
        |    / greatest(len(text), 1), 6) AS upper_ratio
        |FROM t""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin,

    "q_langid" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sc AS (
        |  SELECT doc_id, 'en' AS lang, len(list_filter(toks, x -> list_contains(['the','and','of','to','is'], x))) AS score FROM t
        |  UNION ALL SELECT doc_id, 'de', len(list_filter(toks, x -> list_contains(['der','die','und','ist','das'], x))) FROM t
        |  UNION ALL SELECT doc_id, 'fr', len(list_filter(toks, x -> list_contains(['le','la','et','est','les'], x))) FROM t
        |  UNION ALL SELECT doc_id, 'es', len(list_filter(toks, x -> list_contains(['el','la','y','es','los'], x))) FROM t
        |  UNION ALL SELECT doc_id, 'zh', len(list_filter(toks, x -> list_contains(['de','shi','le','wo','ni'], x))) FROM t),
        |best AS (SELECT doc_id, lang, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |  FROM sc)
        |SELECT doc_id,
        |  CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_guess,
        |  CAST(score AS BIGINT) AS marker_hits
        |FROM best WHERE rn = 1""".stripMargin,

    // mirrors TextAnalysis.normalizeText with the same planted
    // augmentation; nfc_normalize is DuckDB's OWN UAX #15
    // implementation — a genuinely independent recomputation
    "q_normalize" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN 'Cafe' || chr(769) || ' ' || chr(7) || ' ' || text ELSE text END AS text
        |  FROM documents),
        |n AS (SELECT doc_id, text,
        |    trim(regexp_replace(
        |      regexp_replace(nfc_normalize(text),
        |        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |      '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
        |  FROM aug)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_raw,
        |  CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
        |  CAST(CASE WHEN norm_text <> text THEN 1 ELSE 0 END AS BIGINT) AS changed,
        |  norm_text
        |FROM n""".stripMargin,

    // mirrors TextAnalysis.repetitionStats: per-gram counts via
    // group-by (the fold over the sorted array selects the identical
    // (cnt DESC, gram ASC) argmax), left joins for gram-less docs
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(toks) - 1, 0) + 1),
        |    i -> array_to_string(toks[i:i+1], ' '))) AS g FROM t),
        |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
        |top2 AS (SELECT doc_id, g, cnt FROM c2
        |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) = 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS g FROM t),
        |c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2),
        |d3 AS (SELECT doc_id, sum((cnt - 1) * len(g)) AS dup, sum(cnt * len(g)) AS tot
        |  FROM c3 GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_words,
        |  round(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS dup_word_frac,
        |  coalesce(top2.g, '') AS top2_gram,
        |  CAST(coalesce(top2.cnt, 0) AS BIGINT) AS top2_count,
        |  round(CAST(coalesce(top2.cnt, 0) AS DOUBLE) * len(coalesce(top2.g, '')) / greatest(len(t.text), 1), 6) AS top2_char_frac,
        |  round(CAST(coalesce(d3.dup, 0) AS DOUBLE) / greatest(coalesce(d3.tot, 0), 1), 6) AS dup3_char_frac
        |FROM t LEFT JOIN top2 USING (doc_id) LEFT JOIN d3 USING (doc_id)""".stripMargin,

    // mirrors TextAnalysis.bm25TopK: same tf/df/avgdl algebra, exact
    // binary-fraction constants (k1=1.5, b=0.75), per-term floor-e9
    // fixed-point contributions summed as BIGINTs
    "q_bm25" ->
      """WITH q AS (SELECT * FROM (VALUES (0, 'spark join window'), (1, 'hash merge batch'),
        |    (2, 'stream filter sort value'), (3, 'table scan agg')) AS q(query_id, qtext)),
        |terms AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
        |    unnest(string_split(qtext, ' ')) AS term FROM q),
        |tl AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS t
        |  FROM documents),
        |tl2 AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM tl),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM tl2),
        |tok AS (SELECT doc_id, dl, unnest(t) AS term FROM tl2),
        |tf AS (SELECT query_id, term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok JOIN terms USING (term) GROUP BY 1, 2, 3, 4),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
        |sc AS (SELECT query_id, doc_id,
        |    CAST(sum(CAST(floor(
        |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |        / (CAST(df AS DOUBLE) + 0.5))
        |      * (CAST(tf AS DOUBLE) * 2.5
        |        / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
        |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      * 1e9) AS BIGINT)) AS BIGINT) AS score_e9
        |  FROM tf JOIN dft USING (term) CROSS JOIN st GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_e9,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score_e9 DESC, doc_id) AS rank
        |  FROM sc)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score_e9
        |FROM r WHERE rank <= 10""".stripMargin,

    // mirrors TextAnalysis.tfidf: tf -> df-from-tf -> ln score, ranked
    // by the RAW double (ties = equal (tf, df) pairs, identical within
    // each engine) with term ASC tie-break
    "q_tfidf" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    CAST(tf.tf AS DOUBLE) * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)) AS raw
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, round(raw, 6) AS score
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY raw DESC, term) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,

    // mirrors q_pii: identical augmentation grid, identical RE2/Java
    // common-subset regexes, identical email -> IP -> phone redaction
    // order ('g' flag: DuckDB replaces first match only by default)
    "q_pii" ->
      """WITH aug AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.17 up' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' call +1-415-555-' || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0') || ' ok' ELSE '' END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(t2, '\+?[0-9][0-9()\-\s]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |  (len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(t2, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b'))
        |    + len(regexp_extract_all(t2, '\+?[0-9][0-9()\-\s]{6,}[0-9]'))) > 0 AS has_pii,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\-\s]{6,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM aug""".stripMargin,

    // mirrors Curation.contamination on the %50 test/corpus split
    "q_decontaminate" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
        |test AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 3),
        |corp AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 3),
        |ov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM corp JOIN test USING (g) GROUP BY doc_id)
        |SELECT doc_id, n_overlap FROM ov WHERE n_overlap >= 3""".stripMargin,

    // mirrors Curation.hashSplit (salt 'split', 90/5/5)
    "q_hash_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |    ('0x' || substr(md5('split|' || doc_id), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)""".stripMargin,

    // mirrors Curation.stratifiedSample (salt 'sample', per-mille rates)
    "q_stratified" ->
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5('sample|' || doc_id), 1, 15))::BIGINT % 1000 <
        |  CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 250 WHEN 'src2' THEN 50 ELSE 100 END""".stripMargin,

    // mirrors Dedup.dupCoverage: the q_winnow fingerprint algebra, then
    // multi-doc fingerprints counted back per doc
    "q_dup_coverage" ->
      """WITH d AS (SELECT doc_id, text, len(text) - 8 + 1 AS maxpos
        |  FROM documents WHERE len(text) >= 11),
        |p AS (SELECT doc_id, maxpos, text, unnest(range(1, maxpos + 1)) AS pos FROM d),
        |g AS (SELECT doc_id, maxpos, pos, md5(substr(text, CAST(pos AS INT), 8)) AS h FROM p),
        |w AS (SELECT doc_id, maxpos, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= maxpos - 3),
        |shared AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 2),
        |per AS (SELECT doc_id, count(*) AS n_shared FROM fps JOIN shared USING (fp) GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM fps GROUP BY doc_id)
        |SELECT t.doc_id, t.n_fps, CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
        |  round(CAST(coalesce(p.n_shared, 0) AS DOUBLE) / greatest(t.n_fps, 1), 6) AS dup_coverage
        |FROM tot t LEFT JOIN per p USING (doc_id)""".stripMargin,

    // mirrors Curation.chunkDedup: tumbling 10-word chunks, global
    // keep-first per distinct chunk text, per-doc reassembly
    "q_chunk_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |ch AS (SELECT doc_id, toks, unnest(range(0, (len(toks) + 9) // 10)) AS chunk_idx FROM t),
        |c2 AS (SELECT doc_id, chunk_idx,
        |    array_to_string(toks[CAST(chunk_idx*10+1 AS INT) : CAST(chunk_idx*10+10 AS INT)], ' ') AS chunk
        |  FROM ch),
        |win AS (SELECT doc_id, chunk_idx, chunk FROM c2
        |  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) = 1),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY chunk_idx) AS kept_text
        |  FROM win GROUP BY doc_id)
        |SELECT t.doc_id, CAST((len(toks) + 9) // 10 AS BIGINT) AS n_chunks,
        |  coalesce(pd.n_kept, 0) AS n_kept, coalesce(pd.kept_text, '') AS kept_text
        |FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id""".stripMargin,

    // mirrors Curation.substringDedup: sliding 8-grams, keep-first by
    // (doc_id, pos), gaps-and-islands span merge, positional token
    // anti-join, ordered reassembly
    "q_substring_dedup" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        |g AS (SELECT doc_id, toks, unnest(range(0, n_tokens - 7)) AS pos FROM b WHERE n_tokens >= 8),
        |g2 AS (SELECT doc_id, pos,
        |    array_to_string(toks[CAST(pos + 1 AS INT) : CAST(pos + 8 AS INT)], ' ') AS gram
        |  FROM g),
        |dups AS (SELECT doc_id, pos AS start, pos + 8 AS stop FROM g2
        |  QUALIFY row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) > 1),
        |isl AS (SELECT doc_id, start, stop,
        |    CASE WHEN start > coalesce(max(stop) OVER (PARTITION BY doc_id ORDER BY start, stop
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
        |  FROM dups),
        |isl2 AS (SELECT doc_id, start, stop,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start, stop) AS grp
        |  FROM isl),
        |mrg AS (SELECT doc_id, min(start) AS start, max(stop) AS stop FROM isl2 GROUP BY doc_id, grp),
        |cov AS (SELECT doc_id, unnest(range(start, stop)) AS pos FROM mrg),
        |tp AS (SELECT doc_id, unnest(range(0, n_tokens)) AS pos, toks FROM b WHERE n_tokens > 0),
        |tp2 AS (SELECT doc_id, pos, toks[CAST(pos + 1 AS INT)] AS tok FROM tp),
        |kept AS (SELECT tp2.doc_id, tp2.pos, tp2.tok FROM tp2
        |  ANTI JOIN cov ON tp2.doc_id = cov.doc_id AND tp2.pos = cov.pos),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY pos) AS kept_text
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens,
        |  b.n_tokens - coalesce(pd.n_kept, 0) AS n_removed,
        |  coalesce(pd.kept_text, '') AS kept_text
        |FROM b LEFT JOIN pd ON b.doc_id = pd.doc_id""".stripMargin,

    // mirrors Curation.substringDedupAgainst: prior = doc_id % 5 <> 0
    // reduced to its distinct gram set; batch grams duplicate if
    // present there or not-first within the batch; same islands/
    // anti-join/reassembly algebra, batch docs only
    "q_substring_incremental" -> substringIncOracle("doc_id % 5 <> 0"),
    // the forget composition's gram surface: the rebuilt index equals
    // the gram set of the SURVIVING prior corpus, so the oracle is
    // the same incremental algebra with the forgotten ids excluded
    // from the prior side
    "q_forget_grams" ->
      substringIncOracle("doc_id % 5 <> 0 AND doc_id % 7 <> 1"),
    // the counted-ownership strategy answers from its live set — same
    // truth as the rebuild strategy, one oracle for both
    "q_forget_grams_counted" ->
      substringIncOracle("doc_id % 5 <> 0 AND doc_id % 7 <> 1"),
    // the SQL face with WITH REMOVAL STAMP removes the identical id
    // set through the counted strategy — third gate on the same truth
    "q_sql_forget_stamped" ->
      substringIncOracle("doc_id % 5 <> 0 AND doc_id % 7 <> 1"),

    // mirrors Curation.boilerplateStrip: same planted banner, same
    // chunking, doc-frequency cap 5, per-doc reassembly
    "q_boilerplate" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'subscribe to our newsletter today for updates and special offers ' || text
        |      ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM aug),
        |ch AS (SELECT doc_id, toks, unnest(range(0, (len(toks) + 9) // 10)) AS chunk_idx FROM t),
        |c2 AS (SELECT doc_id, chunk_idx,
        |    array_to_string(toks[CAST(chunk_idx*10+1 AS INT) : CAST(chunk_idx*10+10 AS INT)], ' ') AS chunk
        |  FROM ch),
        |fr AS (SELECT chunk, CAST(count(*) AS BIGINT) AS chunk_df
        |  FROM (SELECT DISTINCT chunk, doc_id FROM c2) GROUP BY chunk),
        |kept AS (SELECT doc_id, chunk_idx, chunk FROM c2 JOIN fr USING (chunk)
        |  WHERE chunk_df <= 5),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(chunk, ' ' ORDER BY chunk_idx) AS kept_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST((len(toks) + 9) // 10 AS BIGINT) AS n_chunks,
        |  coalesce(pd.n_kept, 0) AS n_kept,
        |  CAST((len(toks) + 9) // 10 AS BIGINT) - coalesce(pd.n_kept, 0) AS n_dropped,
        |  coalesce(pd.kept_text, '') AS kept_text
        |FROM t LEFT JOIN pd ON t.doc_id = pd.doc_id""".stripMargin,

    // mirrors Curation.bloomDedup: same md5 bit positions, same 60-bit
    // words, same bit_or bitmap + bool_and probe
    "q_bloom_dedup" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |prior AS (SELECT h FROM d WHERE doc_id % 3 <> 0 OR doc_id % 9 = 0),
        |probe AS (SELECT doc_id, h FROM d WHERE doc_id % 3 = 0),
        |js AS (SELECT unnest([0, 1, 2]) AS j),
        |pp AS (SELECT ('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || '|' || h), 1, 15))::BIGINT % 65536 AS p
        |  FROM prior CROSS JOIN js),
        |words AS (SELECT p // 60 AS w, bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS bits
        |  FROM pp GROUP BY 1),
        |pj AS (SELECT doc_id, h,
        |    ('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || '|' || h), 1, 15))::BIGINT % 65536 AS p
        |  FROM probe CROSS JOIN js),
        |hits AS (SELECT doc_id, h,
        |    bool_and(w.bits IS NOT NULL AND (w.bits & (1::BIGINT << CAST(pj.p % 60 AS INT))) <> 0) AS hit
        |  FROM pj LEFT JOIN words w ON pj.p // 60 = w.w GROUP BY 1, 2),
        |ex AS (SELECT DISTINCT h FROM prior)
        |SELECT hits.doc_id,
        |  CAST(CASE WHEN hit THEN 1 ELSE 0 END AS BIGINT) AS bloom_hit,
        |  CAST(CASE WHEN ex.h IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
        |  CAST(CASE WHEN hit AND ex.h IS NULL THEN 1 ELSE 0 END AS BIGINT) AS false_pos
        |FROM hits LEFT JOIN ex ON hits.h = ex.h""".stripMargin,

    // mirrors Curation.packSequences: same shard/order hashes, same
    // per-shard prefix sum, same integer block division
    "q_pack" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('pack|' || doc_id), 1, 15))::BIGINT % 8 AS shard,
        |    ('0x' || substr(md5('pack-ord|' || doc_id), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
        |  FROM d)
        |SELECT doc_id, shard, n_tokens, start_offset,
        |  start_offset // 512 AS first_block,
        |  (start_offset + greatest(n_tokens, 1) - 1) // 512 AS last_block,
        |  (start_offset + greatest(n_tokens, 1) - 1) // 512 - start_offset // 512 + 1 AS n_blocks
        |FROM c""".stripMargin,

    // mirrors Curation.urlFilter: same URL grid, host/domain regexes,
    // and blocklist join
    "q_url_filter" ->
      """WITH aug AS (SELECT doc_id, 'https://' ||
        |    CASE doc_id % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'blog' WHEN 2 THEN 'cdn' ELSE 'shop' END || '.' ||
        |    CASE doc_id % 5 WHEN 0 THEN 'spamsite.com' WHEN 1 THEN 'example.org'
        |      WHEN 2 THEN 'adfarm.net' WHEN 3 THEN 'news.io' ELSE 'example.com' END ||
        |    '/p/' || doc_id AS url
        |  FROM documents),
        |d AS (SELECT doc_id, regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host FROM aug),
        |d2 AS (SELECT doc_id, host, regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain FROM d),
        |b AS (SELECT unnest(['spamsite.com', 'adfarm.net', 'cdn.example.com']) AS blocked_entry)
        |SELECT doc_id, host, domain,
        |  CAST(max(CASE WHEN blocked_entry IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
        |  coalesce(min(blocked_entry), '') AS matched
        |FROM d2 LEFT JOIN b ON host = blocked_entry OR domain = blocked_entry
        |GROUP BY doc_id, host, domain""".stripMargin,

    // mirrors TextAnalysis.htmlExtract: same wrapper grid, same
    // script-strip -> tag-strip -> entity-decode -> collapse order
    "q_html_extract" ->
      """WITH aug AS (SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title></head><body><p class="intro">'
        |      || text || '</p>' ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '<a href="https://example.com/p/' || doc_id || '">more &amp; more</a>' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '<script>var x = 1;</script>' ELSE '' END ||
        |    '<p>tail &lt;ok&gt;</p></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html,
        |    regexp_replace(html, '<script>[^<]*</script>', ' ', 'g') AS t FROM aug),
        |s2 AS (SELECT doc_id, html, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s1),
        |s3 AS (SELECT doc_id, html,
        |    replace(replace(replace(replace(replace(t,
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t
        |  FROM s2)
        |SELECT doc_id,
        |  regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
        |  trim(regexp_replace(t, ' +', ' ', 'g')) AS body_text,
        |  CAST(len(regexp_extract_all(html, '<a href="[^"]*"')) AS BIGINT) AS n_links
        |FROM s3""".stripMargin,

    // mirrors Curation.trainQualityLr: identical features, rational
    // sigmoid, fixed-point gradients, unrolled GD rounds
    "q_lr_train" -> lrTrainOracle(iters = 3, lr = 0.5),

    // mirrors Curation.mixtureWeights: integer div algebra end to end
    "q_mixture" ->
      """WITH d AS (SELECT source,
        |    CAST(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens FROM d GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  CAST(CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 300
        |    WHEN 'src2' THEN 150 WHEN 'src3' THEN 50 ELSE 0 END AS BIGINT) AS weight_pm,
        |  (1000000 * CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 300
        |    WHEN 'src2' THEN 150 WHEN 'src3' THEN 50 ELSE 0 END) // 1000 AS target_tokens,
        |  least(1000, ((1000000 * CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 300
        |    WHEN 'src2' THEN 150 WHEN 'src3' THEN 50 ELSE 0 END) // 1000 * 1000)
        |    // greatest(n_tokens, 1)) AS rate_pm
        |FROM a""".stripMargin,

    // mirrors TextAnalysis.histQuantiles: same integer bin/threshold
    // algebra
    "q_hist_quantiles" ->
      """WITH d AS (SELECT source,
        |    CAST(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS BIGINT) // 8 AS bin
        |  FROM documents),
        |h AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY source, bin),
        |cm AS (SELECT source, bin,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS total
        |  FROM h),
        |ps AS (SELECT unnest([250, 500, 750, 900]) AS p)
        |SELECT source, CAST(p AS BIGINT) AS p_permille, CAST(min(bin) * 8 AS BIGINT) AS bin_lo
        |FROM cm CROSS JOIN ps
        |WHERE cum >= (total * p + 999) // 1000
        |GROUP BY source, p""".stripMargin,

    // mirrors TextAnalysis.distinctSketch: same md5 buckets, bitmap
    // words, bit_count, and ln estimate
    "q_distinct_sketch" ->
      """WITH tok AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS word
        |  FROM documents),
        |p AS (SELECT source,
        |    ('0x' || substr(md5('lc|' || word), 1, 15))::BIGINT % 65536 AS p
        |  FROM tok),
        |wd AS (SELECT source, p // 60 AS w,
        |    bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS bits
        |  FROM p GROUP BY source, p // 60),
        |sb AS (SELECT source, CAST(sum(bit_count(bits)) AS BIGINT) AS b FROM wd GROUP BY source),
        |ex AS (SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact FROM tok GROUP BY source)
        |SELECT sb.source, b AS buckets_set,
        |  round(65536.0 * ln(65536.0 / CAST(greatest(65536 - b, 1) AS DOUBLE)), 6) AS estimate,
        |  n_exact
        |FROM sb JOIN ex ON sb.source = ex.source""".stripMargin,

    // mirrors Sketches.kmvSketch/kmvSetOps bit-for-bit: same md5
    // 60-bit hash, same k=256 rank cut (QUALIFY = the WindowGroupLimit
    // filter), same (k-1)*2^60/h_k estimator with the n<k exact
    // fallback, same tag-merge set algebra for union/intersection
    "q_kmv_setops" ->
      """WITH tt AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tok AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS word FROM tt),
        |hv AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5('kmv|' || word), 1, 15))::BIGINT AS h FROM tok),
        |sk AS (SELECT source, h FROM hv
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 256),
        |srcs AS (SELECT DISTINCT source FROM hv),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |per AS (SELECT source, count(*) AS n, max(h) AS hk FROM sk GROUP BY 1),
        |pest AS (SELECT source,
        |    CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |      ELSE 255 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END AS est
        |  FROM per),
        |tagged AS (
        |  SELECT src_a, src_b, h, max(ia) AS ia, max(ib) AS ib FROM (
        |    SELECT p.src_a, p.src_b, s.h, 1 AS ia, 0 AS ib
        |      FROM pairs p JOIN sk s ON s.source = p.src_a
        |    UNION ALL
        |    SELECT p.src_a, p.src_b, s.h, 0 AS ia, 1 AS ib
        |      FROM pairs p JOIN sk s ON s.source = p.src_b)
        |  GROUP BY 1, 2, 3),
        |merged AS (SELECT src_a, src_b, h, ia, ib FROM tagged
        |  QUALIFY row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) <= 256),
        |est AS (SELECT src_a, src_b, count(*) AS n, max(h) AS hk,
        |    CAST(sum(ia * ib) AS BIGINT) AS c
        |  FROM merged GROUP BY 1, 2),
        |uest AS (SELECT src_a, src_b, c, n,
        |    CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |      ELSE 255 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END AS u
        |  FROM est),
        |ex_inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS ei
        |  FROM tok a JOIN tok b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2),
        |ns AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
        |exact AS (SELECT p.src_a, p.src_b,
        |    coalesce(ei.ei, 0) AS exact_inter,
        |    na.n + nb.n - coalesce(ei.ei, 0) AS exact_union
        |  FROM pairs p
        |  JOIN ns na ON p.src_a = na.source
        |  JOIN ns nb ON p.src_b = nb.source
        |  LEFT JOIN ex_inter ei ON p.src_a = ei.src_a AND p.src_b = ei.src_b)
        |SELECT u.src_a, u.src_b,
        |  CAST(round(ea.est) AS BIGINT) AS est_a,
        |  CAST(round(eb.est) AS BIGINT) AS est_b,
        |  CAST(round(u.u) AS BIGINT) AS est_union,
        |  CAST(round(u.c * u.u / u.n) AS BIGINT) AS est_inter,
        |  round(CAST(u.c AS DOUBLE) / CAST(u.n AS DOUBLE), 6) AS jaccard_est,
        |  exact_inter, exact_union
        |FROM uest u
        |JOIN pest ea ON u.src_a = ea.source
        |JOIN pest eb ON u.src_b = eb.source
        |JOIN exact e ON u.src_a = e.src_a AND u.src_b = e.src_b""".stripMargin,

    // mirrors kmvMergeSketches by the STRONGEST available statement:
    // the oracle rebuilds the sketch from the WHOLE corpus (ordinary
    // kmvSketch algebra), while the Spark side merges two HALF-corpus
    // artifacts — equality IS the KMV mergeability theorem, end to end
    "q_kmv_sketch_merge" ->
      """WITH tt AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tok AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS word FROM tt),
        |hv AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5('kmv|' || word), 1, 15))::BIGINT AS h FROM tok)
        |SELECT source, h, CAST(row_number() OVER (PARTITION BY source ORDER BY h) AS BIGINT) AS rn,
        |  CAST(256 AS BIGINT) AS k
        |FROM hv
        |QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 256""".stripMargin,

    // mirrors kmvSketch + kmvSetOpsFromSketches: the sketch CTE (sk)
    // rebuilds the persisted artifact — everything DOWNSTREAM of sk
    // consumes ONLY those k-row sketch rows (srcs included), proving
    // the estimator needs no corpus access; no exact columns
    "q_kmv_sketch_only" ->
      """WITH tt AS (SELECT source,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |tok AS (SELECT DISTINCT source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' ')))) AS word FROM tt),
        |hv AS (SELECT DISTINCT source,
        |    ('0x' || substr(md5('kmv|' || word), 1, 15))::BIGINT AS h FROM tok),
        |sk AS (SELECT source, h FROM hv
        |  QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= 256),
        |srcs AS (SELECT DISTINCT source FROM sk),
        |pairs AS (SELECT a.source AS src_a, b.source AS src_b
        |  FROM srcs a JOIN srcs b ON a.source < b.source),
        |per AS (SELECT source, count(*) AS n, max(h) AS hk FROM sk GROUP BY 1),
        |pest AS (SELECT source,
        |    CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |      ELSE 255 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END AS est
        |  FROM per),
        |tagged AS (
        |  SELECT src_a, src_b, h, max(ia) AS ia, max(ib) AS ib FROM (
        |    SELECT p.src_a, p.src_b, s.h, 1 AS ia, 0 AS ib
        |      FROM pairs p JOIN sk s ON s.source = p.src_a
        |    UNION ALL
        |    SELECT p.src_a, p.src_b, s.h, 0 AS ia, 1 AS ib
        |      FROM pairs p JOIN sk s ON s.source = p.src_b)
        |  GROUP BY 1, 2, 3),
        |merged AS (SELECT src_a, src_b, h, ia, ib FROM tagged
        |  QUALIFY row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) <= 256),
        |est AS (SELECT src_a, src_b, count(*) AS n, max(h) AS hk,
        |    CAST(sum(ia * ib) AS BIGINT) AS c
        |  FROM merged GROUP BY 1, 2),
        |uest AS (SELECT src_a, src_b, c, n,
        |    CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |      ELSE 255 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END AS u
        |  FROM est)
        |SELECT u.src_a, u.src_b,
        |  CAST(round(ea.est) AS BIGINT) AS est_a,
        |  CAST(round(eb.est) AS BIGINT) AS est_b,
        |  CAST(round(u.u) AS BIGINT) AS est_union,
        |  CAST(round(u.c * u.u / u.n) AS BIGINT) AS est_inter,
        |  round(CAST(u.c AS DOUBLE) / CAST(u.n AS DOUBLE), 6) AS jaccard_est
        |FROM uest u
        |JOIN pest ea ON u.src_a = ea.source
        |JOIN pest eb ON u.src_b = eb.source""".stripMargin,

    // mirrors Sketches.logHistQuantiles: same (binary-length, 3-bit
    // sub-bucket) log bucket, same integer-shift divisor (exact for
    // the full long range — no double cast), same ceil rank threshold
    "q_loghist_quantiles" ->
      """WITH b AS (SELECT l_returnflag AS source,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE CAST(round(l_extendedprice * 100) AS BIGINT) >= 0),
        |h AS (SELECT source,
        |    CASE WHEN v < 8 THEN v
        |      ELSE length(printf('%b', v)) * 8 +
        |        (v // (1::BIGINT << (length(printf('%b', v)) - 4))) % 8 END AS bucket,
        |    CASE WHEN v < 8 THEN v
        |      ELSE (8 + (v // (1::BIGINT << (length(printf('%b', v)) - 4))) % 8)
        |        * (1::BIGINT << (length(printf('%b', v)) - 4)) END AS lo
        |  FROM b),
        |hist AS (SELECT source, bucket, lo, count(*) AS c FROM h GROUP BY 1, 2, 3),
        |cm AS (SELECT source, lo, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS total
        |  FROM hist),
        |ps AS (SELECT unnest([250, 500, 750, 990]) AS p)
        |SELECT source, CAST(p AS BIGINT) AS p_permille, min(lo) AS q_lo
        |FROM cm CROSS JOIN ps WHERE cum >= (total * p + 999) // 1000
        |GROUP BY source, p""".stripMargin,

    // the merged half-corpus sketches must equal the histogram DuckDB
    // rebuilds from the WHOLE corpus — addition-mergeability checked
    // on every stored bucket
    "q_loghist_sketch_merge" ->
      """WITH b AS (SELECT l_returnflag AS source,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE CAST(round(l_extendedprice * 100) AS BIGINT) >= 0),
        |h AS (SELECT source,
        |    CASE WHEN v < 8 THEN v
        |      ELSE length(printf('%b', v)) * 8 +
        |        (v // (1::BIGINT << (length(printf('%b', v)) - 4))) % 8 END AS bucket,
        |    CASE WHEN v < 8 THEN v
        |      ELSE (8 + (v // (1::BIGINT << (length(printf('%b', v)) - 4))) % 8)
        |        * (1::BIGINT << (length(printf('%b', v)) - 4)) END AS lo
        |  FROM b)
        |SELECT source, bucket, lo, count(*) AS c FROM h GROUP BY 1, 2, 3""".stripMargin,

    // mirrors Sketches.hllDistinct: same md5 hash, register index =
    // low 10 bits, rank = trailing zeros of the upper 50 bits via the
    // exact h&-h integer identity, merge-by-max union row, and the
    // identical scaled-BIGINT harmonic sum; the numerator double
    // literal is interpolated from the SAME Scala constant the
    // DataFrame side folds in
    "q_hll_distinct" ->
      s"""WITH tok AS (SELECT source,
        |    unnest(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS word
        |  FROM documents),
        |h AS (SELECT source, ('0x' || substr(md5('hll|' || word), 1, 15))::BIGINT AS h FROM tok),
        |jr AS (SELECT source, h % 1024 AS j,
        |    CASE WHEN h // 1024 = 0 THEN 51
        |         ELSE bit_count(((h // 1024) & -(h // 1024)) - 1) + 1 END AS rho
        |  FROM h),
        |regs AS (SELECT source, j, max(rho) AS r FROM jr GROUP BY source, j),
        |allregs AS (SELECT source, j, r FROM regs UNION ALL
        |  SELECT '__union__' AS source, j, max(r) AS r FROM regs GROUP BY j),
        |agg AS (SELECT source, CAST(count(*) AS BIGINT) AS nz,
        |    sum(1::BIGINT << CAST(51 - r AS INT)) AS s_nz
        |  FROM allregs GROUP BY source),
        |est AS (SELECT source, nz AS registers_set,
        |    s_nz + (1024 - nz) * (1::BIGINT << 51) AS z_scaled, 1024 - nz AS v
        |  FROM agg),
        |ex AS (SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact
        |    FROM tok GROUP BY source
        |  UNION ALL SELECT '__union__' AS source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact
        |    FROM tok)
        |SELECT est.source AS source, registers_set,
        |  round(CASE WHEN v > 0 AND ${Sketches.hllNumerator(10)} / CAST(z_scaled AS DOUBLE) <= 2560.0
        |        THEN 1024.0 * ln(1024.0 / CAST(v AS DOUBLE))
        |        ELSE ${Sketches.hllNumerator(10)} / CAST(z_scaled AS DOUBLE) END, 6) AS estimate,
        |  n_exact
        |FROM est JOIN ex ON est.source = ex.source""".stripMargin,

    // mirrors TextAnalysis.topNgrams: same shingle algebra + tie-break
    "q_top_ngrams" ->
      """WITH t AS (SELECT list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(toks)),
        |    j -> toks[j] || ' ' || toks[j + 1])) AS gram FROM t)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences FROM g
        |GROUP BY gram ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin,

    // mirrors Curation.sampleK: same hash order, same rank filter
    "q_sample_k" ->
      """SELECT doc_id, source, rank_in_source FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY ('0x' || substr(md5('samplek|' || doc_id), 1, 15))::BIGINT, doc_id) AS BIGINT)
        |      AS rank_in_source
        |  FROM documents)
        |WHERE rank_in_source <= 25""".stripMargin,

    // mirrors TextAnalysis.tokenIds: same top-100 vocab (count DESC,
    // word ASC), OOV = 0, position-ordered id join
    "q_token_ids" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |wc AS (SELECT unnest(toks) AS word FROM t),
        |v AS (SELECT word, CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS BIGINT) AS token_id
        |  FROM wc GROUP BY word ORDER BY count(*) DESC, word LIMIT 100),
        |e AS (SELECT doc_id, unnest(toks) AS word,
        |    CAST(generate_subscripts(toks, 1) AS BIGINT) AS pos FROM t),
        |j AS (SELECT e.doc_id, e.pos, coalesce(v.token_id, 0) AS tid,
        |    CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END AS oov
        |  FROM e LEFT JOIN v USING (word)),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(oov) AS BIGINT) AS n_oov,
        |    string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
        |  FROM j GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(pd.n_tokens, 0) AS n_tokens,
        |  coalesce(pd.n_oov, 0) AS n_oov, coalesce(pd.ids, '') AS ids
        |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id""".stripMargin,

    // mirrors Curation.snapshotDiff: same slices, same md5 compare
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id,
        |    md5(text || CASE WHEN doc_id % 7 = 0 THEN ' OLD' ELSE '' END) AS oh
        |  FROM documents WHERE doc_id % 11 <> 0),
        |n AS (SELECT doc_id, md5(text) AS nh FROM documents WHERE doc_id % 13 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added' WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN oh <> nh THEN 'changed' ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // mirrors TextAnalysis.perplexityFilter: same bigram algebra,
    // same fixed-point floor(ln P x 1e9) contributions, long-compare keep
    "q_perplexity" ->
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS t
        |  FROM documents),
        |bgs AS (SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j + 1])) AS bg
        |  FROM toks),
        |lm AS (SELECT bg, CAST(count(*) AS BIGINT) AS cab FROM bgs WHERE source = 'src0' GROUP BY bg),
        |ctx AS (SELECT split_part(bg, ' ', 1) AS ctx, CAST(sum(cab) AS BIGINT) AS ca FROM lm GROUP BY 1),
        |vt AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks WHERE source = 'src0')),
        |pd AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c FROM bgs GROUP BY doc_id, bg),
        |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(sum(c * CAST(floor(ln(CAST(coalesce(l.cab, 0) + 1 AS DOUBLE)
        |      / CAST(coalesce(x.ca, 0) + vt.v AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS score_fp
        |  FROM pd LEFT JOIN lm l USING (bg)
        |    LEFT JOIN ctx x ON split_part(pd.bg, ' ', 1) = x.ctx
        |    CROSS JOIN vt GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
        |  round(CAST(-coalesce(sc.score_fp, 0) AS DOUBLE)
        |    / CAST(greatest(coalesce(sc.n_bigrams, 0), 1) * 1000000000 AS BIGINT), 6) AS cross_entropy,
        |  CAST(CASE WHEN -coalesce(sc.score_fp, 0) <= 7000000000 * coalesce(sc.n_bigrams, 0)
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin,

    // mirrors TextAnalysis.qualityScore: identical IEEE evaluation
    // order (+,*,/ and least only), keep thresholds the raw double
    "q_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, len(toks) AS n_words,
        |    (-0.65)
        |      + 0.02 * CAST(least(len(toks), 500) AS DOUBLE)
        |      + 2.0 * (CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |          / CAST(greatest(len(toks), 1) AS DOUBLE))
        |      + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
        |          / CAST(greatest(len(toks), 1) AS DOUBLE))
        |      - 0.3 * (CAST(len(array_to_string(toks, '')) AS DOUBLE)
        |          / CAST(greatest(len(toks), 1) AS DOUBLE)) AS logit
        |  FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(logit, 6) AS quality_logit,
        |  CAST(CASE WHEN logit > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f""".stripMargin,

    // mirrors q_length_quantiles (quantile_cont == percentile: both
    // linear-interpolate at (n-1)*p)
    "q_length_quantiles" ->
      """SELECT source, count(*) AS n_docs,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 6) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 6) AS p99
        |FROM documents GROUP BY source""".stripMargin,

    // mirrors Curation.shardManifest (salts 'shard'/'cksum', 16 shards,
    // XOR checksum — order-free on both engines)
    "q_shards" ->
      """SELECT ('0x' || substr(md5('shard|' || doc_id), 1, 15))::BIGINT % 16 AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0))) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  bit_xor(('0x' || substr(md5('cksum|' || doc_id), 1, 15))::BIGINT) AS checksum
        |FROM documents GROUP BY 1""".stripMargin,

    // mirrors Curation.dsirScores: identical smoothing algebra (exact
    // integer products, one double division, one ln) and identical
    // fixed-point floor(x*1e9) per-term contributions, so the BIGINT
    // sums agree exactly under any partitioning
    "q_dsir" ->
      """WITH tok AS (SELECT doc_id, source = 'src0' AS is_t,
        |    unnest(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS term
        |  FROM documents),
        |per_doc AS (SELECT doc_id, term, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT term, count(*) AS cb,
        |    count(CASE WHEN is_t THEN 1 END) AS ct FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(cb) AS BIGINT) AS totB, CAST(sum(ct) AS BIGINT) AS totT,
        |    count(*) AS v FROM ts),
        |contrib AS (SELECT p.doc_id,
        |    p.c * CAST(floor(ln(CAST((ts.ct + 1) * (tot.totB + tot.v) AS DOUBLE)
        |      / CAST((ts.cb + 1) * (tot.totT + tot.v) AS DOUBLE)) * 1e9) AS BIGINT) AS fp
        |  FROM per_doc p JOIN ts USING (term) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(fp) AS BIGINT) AS score_fp,
        |  round(CAST(sum(fp) AS BIGINT) / 1e9, 6) AS score
        |FROM contrib GROUP BY doc_id""".stripMargin,

    // mirrors Curation.tokenBudget (salt 'budget', hash-order prefix
    // sums per stratum, budget 3000/1500/800 tokens)
    "q_token_budget" ->
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |    ('0x' || substr(md5('budget|' || doc_id), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM d)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= CASE source WHEN 'src0' THEN 3000 WHEN 'src1' THEN 1500 ELSE 800 END""".stripMargin,

    "q_semantic_dedup" -> semanticDedupOracle,
    "q_kmeans" -> kmeansOracle(k = 8, iters = 3, dim = 64),
    "q_cluster_sample" -> clusterSampleOracle(k = 8, iters = 3, dim = 64, perCluster = 25),
    "q_bpe" -> Bpe.learnOracle(merges = 10),
    "q_bpe_encode" -> Bpe.encodeOracle(merges = 10),

    "q_substitute" ->
      "SELECT doc_id, replace(replace(text, 'spark', 'SPARK'), 'data', 'DATA') AS text FROM documents",

    "q_edit_script" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS w
        |  FROM documents),
        |edited AS (SELECT doc_id,
        |    list_concat(list_concat(list_concat(w[1:2], ['<REDACTED>']), w[6:]), ['<EOF>']) AS w2
        |  FROM t)
        |SELECT doc_id, array_to_string(
        |  list_transform(w2, x -> CASE WHEN regexp_matches(x, '^b')
        |    THEN regexp_replace(x, '^b', 'B', 'g') ELSE x END), ' ') AS text
        |FROM edited""".stripMargin,

    "q_curation_pipeline" ->
      """WITH toks AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS t
        |  FROM documents),
        |lang AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, lang, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
        |    FROM (
        |      SELECT doc_id, 'en' AS lang, len(list_filter(t, x -> list_contains(['the','and','of','to','is'], x))) AS score FROM toks
        |      UNION ALL SELECT doc_id, 'de', len(list_filter(t, x -> list_contains(['der','die','und','ist','das'], x))) FROM toks
        |      UNION ALL SELECT doc_id, 'fr', len(list_filter(t, x -> list_contains(['le','la','et','est','les'], x))) FROM toks
        |      UNION ALL SELECT doc_id, 'es', len(list_filter(t, x -> list_contains(['el','la','y','es','los'], x))) FROM toks
        |      UNION ALL SELECT doc_id, 'zh', len(list_filter(t, x -> list_contains(['de','shi','le','wo','ni'], x))) FROM toks))
        |  WHERE rn = 1 AND score >= 3),
        |quality AS (
        |  SELECT doc_id FROM toks
        |  WHERE len(t) >= 30
        |    AND round(CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |      / greatest(len(t), 1), 6) <= 0.3),
        |eligible AS (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN lang USING (doc_id) JOIN quality USING (doc_id))
        |SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS content_hash
        |FROM eligible GROUP BY md5(lower(trim(text)))""".stripMargin,

    "q_curation_full" -> curationFullOracle,
    "q_curation_full2" -> curationFull2Oracle,

    // mirrors Dedup.winnowFingerprints (k=8, w=4): per-position md5
    // grams, min over a 4-row following window, full windows only
    "q_winnow" ->
      """WITH d AS (SELECT doc_id, text, len(text) - 8 + 1 AS maxpos
        |  FROM documents WHERE len(text) >= 11),
        |p AS (SELECT doc_id, maxpos, text, unnest(range(1, maxpos + 1)) AS pos FROM d),
        |g AS (SELECT doc_id, maxpos, pos, md5(substr(text, CAST(pos AS INT), 8)) AS h FROM p),
        |w AS (SELECT doc_id, maxpos, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= maxpos - 3)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
        |  min(fp) AS min_fp, max(fp) AS max_fp
        |FROM fps GROUP BY doc_id""".stripMargin,

    "q_corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0))) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin,

    "q_topk_cosine" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))) AS score
        |  FROM q, e WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
        |FROM r WHERE rank <= 5""".stripMargin,

    "q_embed_neardup" -> embedNearDupOracle,

    // mirrors Similarity.semanticContamination: same dot/norm algebra
    // as q_topk_cosine; arg-max tie-break = highest bench_id (the
    // struct-max order), threshold applied to the ROUNDED score
    "q_sem_decontaminate" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |b AS (SELECT vec_id AS bench_id, v AS bv FROM e WHERE vec_id % 50 = 3),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 3),
        |s AS (SELECT c.vec_id, b.bench_id,
        |    list_sum(list_transform(range(1, 65), i -> c.v[i] * bv[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> c.v[i] * c.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> bv[i] * bv[i])))) AS score
        |  FROM c, b),
        |r AS (SELECT vec_id, bench_id, score,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, bench_id DESC) AS rn
        |  FROM s)
        |SELECT vec_id, bench_id, round(score, 6) AS score
        |FROM r WHERE rn = 1 AND round(score, 6) >= 0.3""".stripMargin,

    "q_sem_decontam_lsh" -> semDecontamLshOracle(planes = 6, tables = 8),
    "q_sem_decontam_lsh10" -> semDecontamLshOracle(planes = 10, tables = 48),

    // recall@5: exact top-k CTE (q_topk_cosine algebra) left-joined to
    // the annLsh candidate/rank algebra (32 salts = 8 tables x 4
    // planes, same as annLshOracle)
    "q_ann_recall" ->
      """WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, v AS q FROM ev WHERE vec_id < 8),
        |xs AS (SELECT qv.query_id, ev.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q[i] * v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))) AS score
        |  FROM qv, ev WHERE ev.vec_id <> qv.query_id),
        |xr AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM xs),
        |exact AS (SELECT query_id, neighbor_id FROM xr WHERE rk <= 5),
        |hp AS (SELECT k.k, d.d,
        |    ('0x' || substr(md5(k.k || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0 AS val
        |  FROM (SELECT unnest(range(32)) AS k) k, (SELECT unnest(range(64)) AS d) d),
        |pe AS (SELECT vec_id, d.d, CAST(embedding[d.d + 1] AS DOUBLE) AS x
        |  FROM embeddings, (SELECT unnest(range(64)) AS d) d),
        |proj AS (SELECT pe.vec_id, hp.k, sum(pe.x * hp.val) AS pr
        |  FROM pe JOIN hp ON pe.d = hp.d GROUP BY 1, 2),
        |bk AS (SELECT vec_id, (k // 4) AS tbl,
        |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bits
        |  FROM proj GROUP BY 1, 2),
        |bb AS (SELECT vec_id, tbl || ':' || bits AS bucket FROM bk),
        |cand AS (SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
        |  FROM bb qb JOIN bb nb USING (bucket)
        |  WHERE qb.vec_id < 8 AND qb.vec_id <> nb.vec_id),
        |asc_ AS (SELECT cand.query_id, cand.neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
        |  FROM cand JOIN ev a ON a.vec_id = cand.query_id JOIN ev b ON b.vec_id = cand.neighbor_id),
        |ar AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM asc_),
        |approx AS (SELECT query_id, neighbor_id FROM ar WHERE rk <= 5)
        |SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
        |  round(CAST(count(a.neighbor_id) AS DOUBLE) / 5, 6) AS recall
        |FROM exact e LEFT JOIN approx a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |GROUP BY e.query_id""".stripMargin,

    // recall@5 of the composed IVF-PQ index: the same exact-top-k CTE
    // drives the denominator; the approx side is the ENTIRE annIvfPq
    // oracle (coarse assign/probe + PQ code/LUT/ADC) as a subquery
    "q_ann_recall_ivfpq" ->
      s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, v AS q FROM ev WHERE vec_id < 8),
        |xs AS (SELECT qv.query_id, ev.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> q[i] * v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q[i] * q[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))) AS score
        |  FROM qv, ev WHERE ev.vec_id <> qv.query_id),
        |xr AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rk FROM xs),
        |exact AS (SELECT query_id, neighbor_id FROM xr WHERE rk <= 5),
        |cand32 AS (SELECT query_id, neighbor_id FROM (${annIvfPqOracleK(32)}) t),
        |rr AS (SELECT c.query_id, c.neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
        |  FROM cand32 c JOIN ev a ON a.vec_id = c.query_id JOIN ev b ON b.vec_id = c.neighbor_id),
        |approx AS (SELECT query_id, neighbor_id FROM rr
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 5)
        |SELECT e.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
        |  round(CAST(count(a.neighbor_id) AS DOUBLE) / 5, 6) AS recall
        |FROM exact e LEFT JOIN approx a
        |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        |GROUP BY e.query_id""".stripMargin,

    "q_ann_lsh" -> annLshOracle,

    "q_ann_ivf" -> annIvfOracle,
    "q_ann_ivfsq" -> annIvfSqOracle(5),
    "q_ann_sq_probe" -> annIvfSqOracle(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24"),
    "q_ann_sq_append" -> annIvfSqOracle(5,
      queryWhere = "vec_id < 8",
      boundsWhere = "vec_id % 3 <> 0"),
    // the SQ8 deletion twin: same tombstone exclusion as a candidate
    // predicate over the scalar probe algebra
    "q_ann_sq_delete" -> annIvfSqOracle(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      excludeWhere = "e.vec_id % 7 <> 1"),
    // saturation needs no IVF assignment at all — codes per dim from
    // prior-trained bounds over the full corpus, then rail counts.
    // The SAME oracle gates the incremental (stats-sidecar) form:
    // increment == scan, DuckDB-proven
    "q_ann_sq_saturation" -> sqSaturationOracle,
    "q_ann_sq_sat_stats" -> sqSaturationOracle,
    "q_embed_cov" ->
      """WITH v AS (SELECT list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
        |  FROM embeddings),
        |p AS (SELECT i.i - 1 AS i, j.j - 1 AS j, v.q[i.i] AS a, v.q[j.j] AS b
        |  FROM v, (SELECT unnest(range(1, 65)) AS i) i,
        |       (SELECT unnest(range(1, 65)) AS j) j
        |  WHERE j.j >= i.i)
        |SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(a) AS BIGINT) AS s_a,
        |  CAST(sum(b) AS BIGINT) AS s_b, CAST(sum(a * b) AS BIGINT) AS s_ab
        |FROM p GROUP BY i, j""".stripMargin,
    "q_pca_drift_cov" ->
      """WITH v AS (SELECT list_transform(list_reverse(embedding),
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
        |  FROM embeddings
        |  WHERE ('0x' || substr(md5('kmtrain|' || vec_id), 1, 15))::BIGINT < 288230376151711744),
        |p AS (SELECT i.i - 1 AS i, j.j - 1 AS j, v.q[i.i] AS a, v.q[j.j] AS b
        |  FROM v, (SELECT unnest(range(1, 65)) AS i) i,
        |       (SELECT unnest(range(1, 65)) AS j) j
        |  WHERE j.j >= i.i)
        |SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(a) AS BIGINT) AS s_a,
        |  CAST(sum(b) AS BIGINT) AS s_b, CAST(sum(a * b) AS BIGINT) AS s_ab
        |FROM p GROUP BY i, j""".stripMargin,
    "q_ann_ivf_learned" -> annIvfLearnedOracle(lists = 16, iters = 2, nprobe = 4, k = 5),
    // the sampled-training twin: training CTEs read only the 25%
    // hash-threshold sample (2^60/4 — the same STATIC constant the
    // Spark side derives from trainFraction = 0.25, equal by
    // construction), assignment covers the corpus
    "q_ann_ivf_sampled" -> annIvfLearnedOracle(lists = 16, iters = 2, nprobe = 4, k = 5,
      trainThresh = Some(288230376151711744L)),
    "q_ann_pq" -> annPqOracle,
    "q_ann_pq_learned" -> annPqLearnedOracle(m = 8, codes = 16, subDim = 8, iters = 2, k = 5),
    // the sampled-training twin (same static 2^60/4 threshold as
    // q_ann_ivf_sampled): all 8 subspace trainings read only the
    // sampled rows; encode/LUT/ADC cover the corpus
    "q_ann_pq_sampled" -> annPqLearnedOracle(m = 8, codes = 16, subDim = 8, iters = 2, k = 5,
      trainThresh = Some(288230376151711744L)),
    "q_ann_ivfpq" -> annIvfPqOracle,
    "q_ann_ivfpq_res" -> annIvfPqResOracle(5),
    "q_sql_ann_sq_probe" -> annIvfSqOracle(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24"),
    "q_sql_ann_res_probe" -> annIvfPqResOracle(5,
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      baseWhere = "vec_id % 3 <> 0"),
    // the artifact rows themselves, and new-slice queries probing the
    // persisted index of the % 3 != 0 history — the oracle recomputes
    // assignment/codes/ADC from the same index CTEs
    "q_ann_index" -> annIndexOracle,
    "q_ann_index_balance" -> annIndexBalanceOracle,
    "q_ann_index_rebuilt" -> annIndexLearnedOracle(lists = 16, kmIters = 2,
      m = 8, codes = 16, subDim = 8, pqIters = 2, dataSeeds = true),
    "q_ann_index_learned" -> annIndexLearnedOracle(lists = 16, kmIters = 2,
      m = 8, codes = 16, subDim = 8, pqIters = 2),
    "q_ann_opq" -> annIndexLearnedOracle(lists = 16, kmIters = 2,
      m = 8, codes = 16, subDim = 8, pqIters = 2,
      source = "pe", prelude = opqPermPrelude(dim = 64, m = 8)),
    "q_ann_probe_incremental" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24"),
    // filtered search: same probe algebra with the allowed-id
    // predicate restricting the candidate set BEFORE the rank cut
    "q_ann_probe_filtered" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 5 <= 1"),
    // the SQL-verb chain (BUILD ANN INDEX -> PROBE ANN INDEX) is the
    // same persisted-index composition, so it shares the oracle
    "q_sql_ann_probe" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24"),
    "q_sql_ann_probe_filtered" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 5 <= 1"),
    // deletion: the tombstone exclusion is a candidate predicate over
    // the otherwise-identical probe algebra — and because the fold is
    // result-invariant, the tombstone-live probe, the post-fold
    // probe, AND the SQL verb chain all share this one oracle
    "q_ann_delete" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 7 <> 1"),
    "q_ann_delete_fold" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 7 <> 1"),
    "q_sql_ann_delete" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 7 <> 1"),
    // the forget composition's ANN surface (DataFrame verb and SQL
    // verb): one sequenced tombstone+fold, probe answers from the
    // clean generation — the same exclusion algebra as q_ann_delete
    "q_forget_ann" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 7 <> 1"),
    // the rotated-artifact forget gate: with nprobe = all lists and
    // rerank >= rows, the probe is exact top-5 cosine over the FOLDED
    // (surviving) corpus — the ADC/rotation stages only pick WHICH
    // rows can surface, so a fold leak or a lost pcarot sidecar still
    // fails the gate while the oracle needs no eigen algebra
    "q_forget_ann_pca" ->
      """WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM ev WHERE vec_id % 3 = 0 AND vec_id < 24),
        |c AS (SELECT vec_id AS neighbor_id, v FROM ev WHERE vec_id % 3 <> 0 AND vec_id % 7 <> 1),
        |s AS (SELECT q.query_id, c.neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))) AS score
        |  FROM q, c)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank,
        |  neighbor_id, round(score, 6) AS score
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 5""".stripMargin,
    "q_sql_forget" -> annIvfPqOracleK(5,
      baseWhere = "vec_id % 3 <> 0",
      queryWhere = "vec_id % 3 = 0 AND vec_id < 24",
      allowedWhere = "a.vec_id % 7 <> 1"),
    // prove-of-absence, tombstoned-not-folded state: physical counts
    // per surface from the base tables (band through the capped
    // band-index CTEs), every audited id in both sidecars, zero
    // reachable — DataFrame verb and SQL verb share the oracle
    "q_forget_audit" -> forgetAuditOracle,
    "q_sql_forget_audit" -> forgetAuditOracle,
    // the ADC stage is the ENTIRE incremental-probe oracle at k=32 as
    // a subquery (the q_ann_recall_ivfpq composition convention), then
    // exact cosine over prior-corpus vectors re-ranks the survivors
    "q_ann_probe_refine" ->
      s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cand32 AS (SELECT query_id, neighbor_id FROM (${annIvfPqOracleK(32,
             baseWhere = "vec_id % 3 <> 0",
             queryWhere = "vec_id % 3 = 0 AND vec_id < 24")}) t),
        |rr AS (SELECT c.query_id, c.neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
        |  FROM cand32 c JOIN ev a ON a.vec_id = c.query_id JOIN ev b ON b.vec_id = c.neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank,
        |  neighbor_id, round(score, 6) AS score
        |FROM rr
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 5""".stripMargin,
    // the SQ8 refine twin: the ENTIRE trained-bounds SQ probe oracle
    // at k=32 as the candidate subquery, then the identical exact
    // cosine re-rank (shared refineExact kernel on the Spark side)
    "q_ann_sq_refine" ->
      s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cand32 AS (SELECT query_id, neighbor_id FROM (${annIvfSqOracle(32,
             baseWhere = "vec_id % 3 <> 0",
             queryWhere = "vec_id % 3 = 0 AND vec_id < 24")}) t),
        |rr AS (SELECT c.query_id, c.neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
        |  FROM cand32 c JOIN ev a ON a.vec_id = c.query_id JOIN ev b ON b.vec_id = c.neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank,
        |  neighbor_id, round(score, 6) AS score
        |FROM rr
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) <= 5""".stripMargin,
    // the MMR greedy loop UNROLLED: each selection step is a CTE that
    // anti-joins the already-picked set, max-aggregates pairwise sims
    // against it, and rank-cuts on the e6 fixed-point mmr value — the
    // oracle recomputes every greedy choice, not just the final frame
    "q_ann_mmr" -> annMmrOracle(5, 700000L),
    "q_rrf_fusion" -> rrfFusionOracle,
    "q_hybrid_retrieval" -> hybridRetrievalOracle(8, 700000L),
    "q_retrieval_eval" -> retrievalEvalOracle,

    // mirrors Similarity.hardNegatives: identical IVF assignment
    // algebra (annIvf centroids), different-list exclusion, exact
    // cosine with sequential-fold parity
    "q_hard_negatives" ->
      """WITH cent AS (
        |  SELECT c.c, list(
        |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
        |      ORDER BY d.d) AS cv
        |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
        |  GROUP BY c.c),
        |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |sc AS (SELECT v.vec_id, cent.c,
        |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
        |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
        |  FROM v, cent),
        |assign AS (SELECT vec_id, c AS list_id FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
        |s AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    list_sum(list_transform(range(1, 65), i -> a.v[i] * bb.v[i]))
        |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
        |         * sqrt(list_sum(list_transform(range(1, 65), i -> bb.v[i] * bb.v[i])))) AS score
        |  FROM assign q JOIN assign b ON q.list_id <> b.list_id AND q.vec_id <> b.vec_id
        |  JOIN v a ON a.vec_id = q.vec_id JOIN v bb ON bb.vec_id = b.vec_id
        |  WHERE q.vec_id < 8),
        |r AS (SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
        |FROM r WHERE rank <= 5""".stripMargin,

    // mirrors Similarity.embedMoments: identical int8 codes, pure
    // integer moment sums (order-independent -> exact both engines)
    "q_embed_moments" ->
      """WITH q0 AS (SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |sc AS (SELECT vec_id, CASE WHEN ma = 0 THEN 1.0 ELSE ma END AS s FROM q0),
        |qv AS (SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc.s) AS BIGINT)) AS qv
        |  FROM embeddings e JOIN sc ON sc.vec_id = e.vec_id),
        |ex AS (SELECT CAST(generate_subscripts(qv, 1) - 1 AS BIGINT) AS dim,
        |    unnest(qv) AS c,
        |    coalesce(qv[CAST(generate_subscripts(qv, 1) + 1 AS INT)], 0) AS cn
        |  FROM qv)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS sum_c,
        |  CAST(sum(c * c) AS BIGINT) AS sum_c2,
        |  CAST(sum(c * cn) AS BIGINT) AS sum_c_next
        |FROM ex GROUP BY dim""".stripMargin,

    // mirrors Similarity.quantizeInt8/topKQuantized: floor-scaled int8
    // codes, integer dot products, double division only at the end
    "q_topk_quantized" ->
      """WITH q0 AS (SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |sc AS (SELECT vec_id, CASE WHEN ma = 0 THEN 1.0 ELSE ma END AS s FROM q0),
        |qv AS (SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / sc.s) AS BIGINT)) AS qv
        |  FROM embeddings e JOIN sc ON sc.vec_id = e.vec_id),
        |n AS (SELECT vec_id, qv,
        |    sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS vn FROM qv),
        |s AS (SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * b.qv[i])) AS DOUBLE)
        |      / (q.vn * b.vn) AS score
        |  FROM n q JOIN n b ON q.vec_id < 8 AND q.vec_id <> b.vec_id),
        |r AS (SELECT query_id, neighbor_id, score,
        |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
        |  FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
        |FROM r WHERE rank <= 5""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS payload_sha256,
        |  'unknown' AS kind,
        |  CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
        |  CAST(0 AS INT) AS channels, CAST(0 AS INT) AS sample_rate,
        |  CAST(0 AS INT) AS bit_depth
        |FROM documents""".stripMargin,

    // mirrors Multimodal.withMediaPayload's construction algebra; the
    // Spark side recovers these values by parsing the container bytes
    "q_media_decode" ->
      """WITH d AS (SELECT doc_id, greatest(octet_length(encode(text)), 1) AS n FROM documents),
        |w AS (SELECT doc_id, n, CAST(doc_id % 4 AS INT) AS f,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN (n - 1) % 512 + 1
        |      WHEN 1 THEN (n - 1) % 256 + 1
        |      WHEN 3 THEN (n - 1) % 192 + 1
        |      ELSE 0 END AS wid
        |  FROM d)
        |SELECT doc_id,
        |  CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'wav' ELSE 'jpeg' END AS kind,
        |  CAST(wid AS INT) AS width,
        |  CAST(CASE f WHEN 0 THEN (n + wid - 1) // wid
        |    WHEN 1 THEN (n + 3 * wid - 1) // (3 * wid)
        |    WHEN 3 THEN (n + wid - 1) // wid
        |    ELSE 0 END AS INT) AS height,
        |  CAST(CASE f WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 1 END AS INT) AS channels,
        |  CAST(CASE f WHEN 2 THEN 8000 + n % 8000 ELSE 0 END AS INT) AS sample_rate,
        |  CAST(CASE f WHEN 0 THEN 8 WHEN 1 THEN 24 ELSE 8 END AS INT) AS bit_depth
        |FROM w""".stripMargin,

    // q_media_decode's formulas with the transform applied: png/bmp
    // dims ceil-halved, wav sample rate floor-halved
    "q_media_transform" ->
      """WITH d AS (SELECT doc_id, greatest(octet_length(encode(text)), 1) AS n FROM documents),
        |w AS (SELECT doc_id, n, CAST(doc_id % 4 AS INT) AS f,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN (n - 1) % 512 + 1
        |      WHEN 1 THEN (n - 1) % 256 + 1
        |      WHEN 3 THEN (n - 1) % 192 + 1
        |      ELSE 0 END AS wid
        |  FROM d),
        |h AS (SELECT doc_id, n, f, wid,
        |    CASE f WHEN 0 THEN (n + wid - 1) // wid
        |      WHEN 1 THEN (n + 3 * wid - 1) // (3 * wid)
        |      WHEN 3 THEN (n + wid - 1) // wid
        |      ELSE 0 END AS hgt
        |  FROM w)
        |SELECT doc_id,
        |  CASE f WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' WHEN 2 THEN 'wav' ELSE 'jpeg' END AS kind,
        |  CAST(CASE WHEN f IN (0, 1, 3) THEN (wid + 1) // 2 ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN f IN (0, 1, 3) THEN (hgt + 1) // 2 ELSE 0 END AS INT) AS height,
        |  CAST(CASE f WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 1 ELSE 1 END AS INT) AS channels,
        |  CAST(CASE f WHEN 2 THEN (8000 + n % 8000) // 2 ELSE 0 END AS INT) AS sample_rate,
        |  CAST(CASE f WHEN 0 THEN 8 WHEN 1 THEN 24 ELSE 8 END AS INT) AS bit_depth
        |FROM h""".stripMargin,

    // the planted image corpus's TRUE near-dup structure: every even
    // id pairs with id+1 (jittered copy), nothing else is near
    "q_image_neardup" ->
      """SELECT CAST(2 * i AS BIGINT) AS doc_a, CAST(2 * i + 1 AS BIGINT) AS doc_b
        |FROM range(16) t(i)""".stripMargin,

    // the planted audio corpus's TRUE near-dup structure: every even
    // id pairs with id+1 (amplitude-jittered copy), nothing else near
    "q_audio_neardup" ->
      """SELECT CAST(2 * i AS BIGINT) AS doc_a, CAST(2 * i + 1 AS BIGINT) AS doc_b
        |FROM range(16) t(i)""".stripMargin,

    // the planted video corpus's TRUE near-dup structure: every even
    // id pairs with id+1 (amplitude-jittered copy), nothing else near
    "q_video_neardup" ->
      """SELECT CAST(2 * i AS BIGINT) AS doc_a, CAST(2 * i + 1 AS BIGINT) AS doc_b
        |FROM range(16) t(i)""".stripMargin,

    // as-of via the same union + running-last algebra (DuckDB's native
    // ASOF JOIN breaks ties arbitrarily; the union form is exact)
    "q_asof_join" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, max(value) AS cv
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (
        |  SELECT user_id, tsu, 1 AS side, event_id, CAST(NULL AS DOUBLE) AS rv FROM p
        |  UNION ALL
        |  SELECT user_id, tsu, 0 AS side, NULL, cv FROM c),
        |w AS (SELECT user_id, tsu, side, event_id,
        |    last_value(rv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY tsu, side
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click
        |  FROM u)
        |SELECT event_id, user_id, asof_click FROM w WHERE side = 1""".stripMargin,

    "q_range_join" ->
      """WITH st AS (SELECT event_id, user_id, epoch_us(ts) AS tsu
        |  FROM events WHERE event_type = 'signup'),
        |c AS (SELECT user_id, epoch_us(ts) AS tsu, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'click')
        |SELECT st.event_id, st.user_id,
        |  count(c.tsu) AS n_clicks,
        |  CAST(coalesce(sum(c.cents), 0) AS BIGINT) AS click_cents
        |FROM st LEFT JOIN c ON st.user_id = c.user_id
        |  AND c.tsu >= st.tsu AND c.tsu < st.tsu + 604800000000
        |GROUP BY st.event_id, st.user_id""".stripMargin,

    "q_rolling_features" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
        |    CASE WHEN event_type = 'purchase' THEN CAST(round(value * 100) AS BIGINT)
        |      ELSE 0 END AS p_cents
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(coalesce(sum(is_p) OVER w, 0) AS BIGINT) AS n_recent_purchases,
        |  CAST(coalesce(sum(p_cents) OVER w, 0) AS BIGINT) AS recent_purchase_cents
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsu
        |  RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)""".stripMargin,

    "q_fuzzy_match" ->
      """WITH names AS (SELECT p_name AS name, count(*) AS n,
        |    split_part(p_name, ' ', 2) AS block
        |  FROM part GROUP BY p_name),
        |capped AS (SELECT * FROM (
        |    SELECT name, n, block,
        |      row_number() OVER (PARTITION BY block ORDER BY name) AS rn
        |    FROM names) WHERE rn <= 1024)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
        |  a.n AS n_a, b.n AS n_b
        |FROM capped a JOIN capped b ON a.block = b.block AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 2""".stripMargin,

    "q_pagerank" -> pageRankOracle(3),
    "q_pagerank_mass" -> pageRankMassOracle(3),

    "q_scd2" ->
      """WITH ch AS (SELECT user_id, epoch_us(ts) AS tsu,
        |    max(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  tsu AS valid_from,
        |  lead(tsu) OVER w AS valid_to,
        |  cents
        |FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY tsu)""".stripMargin,

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
        |s1 AS (SELECT user_id, min(tsu) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.tsu) AS t2 FROM e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.tsu > s1.t1
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.tsu) AS t3 FROM e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.tsu > s2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin,

    "q_column_stats" ->
      """WITH m AS (
        |  SELECT 'l_quantity' AS column_name, CAST(l_quantity AS DOUBLE) AS v FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS DOUBLE) FROM lineitem)
        |SELECT column_name, count(*) AS n,
        |  CAST(count(*) - count(v) AS BIGINT) AS n_null,
        |  count(DISTINCT v) AS ndv, min(v) AS min_v, max(v) AS max_v
        |FROM m GROUP BY column_name""".stripMargin,

    "q_zorder" ->
      """WITH s AS (SELECT l_orderkey, l_linenumber,
        |    l_partkey & 65535 AS p0, l_suppkey & 65535 AS s0 FROM lineitem),
        |a AS (SELECT l_orderkey, l_linenumber,
        |    (p0 | (p0 << 8)) & 16711935 AS p1, (s0 | (s0 << 8)) & 16711935 AS s1 FROM s),
        |b AS (SELECT l_orderkey, l_linenumber,
        |    (p1 | (p1 << 4)) & 252645135 AS p2, (s1 | (s1 << 4)) & 252645135 AS s2 FROM a),
        |c AS (SELECT l_orderkey, l_linenumber,
        |    (p2 | (p2 << 2)) & 858993459 AS p3, (s2 | (s2 << 2)) & 858993459 AS s3 FROM b),
        |d AS (SELECT l_orderkey, l_linenumber,
        |    (p3 | (p3 << 1)) & 1431655765 AS p4, (s3 | (s3 << 1)) & 1431655765 AS s4 FROM c)
        |SELECT l_orderkey, l_linenumber, CAST(p4 | (s4 << 1) AS BIGINT) AS zval
        |FROM d""".stripMargin,

    // mirrors Layout.zoneMap: same Morton CTE chain, files = 64 equal
    // z-ranges (z * 64 / (max_z + 1)), min/max zone stats + the
    // orderkey-range scan decision
    "q_zone_map" ->
      """WITH s0 AS (SELECT CAST(l_orderkey AS BIGINT) AS x, CAST(l_partkey AS BIGINT) AS y,
        |    l_orderkey & 65535 AS p0, l_partkey & 65535 AS s0 FROM lineitem),
        |a AS (SELECT x, y, (p0 | (p0 << 8)) & 16711935 AS p1, (s0 | (s0 << 8)) & 16711935 AS s1 FROM s0),
        |b AS (SELECT x, y, (p1 | (p1 << 4)) & 252645135 AS p2, (s1 | (s1 << 4)) & 252645135 AS s2 FROM a),
        |c AS (SELECT x, y, (p2 | (p2 << 2)) & 858993459 AS p3, (s2 | (s2 << 2)) & 858993459 AS s3 FROM b),
        |d AS (SELECT x, y, (p3 | (p3 << 1)) & 1431655765 AS p4, (s3 | (s3 << 1)) & 1431655765 AS s4 FROM c),
        |z AS (SELECT x, y, CAST(p4 | (s4 << 1) AS BIGINT) AS z FROM d),
        |g AS (SELECT CAST((z.z * 64) // (m.mz + 1) AS BIGINT) AS file_id,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |  FROM z, (SELECT max(z) AS mz FROM z) m GROUP BY 1)
        |SELECT file_id, n_rows, min_x, max_x, min_y, max_y,
        |  NOT (max_x < 1000 OR min_x > 2000) AS would_scan
        |FROM g""".stripMargin,

    // mirrors Layout.zvalue64: the 31-bit doubling chain (one more
    // mask-shift level) over Knuth-hashed wide coordinates
    "q_zorder64" ->
      """WITH s AS (SELECT l_orderkey, l_linenumber,
        |    (l_orderkey * 2654435761) & 2147483647 AS p0,
        |    (l_partkey * 40503) & 2147483647 AS s0 FROM lineitem),
        |a AS (SELECT l_orderkey, l_linenumber,
        |    (p0 | (p0 << 16)) & 281470681808895 AS p1, (s0 | (s0 << 16)) & 281470681808895 AS s1 FROM s),
        |b AS (SELECT l_orderkey, l_linenumber,
        |    (p1 | (p1 << 8)) & 71777214294589695 AS p2, (s1 | (s1 << 8)) & 71777214294589695 AS s2 FROM a),
        |c AS (SELECT l_orderkey, l_linenumber,
        |    (p2 | (p2 << 4)) & 1085102592571150095 AS p3, (s2 | (s2 << 4)) & 1085102592571150095 AS s3 FROM b),
        |d AS (SELECT l_orderkey, l_linenumber,
        |    (p3 | (p3 << 2)) & 3689348814741910323 AS p4, (s3 | (s3 << 2)) & 3689348814741910323 AS s4 FROM c),
        |e AS (SELECT l_orderkey, l_linenumber,
        |    (p4 | (p4 << 1)) & 6148914691236517205 AS p5, (s4 | (s4 << 1)) & 6148914691236517205 AS s5 FROM d)
        |SELECT l_orderkey, l_linenumber, CAST(p5 | (s5 << 1) AS BIGINT) AS zval64
        |FROM e""".stripMargin,

    // mirrors Layout.zoneMap64: same wide Morton chain, overflow-free
    // file split z // (mz // 64 + 1), x-range scan decision
    "q_zone_map64" ->
      """WITH s0 AS (SELECT (l_orderkey * 2654435761) & 2147483647 AS x,
        |    (l_partkey * 40503) & 2147483647 AS y FROM lineitem),
        |a AS (SELECT x, y, (x | (x << 16)) & 281470681808895 AS p1, (y | (y << 16)) & 281470681808895 AS s1 FROM s0),
        |b AS (SELECT x, y, (p1 | (p1 << 8)) & 71777214294589695 AS p2, (s1 | (s1 << 8)) & 71777214294589695 AS s2 FROM a),
        |c AS (SELECT x, y, (p2 | (p2 << 4)) & 1085102592571150095 AS p3, (s2 | (s2 << 4)) & 1085102592571150095 AS s3 FROM b),
        |d AS (SELECT x, y, (p3 | (p3 << 2)) & 3689348814741910323 AS p4, (s3 | (s3 << 2)) & 3689348814741910323 AS s4 FROM c),
        |e AS (SELECT x, y, (p4 | (p4 << 1)) & 6148914691236517205 AS p5, (s4 | (s4 << 1)) & 6148914691236517205 AS s5 FROM d),
        |z AS (SELECT x, y, CAST(p5 | (s5 << 1) AS BIGINT) AS z FROM e),
        |g AS (SELECT CAST(z.z // ((m.mz // 64) + 1) AS BIGINT) AS file_id,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
        |  FROM z, (SELECT max(z) AS mz FROM z) m GROUP BY 1)
        |SELECT file_id, n_rows, min_x, max_x, min_y, max_y,
        |  NOT (max_x < 100000000 OR min_x > 400000000) AS would_scan
        |FROM g""".stripMargin,

    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM documents),
        |dims AS (SELECT unnest(range(4)) AS i),
        |cells AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM tok, dims),
        |sk AS (SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
        |ex AS (SELECT word, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY word),
        |cand AS (SELECT word, exact_n FROM ex ORDER BY exact_n DESC, word LIMIT 20),
        |cc AS (SELECT cand.word, cand.exact_n, i AS row,
        |    ('0x' || substr(md5('cms|' || cand.word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM cand, dims)
        |SELECT cc.word, cc.exact_n, CAST(min(sk.c) AS BIGINT) AS est_n
        |FROM cc JOIN sk ON cc.row = sk.row AND cc.col = sk.col
        |GROUP BY cc.word, cc.exact_n""".stripMargin,

    // the merged half-corpus counter tables must equal the table
    // DuckDB rebuilds from the WHOLE corpus — addition-mergeability
    // checked on every stored cell
    "q_cms_sketch_merge" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM documents),
        |dims AS (SELECT unnest(range(4)) AS i),
        |cells AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM tok, dims)
        |SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2""".stripMargin,

    // the streamed, folded, crash-retried sketch must estimate exactly
    // what one batch build over the WHOLE corpus estimates: the three
    // doc_id%3 batches partition the corpus, the fold nets the stamps
    // away, and the replay-after-fold retry of batch 2 must be a
    // watermark no-op — a double-count there shifts min-of-cells for
    // every batch-2 word and hash-mismatches against this recompute
    "q_cms_stream_fold" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM documents),
        |dims AS (SELECT unnest(range(4)) AS i),
        |cells AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM tok, dims),
        |sk AS (SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM documents WHERE doc_id % 101 = 7),
        |pc AS (SELECT word, i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM probes, dims)
        |SELECT pc.word, CAST(min(sk.c) AS BIGINT) AS est_n
        |FROM pc JOIN sk ON pc.row = sk.row AND pc.col = sk.col
        |GROUP BY pc.word""".stripMargin,

    // the streamed, folded, crash-retried MV delta log must
    // re-aggregate to exactly the rollup DuckDB computes from the base
    // table — the three event_id%3 partial appends partition the
    // corpus, and the post-fold retry must not double batch 2
    "q_mv_stream_fold" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    // forget-with-retraction: the sketch the engine holds AFTER the
    // one removal call must equal the sketch DuckDB builds from the
    // surviving corpus directly (probes drawn from surviving docs, so
    // every probed cell is populated on both sides)
    "q_forget_cms_retract" ->
      """WITH surv AS (SELECT * FROM documents
        |  WHERE doc_id % 5 <> 0 AND NOT (doc_id % 7 = 1)),
        |tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM surv),
        |dims AS (SELECT unnest(range(4)) AS i),
        |cells AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM tok, dims),
        |sk AS (SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM surv WHERE doc_id % 101 = 7),
        |pc AS (SELECT word, i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM probes, dims)
        |SELECT pc.word, CAST(min(sk.c) AS BIGINT) AS est_n
        |FROM pc JOIN sk ON pc.row = sk.row AND pc.col = sk.col
        |GROUP BY pc.word""".stripMargin,

    // the SQL verb parses to the identical Targets — same truth
    "q_sql_forget_cms" ->
      """WITH surv AS (SELECT * FROM documents
        |  WHERE doc_id % 5 <> 0 AND NOT (doc_id % 7 = 1)),
        |tok AS (SELECT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM surv),
        |dims AS (SELECT unnest(range(4)) AS i),
        |cells AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM tok, dims),
        |sk AS (SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT unnest(list_filter(string_split_regex(lower(text), ' +'),
        |    x -> len(x) > 0)) AS word FROM surv WHERE doc_id % 101 = 7),
        |pc AS (SELECT word, i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 1024 AS col
        |  FROM probes, dims)
        |SELECT pc.word, CAST(min(sk.c) AS BIGINT) AS est_n
        |FROM pc JOIN sk ON pc.row = sk.row AND pc.col = sk.col
        |GROUP BY pc.word""".stripMargin,

    // the retracted rollup must equal the recompute over events MINUS
    // the removed slice — buckets whose every event was removed vanish
    "q_mv_retract" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE NOT (event_id % 7 = 0) GROUP BY 1, 2""".stripMargin,

    // same discipline for the quantile sketch: the folded + replayed
    // delta log's derived edges must equal the whole-corpus recompute
    "q_loghist_stream_fold" ->
      """WITH b AS (SELECT l_returnflag AS source,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem WHERE CAST(round(l_extendedprice * 100) AS BIGINT) >= 0),
        |h AS (SELECT source,
        |    CASE WHEN v < 8 THEN v
        |      ELSE length(printf('%b', v)) * 8 +
        |        (v // (1::BIGINT << (length(printf('%b', v)) - 4))) % 8 END AS bucket,
        |    CASE WHEN v < 8 THEN v
        |      ELSE (8 + (v // (1::BIGINT << (length(printf('%b', v)) - 4))) % 8)
        |        * (1::BIGINT << (length(printf('%b', v)) - 4)) END AS lo
        |  FROM b),
        |hist AS (SELECT source, bucket, lo, count(*) AS c FROM h GROUP BY 1, 2, 3),
        |cm AS (SELECT source, lo, c,
        |    sum(c) OVER (PARTITION BY source ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY source) AS total
        |  FROM hist),
        |ps AS (SELECT unnest([250, 500, 750, 990]) AS p)
        |SELECT source, CAST(p AS BIGINT) AS p_permille, min(lo) AS q_lo
        |FROM cm CROSS JOIN ps WHERE cum >= (total * p + 999) // 1000
        |GROUP BY source, p""".stripMargin,

    "q_data_quality" ->
      """SELECT 'unique:orders.o_orderkey' AS check_name,
        |  CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_violations
        |  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
        |UNION ALL
        |SELECT 'unique:lineitem.pk',
        |  CAST(coalesce(sum(n - 1), 0) AS BIGINT)
        |  FROM (SELECT count(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
        |UNION ALL
        |SELECT 'fk:orders->customer', CAST(count(*) AS BIGINT)
        |  FROM orders o WHERE o.o_custkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'fk:lineitem->orders', CAST(count(*) AS BIGINT)
        |  FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'range:l_quantity[1,50]',
        |  CAST(coalesce(sum(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 0 ELSE 1 END), 0) AS BIGINT)
        |  FROM lineitem
        |UNION ALL
        |SELECT 'range:l_discount[0,0.1]',
        |  CAST(coalesce(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END), 0) AS BIGINT)
        |  FROM lineitem
        |UNION ALL
        |SELECT 'domain:event_type',
        |  CAST(coalesce(sum(CASE WHEN event_type IN ('signup','click','purchase','view','error') THEN 0 ELSE 1 END), 0) AS BIGINT)
        |  FROM events
        |UNION ALL
        |SELECT 'notnull:c_acctbal',
        |  CAST(coalesce(sum(CASE WHEN c_acctbal IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT)
        |  FROM customer""".stripMargin,

    "q_gap_fill" ->
      """WITH a AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day_bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT user_id, min(day_bucket) AS lo, max(day_bucket) AS hi
        |  FROM a GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day_bucket FROM sp),
        |f AS (SELECT g.user_id, g.day_bucket, coalesce(a.n, 0) AS n_events
        |  FROM grid g LEFT JOIN a ON g.user_id = a.user_id AND g.day_bucket = a.day_bucket)
        |SELECT user_id, day_bucket, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(sum(n_events) OVER (PARTITION BY user_id ORDER BY day_bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
        |FROM f""".stripMargin,

    "q_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
        |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN coh c ON a.user_id = c.user_id
        |WHERE a.day - c.cohort_day BETWEEN 0 AND 13
        |GROUP BY 1, 2""".stripMargin,

    "q_interval_overlap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu, event_id,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |bd AS (SELECT user_id, tsu, event_id,
        |    CASE WHEN prev_ts IS NULL OR tsu - prev_ts > 1800000000 THEN 1 ELSE 0 END AS boundary
        |  FROM e),
        |sr AS (SELECT user_id, tsu,
        |    CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM bd),
        |sess AS (SELECT user_id, session_id, min(tsu) AS s0, max(tsu) + 1 AS e0
        |  FROM sr GROUP BY user_id, session_id),
        |a AS (SELECT * FROM sess WHERE user_id % 2 = 0),
        |b AS (SELECT * FROM sess WHERE user_id % 2 = 1)
        |SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_overlaps
        |FROM a JOIN b ON a.s0 < b.e0 AND b.s0 < a.e0
        |GROUP BY 1, 2""".stripMargin,

    "q_weighted_sample" ->
      """WITH d AS (SELECT doc_id, source, n_chars AS weight,
        |    ln((CAST(('0x' || substr(md5('wsample|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) + 1.0)
        |        / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, source, weight,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id) AS BIGINT) AS rank_in_source
        |  FROM d)
        |SELECT doc_id, source, weight, rank_in_source FROM r
        |WHERE rank_in_source <= 10""".stripMargin,

    "q6_revenue_delta" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_rollup_merge" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'signup' THEN 1 END), 0) AS BIGINT) AS n_signup,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS n_click,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS n_purchase,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS n_view,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS n_error
        |FROM events GROUP BY user_id""".stripMargin,

    "q_anomaly" ->
      """WITH h AS (SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT hour_bucket, event_type, x,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(x) OVER w AS BIGINT) AS s,
        |    CAST(sum(x * x) OVER w AS BIGINT) AS q
        |  FROM h WINDOW w AS (PARTITION BY event_type))
        |SELECT hour_bucket, event_type, x FROM st
        |WHERE (n * x - s) * (n * x - s) > 9 * (n * q - s * s)""".stripMargin,

    "q_transitions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type FROM events),
        |nx AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS to_state
        |  FROM e)
        |SELECT from_state, to_state, count(*) AS n
        |FROM nx WHERE to_state IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_psi" -> psiOracle,

    // the persisted-reference path must score drift exactly like the
    // inline two-corpus comparison — same oracle by design
    "q_psi_ref" -> psiOracle,

    "q_setsim_join" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS word
        |  FROM documents),
        |sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
        |fr AS (SELECT word, count(*) AS f FROM tok GROUP BY 1),
        |rk AS (SELECT t.doc_id, t.word,
        |    row_number() OVER (PARTITION BY t.doc_id ORDER BY fr.f, t.word) AS rn
        |  FROM tok t JOIN fr ON t.word = fr.word),
        |pf AS (SELECT rk.doc_id, rk.word FROM rk JOIN sz ON rk.doc_id = sz.doc_id
        |  WHERE rk.rn <= sz.s - (19 * sz.s + 19) // 20 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM pf a JOIN pf b ON a.word = b.word AND a.doc_id < b.doc_id),
        |sized AS (SELECT da, db, sa.s AS sa, sb.s AS sb FROM cand
        |  JOIN sz sa ON cand.da = sa.doc_id JOIN sz sb ON cand.db = sb.doc_id
        |  WHERE 19 * sa.s <= 20 * sb.s AND 19 * sb.s <= 20 * sa.s),
        |inter AS (SELECT c.da, c.db, count(*) AS i FROM sized c
        |  JOIN tok ta ON ta.doc_id = c.da
        |  JOIN tok tb ON tb.doc_id = c.db AND ta.word = tb.word
        |  GROUP BY 1, 2)
        |SELECT i2.da AS doc_a, i2.db AS doc_b, CAST(i2.i AS BIGINT) AS inter_n,
        |  CAST(sa.s + sb.s - i2.i AS BIGINT) AS union_n
        |FROM inter i2 JOIN sz sa ON i2.da = sa.doc_id JOIN sz sb ON i2.db = sb.doc_id
        |WHERE 39 * i2.i >= 19 * (sa.s + sb.s)""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_cdc_apply" ->
      """WITH c AS (SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op, value
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS n_changes
        |  FROM c)
        |SELECT user_id, value AS last_value, CAST(n_changes AS BIGINT) AS n_changes
        |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin,

    "q_chunk_split" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    1 + (greatest(CAST(len(toks) AS BIGINT) - 16, 0) + 7) // 8 AS nch
        |  FROM t WHERE len(toks) > 0),
        |c AS (SELECT doc_id, n_tokens, toks,
        |    unnest(range(0, nch)) AS chunk_idx FROM n)
        |SELECT doc_id, chunk_idx, chunk_idx * 8 AS start_tok,
        |  least(16, n_tokens - chunk_idx * 8) AS n_chunk_tokens,
        |  array_to_string(toks[CAST(chunk_idx*8+1 AS INT) : CAST(chunk_idx*8+16 AS INT)], ' ') AS chunk_text
        |FROM c""".stripMargin,

    "q_triangles" ->
      """WITH raw AS (SELECT user_id AS a,
        |    (user_id + CAST(json_extract(props, '$.k') AS BIGINT) + 1) % 150 AS b
        |  FROM events),
        |und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |  FROM raw WHERE a <> b),
        |deg AS (SELECT x, count(*) AS deg
        |  FROM (SELECT u AS x FROM und UNION ALL SELECT v AS x FROM und) s GROUP BY x),
        |orient AS (SELECT
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v) THEN u ELSE v END AS src,
        |    CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND u < v) THEN v ELSE u END AS dst
        |  FROM und JOIN deg d1 ON d1.x = und.u JOIN deg d2 ON d2.x = und.v),
        |tri AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |  FROM orient e1
        |  JOIN orient e2 ON e1.dst = e2.src
        |  JOIN orient e3 ON e3.src = e1.src AND e3.dst = e2.dst)
        |SELECT vertex, count(*) AS n_triangles
        |FROM (SELECT x AS vertex FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri) c
        |GROUP BY vertex""".stripMargin,

    "q_skew" ->
      """WITH c AS (SELECT o_custkey AS key, count(*) AS n_rows FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total, count(*) AS n_keys FROM c)
        |SELECT key, n_rows, n_rows * 1000 // total AS permille,
        |  n_rows * n_keys * 1000 // total AS skew_x1000
        |FROM c, t ORDER BY n_rows DESC, key LIMIT 20""".stripMargin,

    "q_winsorize" ->
      """WITH r AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM r),
        |b AS (SELECT *,
        |    max(CASE WHEN rn = greatest(1, n * 50 // 1000) THEN c END)
        |      OVER (PARTITION BY event_type) AS lo,
        |    max(CASE WHEN rn = least(n, n * 950 // 1000 + 1) THEN c END)
        |      OVER (PARTITION BY event_type) AS hi
        |  FROM rk)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN c < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN c > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  CAST(sum(greatest(least(c, hi), lo)) AS BIGINT) AS clamped_cents,
        |  CAST(max(lo) AS BIGINT) AS lo_cents, CAST(max(hi) AS BIGINT) AS hi_cents
        |FROM b GROUP BY event_type""".stripMargin,

    "q_entropy" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS word
        |  FROM documents),
        |wc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY 1, 2),
        |w2 AS (SELECT doc_id, c,
        |    sum(c) OVER (PARTITION BY doc_id) AS n,
        |    count(*) OVER (PARTITION BY doc_id) AS nd
        |  FROM wc)
        |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
        |  CAST(max(nd) AS BIGINT) AS n_distinct,
        |  CAST(sum(CAST(floor(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
        |    * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT) AS entropy_fp
        |FROM w2 GROUP BY doc_id""".stripMargin,

    "q_band_index" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |shr AS (SELECT doc_id, unnest(list_transform(
        |    range(1, greatest(len(toks) - 2, 0) + 1),
        |    i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
        |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shr),
        |m AS (SELECT doc_id,
        |    min(xor(h, 209447588586780011)) AS h0,
    min(xor(h, 936341403301489455)) AS h1,
    min(xor(h, 295277263637340404)) AS h2,
    min(xor(h, 563676826287926931)) AS h3,
    min(xor(h, 422759062283486138)) AS h4,
    min(xor(h, 787458769371879955)) AS h5,
    min(xor(h, 276480797554209527)) AS h6,
    min(xor(h, 940242011891231416)) AS h7,
    min(xor(h, 17226769401980447)) AS h8,
    min(xor(h, 462358560736444671)) AS h9,
    min(xor(h, 914886181343869267)) AS h10,
    min(xor(h, 639468835962388899)) AS h11
        |  FROM hs GROUP BY doc_id),
        |b0 AS (SELECT doc_id, unnest([md5(h0 || '|' || h1), md5(h2 || '|' || h3), md5(h4 || '|' || h5), md5(h6 || '|' || h7), md5(h8 || '|' || h9), md5(h10 || '|' || h11)]) AS band_key FROM m)
        |SELECT doc_id, band_key FROM b0
        |QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= 128""".stripMargin,

    "q_join_size" ->
      """WITH dims AS (SELECT unnest(range(4)) AS i),
        |ta AS (SELECT CAST(user_id AS VARCHAR) AS word FROM events),
        |tb AS (SELECT CAST(o_custkey AS VARCHAR) AS word FROM orders),
        |sa AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 512 AS col,
        |    CAST(count(*) AS BIGINT) AS ca
        |  FROM ta, dims GROUP BY 1, 2),
        |sb AS (SELECT i AS row,
        |    ('0x' || substr(md5('cms|' || word), 1 + 7 * i, 7))::BIGINT % 512 AS col,
        |    CAST(count(*) AS BIGINT) AS cb
        |  FROM tb, dims GROUP BY 1, 2),
        |ip AS (SELECT sa.row, CAST(sum(ca * cb) AS BIGINT) AS ip
        |  FROM sa JOIN sb ON sa.row = sb.row AND sa.col = sb.col GROUP BY 1),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_n
        |  FROM events e JOIN orders o ON e.user_id = o.o_custkey)
        |SELECT CAST(min(coalesce(ip, 0)) AS BIGINT) AS est_join_n, max(exact_join_n) AS exact_join_n
        |FROM dims LEFT JOIN ip ON dims.i = ip.row CROSS JOIN ex""".stripMargin,

    "q_group_topk" ->
      """SELECT source, doc_id, n_chars, rk FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM documents) t WHERE rk <= 5""".stripMargin,

    "q_kanon" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        |  CAST(CASE WHEN count(DISTINCT user_id) >= 5 THEN count(*) ELSE -1 END AS BIGINT) AS n_published,
        |  CAST(CASE WHEN count(DISTINCT user_id) >= 5 THEN 1 ELSE 0 END AS BIGINT) AS published
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_neardup_incremental" -> incNeardupOracle,
    // the persisted-index round-trip must answer exactly like the
    // recomputed operator — same oracle by design
    "q_neardup_index_probe" -> incNeardupOracle,
    // deletion: tombstoned priors leave the candidate join after the
    // admission-time cap; the fold is result-invariant, so both forms
    // share the oracle
    "q_neardup_delete" -> incNeardupOracleEx("doc_id % 7 <> 1"),
    // the forget composition's near-dup surface: after the ONE call,
    // the probe runs against the folded band index with its prior
    // text read from the FOLDED winner store — same exclusion as the
    // per-artifact delete, proving candidate and text surfaces forgot
    // the docs together
    "q_forget" -> incNeardupOracleEx("doc_id % 7 <> 1"),
    "q_neardup_delete_fold" -> incNeardupOracleEx("doc_id % 7 <> 1"),

    // mirrors Par.bloomBits + bloomMightContain: same md5 positions,
    // 60-bit words, per-distinct-key probe (pass is a function of the
    // key alone), identical accounting + DECIMAL revenue algebra
    "q_bloom_join_prune" ->
      """WITH dim AS (SELECT DISTINCT s_suppkey AS k FROM supplier WHERE s_nationkey = 7),
        |pb AS (SELECT ('0x' || substr(md5('bjp' || CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 15))::BIGINT % 65536 AS p
        |  FROM dim CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
        |words AS (SELECT p // 60 AS w, bit_or(1::BIGINT << CAST(p % 60 AS INT)) AS bits
        |  FROM pb GROUP BY p // 60),
        |fkeys AS (SELECT DISTINCT l_suppkey AS k FROM lineitem),
        |fp AS (SELECT k, ('0x' || substr(md5('bjp' || CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 15))::BIGINT % 65536 AS p
        |  FROM fkeys CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)),
        |chk AS (SELECT fp.k,
        |    bool_and(words.bits IS NOT NULL AND (words.bits & (1::BIGINT << CAST(fp.p % 60 AS INT))) <> 0) AS pass
        |  FROM fp LEFT JOIN words ON fp.p // 60 = words.w GROUP BY fp.k),
        |f AS (SELECT l_suppkey AS k, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS rev
        |  FROM lineitem),
        |joined AS (SELECT f.rev, chk.pass, dim.k IS NOT NULL AS inn
        |  FROM f JOIN chk ON f.k = chk.k LEFT JOIN dim ON f.k = dim.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_fact,
        |  CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
        |  CAST(sum(CASE WHEN inn THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
        |  CAST(sum(CASE WHEN pass AND NOT inn THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
        |  CAST(sum(CASE WHEN NOT pass AND inn THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
        |  CAST(CAST(sum(CASE WHEN inn THEN rev END) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM joined""".stripMargin
    // Every query above carries an oracle — including q_ann_lsh, whose
    // bucket algebra is SQL-derivable (annLshOracle), so even the
    // approximation is value-checked; the recall bound is additionally
    // asserted in SimilaritySpec.
  )

  /** DuckDB mirror of PageRank.pageRankRounds over the id -> id DIV 2
    * event graph: the damped rounds unroll as CTE triples (dangling
    * sum, message aggregate, rank update) — integer algebra,
    * bit-for-bit, INCLUDING the uniform dangling-mass redistribution
    * (g$i's summed rank of no-out-edge nodes, floor-shared per node).
    */
  private def pageRankChain(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""g$i AS (SELECT CAST(coalesce(sum(r${i - 1}.rank), 0) AS BIGINT) AS dang
         |  FROM r${i - 1} LEFT JOIN d ON r${i - 1}.id = d.src WHERE d.src IS NULL),
         |m$i AS (SELECT e.dst AS id, CAST(sum(r${i - 1}.rank // e.deg) AS BIGINT) AS msg
         |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src GROUP BY e.dst),
         |r$i AS (SELECT n.id,
         |    CAST(150000000 + 85 * (coalesce(m$i.msg, 0) + g$i.dang // nn.n_nodes) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN m$i ON n.id = m$i.id CROSS JOIN g$i CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH n AS (SELECT event_id AS id FROM events),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM n),
       |e0 AS (SELECT event_id AS src, event_id // 2 AS dst FROM events WHERE event_id > 0),
       |d AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, d.deg FROM e0 JOIN d ON e0.src = d.src),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS rank FROM n),
       |$rounds""".stripMargin
  }

  private def pageRankOracle(iters: Int): String =
    s"""${pageRankChain(iters)}
       |SELECT id, rank FROM r$iters""".stripMargin

  /** Mass-conservation audit: every round's summed rank. With the
    * dangling redistribution the totals stay pinned at n * Scale minus
    * only the deterministic integer-division remainders — a dropped
    * dangling term would show up here as a round-over-round decay.
    */
  private def pageRankMassOracle(iters: Int): String = {
    val sums = (0 to iters).map(i =>
      s"SELECT CAST($i AS BIGINT) AS round, CAST(sum(rank) AS BIGINT) AS total_rank FROM r$i")
      .mkString("\n UNION ALL ")
    s"""${pageRankChain(iters)}
       |$sums""".stripMargin
  }

  /** Shared by `q_psi` (inline two-corpus PSI) and `q_psi_ref` (the
    * persisted-reference-artifact path) — mirrors `Drift.psi`'s
    * add-one-smoothed full-grid fixed-point algebra.
    */
  private def psiOracle: String =
    """WITH d AS (SELECT doc_id, source,
      |    least(len(list_filter(string_split_regex(lower(text), ' +'),
      |      x -> len(x) > 0)) // 20, 9) AS bin
      |  FROM documents),
      |a AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS na FROM d
      |  WHERE doc_id % 2 = 0 GROUP BY 1, 2),
      |b AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS nb FROM d
      |  WHERE doc_id % 2 = 1 GROUP BY 1, 2),
      |grid AS (SELECT source, unnest(range(10)) AS bin FROM (SELECT DISTINCT source FROM d)),
      |j AS (SELECT g.source, g.bin, coalesce(a.na, 0) AS na, coalesce(b.nb, 0) AS nb
      |  FROM grid g
      |  LEFT JOIN a ON g.source = a.source AND g.bin = a.bin
      |  LEFT JOIN b ON g.source = b.source AND g.bin = b.bin),
      |t AS (SELECT source, bin, na, nb,
      |    sum(na) OVER (PARTITION BY source) AS ta,
      |    sum(nb) OVER (PARTITION BY source) AS tb FROM j),
      |p AS (SELECT source, ta, tb,
      |    CAST(na + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE) AS pa,
      |    CAST(nb + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE) AS pb FROM t),
      |c AS (SELECT source, ta, tb,
      |    CAST(floor((pa - pb) * ln(pa / pb) * 1e9) AS BIGINT) AS cf FROM p)
      |SELECT source, CAST(sum(cf) AS BIGINT) AS psi_fp,
      |  CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b
      |FROM c GROUP BY source""".stripMargin

  /** DuckDB mirror of the banded MinHash-LSH algebra (salts 0..11,
    * 6 bands x 2 rows) — misses below the LSH detection curve match on
    * both sides because the oracle replicates candidate generation.
    */
  /** DuckDB mirror of Dedup.nearDupAgainst over the % 3 prior/probe
    * split: the [[neardupOracle]] banding algebra with per-side band
    * tables (each capped independently, as the operator does) and
    * prior x probe candidate generation only.
    */
  /** The substring-incremental oracle (Curation.substringDedupAgainst
    * algebra), with the prior-corpus membership parameterized so the
    * forget composition's gram surface — the index rebuilt from the
    * SURVIVING prior corpus — shares the same SQL body.
    */
  private def substringIncOracle(priorWhere: String): String =
    s"""WITH t AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
      |  FROM documents),
      |b0 AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
      |bb AS (SELECT * FROM b0 WHERE doc_id % 5 = 0),
      |bp AS (SELECT * FROM b0 WHERE $priorWhere),
      |gp AS (SELECT doc_id, toks, unnest(range(0, n_tokens - 7)) AS pos FROM bp WHERE n_tokens >= 8),
      |pg AS (SELECT DISTINCT
      |    array_to_string(toks[CAST(pos + 1 AS INT) : CAST(pos + 8 AS INT)], ' ') AS gram
      |  FROM gp),
      |g AS (SELECT doc_id, toks, unnest(range(0, n_tokens - 7)) AS pos FROM bb WHERE n_tokens >= 8),
      |g2 AS (SELECT doc_id, pos,
      |    array_to_string(toks[CAST(pos + 1 AS INT) : CAST(pos + 8 AS INT)], ' ') AS gram
      |  FROM g),
      |m AS (SELECT g2.doc_id, g2.pos, (pg.gram IS NOT NULL) AS in_prior,
      |    row_number() OVER (PARTITION BY g2.gram ORDER BY g2.doc_id, g2.pos) AS rn
      |  FROM g2 LEFT JOIN pg ON g2.gram = pg.gram),
      |dups AS (SELECT doc_id, pos AS start, pos + 8 AS stop FROM m WHERE in_prior OR rn > 1),
      |isl AS (SELECT doc_id, start, stop,
      |    CASE WHEN start > coalesce(max(stop) OVER (PARTITION BY doc_id ORDER BY start, stop
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
      |  FROM dups),
      |isl2 AS (SELECT doc_id, start, stop,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY start, stop) AS grp
      |  FROM isl),
      |mrg AS (SELECT doc_id, min(start) AS start, max(stop) AS stop FROM isl2 GROUP BY doc_id, grp),
      |cov AS (SELECT doc_id, unnest(range(start, stop)) AS pos FROM mrg),
      |tp AS (SELECT doc_id, unnest(range(0, n_tokens)) AS pos, toks FROM bb WHERE n_tokens > 0),
      |tp2 AS (SELECT doc_id, pos, toks[CAST(pos + 1 AS INT)] AS tok FROM tp),
      |kept AS (SELECT tp2.doc_id, tp2.pos, tp2.tok FROM tp2
      |  ANTI JOIN cov ON tp2.doc_id = cov.doc_id AND tp2.pos = cov.pos),
      |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY pos) AS kept_text
      |  FROM kept GROUP BY doc_id)
      |SELECT bb.doc_id, bb.n_tokens,
      |  bb.n_tokens - coalesce(pd.n_kept, 0) AS n_removed,
      |  coalesce(pd.kept_text, '') AS kept_text
      |FROM bb LEFT JOIN pd ON bb.doc_id = pd.doc_id""".stripMargin

  /** The forget-audit oracle: per-surface (physical, tombstoned,
    * reachable) for the ids `doc_id % 3 <> 0 AND doc_id % 7 = 1`
    * after a tombstone-only delete — physical rows from the base
    * tables (the band surface through the capped band-index CTEs),
    * every audited id in both live sidecars, zero probe-reachable.
    */
  private def forgetAuditOracle: String =
    s"""WITH $bandCtePrefix,
       |idset AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1),
       |n_ids AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idset),
       |ann_phys AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
       |  WHERE vec_id % 3 <> 0 AND vec_id % 7 = 1),
       |band_phys AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bp WHERE doc_id % 7 = 1),
       |store_phys AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
       |  WHERE doc_id % 3 <> 0 AND doc_id % 7 = 1)
       |SELECT 'ann' AS surface, (SELECT n FROM ann_phys) AS physical_rows,
       |  (SELECT n FROM n_ids) AS tombstoned_ids, CAST(0 AS BIGINT) AS reachable_rows
       |UNION ALL SELECT 'band', (SELECT n FROM band_phys), (SELECT n FROM n_ids), CAST(0 AS BIGINT)
       |UNION ALL SELECT 'store', (SELECT n FROM store_phys), (SELECT n FROM n_ids), CAST(0 AS BIGINT)
       |ORDER BY surface""".stripMargin

  private def incNeardupOracle: String = incNeardupOracleEx()

  /** `priorExclude`: deletion mirror — a predicate dropping tombstoned
    * PRIOR docs from the candidate join AFTER the admission-time
    * bucket cap (the engine caps at admission and excludes at the
    * probe scan, so the oracle must too — filtering before the
    * QUALIFY would re-admit different docs into full buckets).
    */
  /** The shingle→minhash→band→cap CTE chain (t..bp) shared by the
    * incremental near-dup oracle and the forget-audit oracle: `bp` is
    * the capped prior band index exactly as the persisted artifact
    * admits it.
    */
  private def bandCtePrefix: String =
    """t AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |shr AS (SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
       |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shr),
       |m AS (SELECT doc_id,
       |    min(xor(h, 209447588586780011)) AS h0,
    min(xor(h, 936341403301489455)) AS h1,
    min(xor(h, 295277263637340404)) AS h2,
    min(xor(h, 563676826287926931)) AS h3,
    min(xor(h, 422759062283486138)) AS h4,
    min(xor(h, 787458769371879955)) AS h5,
    min(xor(h, 276480797554209527)) AS h6,
    min(xor(h, 940242011891231416)) AS h7,
    min(xor(h, 17226769401980447)) AS h8,
    min(xor(h, 462358560736444671)) AS h9,
    min(xor(h, 914886181343869267)) AS h10,
    min(xor(h, 639468835962388899)) AS h11
       |  FROM hs GROUP BY doc_id),
       |b0 AS (SELECT doc_id, unnest([md5(h0 || '|' || h1), md5(h2 || '|' || h3), md5(h4 || '|' || h5), md5(h6 || '|' || h7), md5(h8 || '|' || h9), md5(h10 || '|' || h11)]) AS band_key FROM m),
       |bp AS (SELECT doc_id, band_key FROM b0 WHERE doc_id % 3 <> 0
       |  QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= 128)"""

  private def incNeardupOracleEx(priorExclude: String = ""): String = {
    val priorSrc =
      if (priorExclude.isEmpty) "bp"
      else s"(SELECT * FROM bp WHERE $priorExclude)"
    s"""WITH $bandCtePrefix,
       |bq AS (SELECT doc_id, band_key FROM b0 WHERE doc_id % 3 = 0
       |  QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= 128),
       |cand AS (SELECT DISTINCT p.doc_id AS doc_prior, q.doc_id AS doc_new
       |  FROM $priorSrc p JOIN bq q USING (band_key)),
       |s2 AS (SELECT t.doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
       |j AS (SELECT doc_new, doc_prior,
       |    len(list_intersect(sn.sh, sp.sh)) AS inter, len(sn.sh) AS ln2, len(sp.sh) AS lp
       |  FROM cand JOIN s2 sp ON sp.doc_id = doc_prior JOIN s2 sn ON sn.doc_id = doc_new)
       |SELECT doc_new, doc_prior,
       |  round(CAST(inter AS DOUBLE) / (ln2 + lp - inter), 6) AS jaccard
       |FROM j WHERE CAST(inter AS DOUBLE) / (ln2 + lp - inter) >= 0.4""".stripMargin
  }

  private def neardupOracle: String = {
    // XOR masks inlined from Dedup.minhashMask (md5("mask|k") hex15)
    """WITH t AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |shr AS (SELECT doc_id, unnest(list_transform(
       |    range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS s FROM t),
       |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shr),
       |m AS (SELECT doc_id,
       |    min(xor(h, 209447588586780011)) AS h0,
    min(xor(h, 936341403301489455)) AS h1,
    min(xor(h, 295277263637340404)) AS h2,
    min(xor(h, 563676826287926931)) AS h3,
    min(xor(h, 422759062283486138)) AS h4,
    min(xor(h, 787458769371879955)) AS h5,
    min(xor(h, 276480797554209527)) AS h6,
    min(xor(h, 940242011891231416)) AS h7,
    min(xor(h, 17226769401980447)) AS h8,
    min(xor(h, 462358560736444671)) AS h9,
    min(xor(h, 914886181343869267)) AS h10,
    min(xor(h, 639468835962388899)) AS h11
       |  FROM hs GROUP BY doc_id),
       |b0 AS (SELECT doc_id, unnest([md5(h0 || '|' || h1), md5(h2 || '|' || h3), md5(h4 || '|' || h5), md5(h6 || '|' || h7), md5(h8 || '|' || h9), md5(h10 || '|' || h11)]) AS band_key FROM m),
       |b AS (SELECT doc_id, band_key FROM b0
       |  QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= 128),
       |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM b l JOIN b r USING (band_key) WHERE l.doc_id < r.doc_id),
       |s2 AS (SELECT t.doc_id, list_distinct(list_transform(
       |    range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS sh FROM t),
       |j AS (SELECT doc_a, doc_b,
       |    len(list_intersect(sa.sh, sb.sh)) AS inter, len(sa.sh) AS la, len(sb.sh) AS lb
       |  FROM cand JOIN s2 sa ON sa.doc_id = doc_a JOIN s2 sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
       |FROM j WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.4""".stripMargin
  }

  /** DuckDB mirror of q_dup_clusters: the near-dup pair algebra
    * verbatim (nested CTE), then component = min reachable id via a
    * recursive reachability CTE (fine at oracle scale; the Spark side
    * uses O(log n) star contraction instead of transitive closure).
    */
  private def dupClustersOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |$neardupOracle
       |),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
       |),
       |cc AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
       |SELECT id AS doc_id, comp AS cluster_id,
       |  count(*) OVER (PARTITION BY comp) AS cluster_size,
       |  id = comp AS keep
       |FROM cc""".stripMargin

  /** DuckDB mirror of [[graft.operators.Dedup.canonicalPick]]: the
    * [[dupClustersOracle]] CC, joined to the q_quality_score logit
    * (rounded BEFORE ranking, as the Spark side compares rounded
    * values), arg-max per cluster with doc_id ASC tie-break.
    */
  private def canonicalPickOracle: String =
    s"""WITH RECURSIVE pairs AS (
       |$neardupOracle
       |),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |      UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
       |),
       |cc AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
       |cs AS (SELECT id AS doc_id, comp AS cluster_id,
       |    count(*) OVER (PARTITION BY comp) AS cluster_size FROM cc),
       |t AS (SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
       |  FROM documents),
       |f AS (SELECT doc_id, round((-0.65)
       |      + 0.02 * CAST(least(len(toks), 500) AS DOUBLE)
       |      + 2.0 * (CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
       |          / CAST(greatest(len(toks), 1) AS DOUBLE))
       |      + 1.5 * (CAST(len(list_distinct(toks)) AS DOUBLE)
       |          / CAST(greatest(len(toks), 1) AS DOUBLE))
       |      - 0.3 * (CAST(len(array_to_string(toks, '')) AS DOUBLE)
       |          / CAST(greatest(len(toks), 1) AS DOUBLE)), 6) AS quality_logit
       |  FROM t),
       |j AS (SELECT cs.cluster_id, cs.doc_id, cs.cluster_size, f.quality_logit
       |  FROM cs JOIN f ON f.doc_id = cs.doc_id),
       |r AS (SELECT cluster_id, doc_id, cluster_size, quality_logit,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY quality_logit DESC, doc_id) AS rn FROM j)
       |SELECT cluster_id, doc_id AS canonical_id, cluster_size, quality_logit
       |FROM r WHERE rn = 1""".stripMargin

  /** DuckDB mirror of q_kmeans, iterations unrolled as CTE chains:
    * cent0 from the md5 'km' salt, each round = argmax assignment
    * (score DESC, c — identical tie-break to the UDF's strict >),
    * fixed-point BIGINT mean sums (exact, so distributed vs
    * single-node summation order cannot diverge), per-dimension
    * coalesce to the previous centroid for empty clusters.
    */
  /** DuckDB mirror of [[Curation.trainQualityLr]]: feature CTE, then
    * each GD round unrolled as (z -> fixed-point gradient sums -> new
    * single-row weight CTE), replaying the identical IEEE arithmetic.
    */
  private def lrTrainOracle(iters: Int, lr: Double): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH t AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |f AS (SELECT
        |    CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y,
        |    1.0 AS f0,
        |    CAST(least(len(toks), 500) AS DOUBLE) / 500.0 AS f1,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
        |      / CAST(greatest(len(toks), 1) AS DOUBLE) AS f2,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) AS f3,
        |    CAST(len(array_to_string(toks, '')) AS DOUBLE) / CAST(greatest(len(toks), 1) AS DOUBLE) / 10.0 AS f4
        |  FROM t),
        |w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)""".stripMargin)
    for (i <- 1 to iters) {
      val sums = (0 to 4).map(j =>
        s"sum(CAST(floor((y - (0.5 + z / (2.0 * (1.0 + abs(z))))) * f$j * 1e9) AS BIGINT)) AS s$j")
        .mkString(",\n|    ")
      val ws = (0 to 4).map(j =>
        s"w.w$j + $lr * (CAST(g.s$j AS DOUBLE) / 1e9 / g.n) AS w$j").mkString(", ")
      sb.append(
        s""",
           |z$i AS (SELECT y, f0, f1, f2, f3, f4,
           |    w.w0 * f0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3 + w.w4 * f4 AS z
           |  FROM f CROSS JOIN w${i - 1} w),
           |g$i AS (SELECT count(*) AS n,
           |    $sums
           |  FROM z$i),
           |w$i AS (SELECT $ws FROM w${i - 1} w CROSS JOIN g$i g)""".stripMargin)
    }
    val rows = (0 to 4).map(j =>
      s"SELECT CAST($j AS BIGINT) AS feature, w$j AS weight FROM w$iters")
      .mkString("\n  UNION ALL ")
    sb.append(
      s""",
         |acc AS (SELECT CAST(sum(CASE WHEN (z > 0.0) = (y = 1.0) THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS a
         |  FROM (SELECT y, w.w0 * f0 + w.w1 * f1 + w.w2 * f2 + w.w3 * f3 + w.w4 * f4 AS z
         |    FROM f CROSS JOIN w$iters w))
         |SELECT feature, round(weight, 6) AS weight, round(a, 6) AS train_acc FROM (
         |  $rows) CROSS JOIN acc""".stripMargin)
    sb.toString
  }

  /** The kmeans WITH-chain up to (and including) the final assignment
    * CTE `asg<iters>` — reused verbatim by [[kmeansOracle]] and the
    * cluster-balanced-sample oracle so the clustering algebra cannot
    * drift between the two.
    */
  /** The kmeans training CTE chain. `trainThresh`, when set, bounds
    * TRAINING to the hash-threshold sample (`qs`: 60-bit
    * md5("kmtrain|" + id) below the threshold — the
    * `Similarity.trainSampleOf` algebra verbatim): per-round
    * assignments and mean recomputes read only `qs`, while the FINAL
    * score table `sc<iters>` covers every vector, exactly as the
    * operator trains on the sample and assigns the corpus.
    */
  private def kmeansOracleCtes(k: Int, iters: Int, dim: Int,
                               trainThresh: Option[Long] = None,
                               dataSeeds: Boolean = false,
                               source: String = "embeddings",
                               prelude: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${prelude}v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM $source),
         |q AS (SELECT vec_id, v, list_transform(v, x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qv FROM v),
         |dims AS (SELECT unnest(range($dim)) AS d)""".stripMargin)
    val trainTable = trainThresh match {
      case Some(t) =>
        sb.append(
          s""",
             |qs AS (SELECT * FROM q
             |  WHERE ('0x' || substr(md5('kmtrain|' || vec_id), 1, 15))::BIGINT < $t)""".stripMargin)
        "qs"
      case None => "q"
    }
    // init: md5-salted constants (the bulk-build default) or the k
    // hash-order training vectors (Similarity.dataSeedVectors — the
    // rebuild path's k-means++-style data seeding)
    if (dataSeeds)
      sb.append(
        s""",
           |cent0 AS (SELECT CAST(row_number() OVER (ORDER BY md5('kmseed|' || vec_id), vec_id) AS INT) - 1 AS c, v AS cv
           |  FROM $trainTable
           |  QUALIFY row_number() OVER (ORDER BY md5('kmseed|' || vec_id), vec_id) <= $k)""".stripMargin)
    else
      sb.append(
        s""",
           |cent0 AS (SELECT c.c, list(
           |    ('0x' || substr(md5('km|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
           |    ORDER BY d.d) AS cv
           |  FROM (SELECT unnest(range($k)) AS c) c CROSS JOIN dims d GROUP BY c.c)""".stripMargin)
    // training rounds score only the training table; the final round's
    // score table additionally covers the whole corpus for assignment
    def scoreAsg(i: Int, table: String): String =
      s""",
         |sc$i AS (SELECT $table.vec_id, cent$i.c,
         |    list_sum(list_transform(range(1, ${dim + 1}), i -> $table.v[i] * cent$i.cv[i]))
         |      - 0.5 * list_sum(list_transform(cent$i.cv, x -> x * x)) AS score
         |  FROM $table CROSS JOIN cent$i),
         |asg$i AS (SELECT vec_id, c AS cl, score FROM sc$i
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1)""".stripMargin
    sb.append(scoreAsg(0, trainTable))
    for (i <- 1 to iters) {
      sb.append(
        s""",
           |sum$i AS (SELECT a.cl AS c, d.d, CAST(sum(q.qv[d.d + 1]) AS BIGINT) AS s, count(*) AS n
           |  FROM asg${i - 1} a JOIN $trainTable q USING (vec_id) CROSS JOIN dims d GROUP BY a.cl, d.d),
           |cent$i AS (SELECT p.c, list(
           |    coalesce(CAST(s.s AS DOUBLE) / (s.n * 1048576.0), p.cv[d.d + 1]) ORDER BY d.d) AS cv
           |  FROM cent${i - 1} p CROSS JOIN dims d
           |  LEFT JOIN sum$i s ON s.c = p.c AND s.d = d.d
           |  GROUP BY p.c)""".stripMargin)
      sb.append(scoreAsg(i, if (i == iters) "q" else trainTable))
    }
    sb.toString
  }

  private def kmeansOracle(k: Int, iters: Int, dim: Int): String =
    kmeansOracleCtes(k, iters, dim) +
      s"""
         |SELECT vec_id, CAST(cl AS BIGINT) AS cluster_id, round(score, 6) AS score
         |FROM asg$iters""".stripMargin

  /** kmeans assignment + per-cluster hash-order quota, mirroring
    * `Similarity.clusterBalancedSample` (QUALIFY = the map-side
    * WindowGroupLimit rank cut).
    */
  private def clusterSampleOracle(k: Int, iters: Int, dim: Int, perCluster: Int): String =
    kmeansOracleCtes(k, iters, dim) +
      s"""
         |SELECT CAST(cl AS BIGINT) AS cluster_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY cl
         |    ORDER BY md5('cbs|' || vec_id), vec_id) AS BIGINT) AS pick_rank
         |FROM asg$iters
         |QUALIFY pick_rank <= $perCluster""".stripMargin

  /** DuckDB mirror of the 64-bit SimHash (md5 leading bits, +-count
    * votes, sign bit string).
    */
  private def simhashOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), ' +'), x -> len(x) > 0)) AS tok
      |  FROM documents),
      |cnt AS (SELECT doc_id, tok, count(*) AS cnt, md5(tok) AS h FROM tok GROUP BY 1, 2),
      |bits AS (SELECT doc_id, b.bit,
      |    sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(b.bit // 4 AS INT) + 1, 1)) - 1)
      |          >> CAST(3 - b.bit % 4 AS INT)) % 2 = 1
      |      THEN cnt ELSE -cnt END) AS v
      |  FROM cnt, (SELECT unnest(range(64)) AS bit) b GROUP BY 1, 2)
      |SELECT doc_id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
      |FROM bits GROUP BY doc_id""".stripMargin
/** DuckDB mirror of the sign-LSH bucket algebra for embedding
    * near-dup: identical hyperplanes (md5-hex15 -> [-1,1)), identical
    * bucket keys, identical cosine formula.
    */
  private def embedNearDupOracle: String =
    """WITH hp AS (
      |  SELECT k.k, d.d,
      |    ('0x' || substr(md5(k.k || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0 AS val
      |  FROM (SELECT unnest(range(48)) AS k) k, (SELECT unnest(range(64)) AS d) d),
      |e AS (SELECT vec_id, d.d, CAST(embedding[d.d + 1] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(64)) AS d) d),
      |proj AS (SELECT e.vec_id, hp.k, sum(e.x * hp.val) AS pr
      |  FROM e JOIN hp ON e.d = hp.d GROUP BY 1, 2),
      |bk AS (SELECT vec_id, (k // 6) AS tbl,
      |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bits
      |  FROM proj GROUP BY 1, 2),
      |b0 AS (SELECT vec_id, tbl || ':' || bits AS bucket FROM bk),
      |b AS (SELECT vec_id, bucket FROM b0
      |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 128),
      |cand AS (SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
      |  FROM b l JOIN b r USING (bucket) WHERE l.vec_id < r.vec_id),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |s AS (SELECT vec_a, vec_b,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS cosine
      |  FROM cand JOIN v a ON a.vec_id = vec_a JOIN v b ON b.vec_id = vec_b)
      |SELECT vec_a, vec_b, round(cosine, 6) AS cosine FROM s WHERE cosine >= 0.3""".stripMargin
  /** DuckDB mirror of q_sem_decontam_lsh / q_sem_decontam_lsh10: the
    * [[embedNearDupOracle]] bucket algebra (`tables * planes` salts)
    * split into a capped bench side and a corpus side, bucket-joined
    * candidates, exact cosine, arg-max per corpus vector (score DESC,
    * bench_id DESC = the struct max), threshold on the rounded score.
    * Parametrized over `planes` because the shipped surface carries
    * BOTH the small-sf default (6) and the 100 TB-shaped
    * configuration (10) — the probe-measured 45x difference at the
    * 100x soak (PLANS.md round 9).
    */
  private def semDecontamLshOracle(planes: Int, tables: Int): String =
    s"""WITH hp AS (
      |  SELECT k.k, d.d,
      |    ('0x' || substr(md5(k.k || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0 AS val
      |  FROM (SELECT unnest(range(${tables * planes})) AS k) k, (SELECT unnest(range(64)) AS d) d),
      |e AS (SELECT vec_id, d.d, CAST(embedding[d.d + 1] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(64)) AS d) d),
      |proj AS (SELECT e.vec_id, hp.k, sum(e.x * hp.val) AS pr
      |  FROM e JOIN hp ON e.d = hp.d GROUP BY 1, 2),
      |bk AS (SELECT vec_id, (k // $planes) AS tbl,
      |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bits
      |  FROM proj GROUP BY 1, 2),
      |b0 AS (SELECT vec_id, tbl || ':' || bits AS bucket FROM bk),
      |bb AS (SELECT vec_id AS bench_id, bucket FROM b0 WHERE vec_id % 50 = 3
      |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 128),
      |cb AS (SELECT vec_id, bucket FROM b0 WHERE vec_id % 50 <> 3),
      |cand AS (SELECT DISTINCT cb.vec_id, bb.bench_id FROM cb JOIN bb USING (bucket)),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |s AS (SELECT cand.vec_id, cand.bench_id,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
      |  FROM cand JOIN v a ON a.vec_id = cand.vec_id JOIN v b ON b.vec_id = cand.bench_id),
      |r AS (SELECT vec_id, bench_id, score,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, bench_id DESC) AS rn
      |  FROM s)
      |SELECT vec_id, bench_id, round(score, 6) AS score
      |FROM r WHERE rn = 1 AND round(score, 6) >= 0.3""".stripMargin

  /** DuckDB mirror of q_ann_lsh: same buckets as [[embedNearDupOracle]],
    * query side restricted to vec_id < 8, exact-cosine rank@5 within
    * the candidate set.
    */
  private def annLshOracle: String =
    """WITH hp AS (
      |  SELECT k.k, d.d,
      |    ('0x' || substr(md5(k.k || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0 AS val
      |  FROM (SELECT unnest(range(32)) AS k) k, (SELECT unnest(range(64)) AS d) d),
      |e AS (SELECT vec_id, d.d, CAST(embedding[d.d + 1] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(64)) AS d) d),
      |proj AS (SELECT e.vec_id, hp.k, sum(e.x * hp.val) AS pr
      |  FROM e JOIN hp ON e.d = hp.d GROUP BY 1, 2),
      |bk AS (SELECT vec_id, (k // 4) AS tbl,
      |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bits
      |  FROM proj GROUP BY 1, 2),
      |b AS (SELECT vec_id, tbl || ':' || bits AS bucket FROM bk),
      |cand AS (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
      |  FROM b q JOIN b n USING (bucket)
      |  WHERE q.vec_id < 8 AND q.vec_id <> n.vec_id),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |s AS (SELECT query_id, neighbor_id,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
      |  FROM cand JOIN v a ON a.vec_id = query_id JOIN v b ON b.vec_id = neighbor_id),
      |r AS (SELECT query_id, neighbor_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM s)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
      |FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of q_curation_full: the q_curation_pipeline winners
    * CTE chain, then the full banded-minhash near-dup algebra (same
    * masks/cap as [[neardupOracle]]) restricted to winners, then the
    * greedy drop-doc_b anti-join. Split as a CTE prefix so
    * [[curationFull2Oracle]] can extend the same chain with the
    * decontamination stages.
    */
  private def curationFullCtes: String =
    """WITH toks AS (SELECT doc_id, text,
      |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |lang AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, lang, score,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
      |    FROM (
      |      SELECT doc_id, 'en' AS lang, len(list_filter(t, x -> list_contains(['the','and','of','to','is'], x))) AS score FROM toks
      |      UNION ALL SELECT doc_id, 'de', len(list_filter(t, x -> list_contains(['der','die','und','ist','das'], x))) FROM toks
      |      UNION ALL SELECT doc_id, 'fr', len(list_filter(t, x -> list_contains(['le','la','et','est','les'], x))) FROM toks
      |      UNION ALL SELECT doc_id, 'es', len(list_filter(t, x -> list_contains(['el','la','y','es','los'], x))) FROM toks
      |      UNION ALL SELECT doc_id, 'zh', len(list_filter(t, x -> list_contains(['de','shi','le','wo','ni'], x))) FROM toks))
      |  WHERE rn = 1 AND score >= 3),
      |quality AS (
      |  SELECT doc_id FROM toks
      |  WHERE len(t) >= 30
      |    AND round(CAST(len(list_filter(t, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x))) AS DOUBLE)
      |      / greatest(len(t), 1), 6) <= 0.3),
      |eligible AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  JOIN lang USING (doc_id) JOIN quality USING (doc_id)),
      |winners AS (
      |  SELECT min(doc_id) AS doc_id, md5(lower(trim(text))) AS content_hash
      |  FROM eligible GROUP BY md5(lower(trim(text)))),
      |wt AS (SELECT w.doc_id,
      |    list_filter(string_split_regex(lower(d.text), ' +'), x -> len(x) > 0) AS t
      |  FROM winners w JOIN documents d USING (doc_id)),
      |shr AS (SELECT doc_id, unnest(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS s FROM wt),
      |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM shr),
      |m AS (SELECT doc_id,
      |    min(xor(h, 209447588586780011)) AS h0,
      |    min(xor(h, 936341403301489455)) AS h1,
      |    min(xor(h, 295277263637340404)) AS h2,
      |    min(xor(h, 563676826287926931)) AS h3,
      |    min(xor(h, 422759062283486138)) AS h4,
      |    min(xor(h, 787458769371879955)) AS h5,
      |    min(xor(h, 276480797554209527)) AS h6,
      |    min(xor(h, 940242011891231416)) AS h7,
      |    min(xor(h, 17226769401980447)) AS h8,
      |    min(xor(h, 462358560736444671)) AS h9,
      |    min(xor(h, 914886181343869267)) AS h10,
      |    min(xor(h, 639468835962388899)) AS h11
      |  FROM hs GROUP BY doc_id),
      |b0 AS (SELECT doc_id, unnest([md5(h0 || '|' || h1), md5(h2 || '|' || h3), md5(h4 || '|' || h5), md5(h6 || '|' || h7), md5(h8 || '|' || h9), md5(h10 || '|' || h11)]) AS band_key FROM m),
      |b AS (SELECT doc_id, band_key FROM b0
      |  QUALIFY row_number() OVER (PARTITION BY band_key ORDER BY doc_id) <= 128),
      |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      |  FROM b l JOIN b r USING (band_key) WHERE l.doc_id < r.doc_id),
      |s2 AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS sh FROM wt),
      |j AS (SELECT doc_a, doc_b,
      |    len(list_intersect(sa.sh, sb.sh)) AS inter, len(sa.sh) AS la, len(sb.sh) AS lb
      |  FROM cand JOIN s2 sa ON sa.doc_id = doc_a JOIN s2 sb ON sb.doc_id = doc_b),
      |dropd AS (SELECT DISTINCT doc_b AS doc_id FROM j
      |  WHERE CAST(inter AS DOUBLE) / (la + lb - inter) >= 0.4)""".stripMargin

  private def curationFullOracle: String = curationFullCtes +
    """
      |SELECT w.doc_id, w.content_hash FROM winners w
      |ANTI JOIN dropd ON w.doc_id = dropd.doc_id""".stripMargin

  /** DuckDB mirror of q_curation_full2: the [[curationFullCtes]] chain
    * extended with the two decontamination stages — n-gram overlap vs
    * the held-out docs (q_decontaminate algebra over the survivors)
    * and the sign-LSH semantic pass ([[semDecontamLshOracle]] bucket
    * algebra, corpus side = the n-gram survivors).
    */
  private def curationFull2Oracle: String = curationFullCtes +
    """,
      |surv AS (SELECT w.doc_id, w.content_hash FROM winners w
      |  ANTI JOIN dropd ON w.doc_id = dropd.doc_id),
      |sh3 AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> array_to_string(t[i:i+2], ' '))) AS sh FROM toks),
      |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh3 WHERE doc_id % 50 = 3),
      |sg AS (SELECT s.doc_id, unnest(h.sh) AS g FROM surv s JOIN sh3 h ON h.doc_id = s.doc_id),
      |ngflag AS (SELECT doc_id FROM (
      |    SELECT doc_id, count(*) AS n FROM sg JOIN bg USING (g) GROUP BY doc_id)
      |  WHERE n >= 3),
      |c1 AS (SELECT s.doc_id, s.content_hash FROM surv s ANTI JOIN ngflag USING (doc_id)),
      |shp AS (SELECT k.k, d.d,
      |    ('0x' || substr(md5(k.k || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0 AS val
      |  FROM (SELECT unnest(range(48)) AS k) k, (SELECT unnest(range(64)) AS d) d),
      |se AS (SELECT vec_id, d.d, CAST(embedding[d.d + 1] AS DOUBLE) AS x
      |  FROM embeddings, (SELECT unnest(range(64)) AS d) d),
      |sproj AS (SELECT se.vec_id, shp.k, sum(se.x * shp.val) AS pr
      |  FROM se JOIN shp ON se.d = shp.d GROUP BY 1, 2),
      |sbk AS (SELECT vec_id, (k // 6) AS tbl,
      |    string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY k) AS bits
      |  FROM sproj GROUP BY 1, 2),
      |sb0 AS (SELECT vec_id, tbl || ':' || bits AS bucket FROM sbk),
      |sbb AS (SELECT vec_id AS bench_id, bucket FROM sb0 WHERE vec_id % 50 = 3
      |  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id) <= 128),
      |scb AS (SELECT sb0.vec_id, bucket FROM sb0 JOIN c1 ON c1.doc_id = sb0.vec_id),
      |scand AS (SELECT DISTINCT scb.vec_id, sbb.bench_id FROM scb JOIN sbb USING (bucket)),
      |sv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |ss AS (SELECT scand.vec_id, scand.bench_id,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
      |  FROM scand JOIN sv a ON a.vec_id = scand.vec_id JOIN sv b ON b.vec_id = scand.bench_id),
      |semflag AS (SELECT vec_id AS doc_id FROM ss
      |  GROUP BY vec_id HAVING round(max(score), 6) >= 0.3)
      |SELECT c1.doc_id, c1.content_hash FROM c1
      |ANTI JOIN semflag USING (doc_id)""".stripMargin

  /** DuckDB mirror of q_ann_ivf: identical md5-derived centroids,
    * identical sequential-order double arithmetic for assignment
    * (argmax of dot - ||c||^2/2), nprobe=4 probing, exact-cosine
    * rank@5 within probed lists only.
    */
  private def annIvfOracle: String =
    """WITH cent AS (
      |  SELECT c.c, list(
      |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
      |  GROUP BY c.c),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |sc AS (SELECT v.vec_id, cent.c,
      |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
      |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
      |  FROM v, cent),
      |assign AS (SELECT vec_id, c AS list_id FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
      |probe AS (SELECT vec_id, c AS list_id FROM sc WHERE vec_id < 8
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) <= 4),
      |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a USING (list_id) WHERE p.vec_id <> a.vec_id),
      |s AS (SELECT query_id, neighbor_id,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
      |  FROM cand JOIN v a ON a.vec_id = query_id JOIN v b ON b.vec_id = neighbor_id),
      |r AS (SELECT query_id, neighbor_id, score,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
      |  FROM s)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
      |FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of q_ann_ivf_learned: the q_kmeans training chain
    * (shared builder, so the learned centroids are recomputed
    * bit-for-bit) composed with the annIvf assignment/probe/verify
    * algebra — the learned coarse index oracle-gated end to end.
    */
  private def annIvfLearnedOracle(lists: Int, iters: Int, nprobe: Int, k: Int,
                                  trainThresh: Option[Long] = None): String =
    kmeansOracleCtes(lists, iters, 64, trainThresh) +
      s""",
         |assign AS (SELECT vec_id, c AS list_id FROM sc$iters
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
         |probe AS (SELECT vec_id, c AS list_id FROM sc$iters WHERE vec_id < 8
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) <= $nprobe),
         |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
         |  FROM probe p JOIN assign a USING (list_id) WHERE p.vec_id <> a.vec_id),
         |s AS (SELECT query_id, neighbor_id,
         |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
         |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
         |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
         |  FROM cand JOIN v a ON a.vec_id = query_id JOIN v b ON b.vec_id = neighbor_id),
         |r AS (SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |  FROM s)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
         |FROM r WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of q_ann_pq: identical md5-salted per-subspace
    * codebooks (salt `pq<s>`), identical sequential-order double
    * arithmetic for code assignment (argmax of dot - ||c||^2/2, tie ->
    * smaller code), micro-fixed-point LUT cells, and an exact BIGINT
    * ADC sum — so the approximate index is verified bit-for-bit, not
    * just shape-checked.
    */
  private def annPqOracle: String =
    """WITH cb AS (
      |  SELECT s.s, c.c, list(
      |      ('0x' || substr(md5('pq' || s.s || '|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(8)) AS s) s, (SELECT unnest(range(16)) AS c) c,
      |       (SELECT unnest(range(8)) AS d) d
      |  GROUP BY s.s, c.c),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |sc AS (SELECT v.vec_id, cb.s, cb.c,
      |    list_sum(list_transform(range(1, 9), i -> v.v[cb.s * 8 + i] * cb.cv[i]))
      |      - 0.5 * list_sum(list_transform(cb.cv, x -> x * x)) AS score
      |  FROM v, cb),
      |code AS (SELECT vec_id, s, c FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, c) = 1),
      |lut AS (SELECT q.vec_id AS query_id, cb.s, cb.c,
      |    CAST(floor(list_sum(list_transform(range(1, 9), i -> q.v[cb.s * 8 + i] * cb.cv[i])) * 1e6) AS BIGINT) AS f
      |  FROM v q, cb WHERE q.vec_id < 8),
      |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id, CAST(sum(l.f) AS BIGINT) AS score_e6
      |  FROM code b JOIN lut l ON l.s = b.s AND l.c = b.c
      |  WHERE l.query_id <> b.vec_id GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, score_e6,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id) AS rank
      |  FROM adc)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, score_e6
      |FROM r WHERE rank <= 5""".stripMargin

  /** DuckDB mirror of q_ann_pq_learned: per-subspace k-means codebook
    * TRAINING (the [[graft.operators.Similarity.pqLearnedCodebooks]]
    * loop — same salted seeds, fixed-point mean algebra, empty-cluster
    * carry-over as the q_kmeans oracle, at dim=8 over sliced vectors)
    * composed with the annPq encode/LUT/ADC mirror — the LEARNED index
    * path oracle-gated end to end, training included.
    */
  /** The PQ codebook TRAINING chains — `centp0` through the learned
    * `cb` table — without a leading WITH, so they compose into larger
    * oracles (annPqLearnedOracle, the learned-artifact oracle). The
    * dims CTE name is parameterized because the kmeans chain defines
    * its own `dims` at the full dimension.
    */
  private def pqLearnedCbCtes(m: Int, codes: Int, subDim: Int, iters: Int,
                              trainThresh: Option[Long], dimsName: String,
                              dataSeeds: Boolean = false,
                              source: String = "embeddings"): String = {
    val sb = new StringBuilder
    // the q_$s tables feed TRAINING ONLY (encode/LUT read the full
    // corpus through v/cb), so the hash-threshold sample bounds them
    // directly — the pqLearnedCodebooks trainSample algebra verbatim
    val trainWhere = trainThresh
      .map(t => s"\n  WHERE ('0x' || substr(md5('kmtrain|' || vec_id), 1, 15))::BIGINT < $t")
      .getOrElse("")
    if (dataSeeds)
      // data seeds: ONE hash-order pick of `codes` full vectors shared
      // by all subspaces, sliced per subspace below (the
      // Similarity.pqLearnedCodebooks seedFromData algebra)
      sb.append(
        s"""seedv AS (SELECT CAST(row_number() OVER (ORDER BY md5('kmseed|' || vec_id), vec_id) AS INT) - 1 AS c, embedding AS e
           |  FROM $source$trainWhere
           |  QUALIFY row_number() OVER (ORDER BY md5('kmseed|' || vec_id), vec_id) <= $codes),
           |$dimsName AS (SELECT unnest(range($subDim)) AS d)""".stripMargin)
    else
      // shared salted seeds: saltedCentroid("km", c, subDim) — identical
      // for every subspace (the data slice differs)
      sb.append(
        s"""centp0 AS (SELECT c.c, list(
           |    ('0x' || substr(md5('km|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
           |    ORDER BY d.d) AS cv
           |  FROM (SELECT unnest(range($codes)) AS c) c, (SELECT unnest(range($subDim)) AS d) d
           |  GROUP BY c.c),
           |$dimsName AS (SELECT unnest(range($subDim)) AS d)""".stripMargin)
    for (s <- 0 until m) {
      if (dataSeeds)
        sb.append(
          s""",
             |centp0_$s AS (SELECT c, list_transform(range(1, ${subDim + 1}),
             |    i -> CAST(e[$s * $subDim + i] AS DOUBLE)) AS cv FROM seedv)""".stripMargin)
      // sliced + quantized sub-vectors (float -> double, floor * 2^20)
      sb.append(
        s""",
           |q_$s AS (SELECT vec_id,
           |    list_transform(range(1, ${subDim + 1}), i -> CAST(embedding[$s * $subDim + i] AS DOUBLE)) AS v,
           |    list_transform(range(1, ${subDim + 1}), i -> CAST(floor(CAST(embedding[$s * $subDim + i] AS DOUBLE) * 1048576.0) AS BIGINT)) AS qv
           |  FROM $source$trainWhere)""".stripMargin)
      val cent0Name = if (dataSeeds) s"centp0_$s" else "centp0"
      def scoreAsg(i: Int): Unit = {
        val cent = if (i == 0) cent0Name else s"cent${i}_$s"
        sb.append(
          s""",
             |sc${i}_$s AS (SELECT q.vec_id, $cent.c,
             |    list_sum(list_transform(range(1, ${subDim + 1}), i -> q.v[i] * $cent.cv[i]))
             |      - 0.5 * list_sum(list_transform($cent.cv, x -> x * x)) AS score
             |  FROM q_$s q CROSS JOIN $cent),
             |asg${i}_$s AS (SELECT vec_id, c AS cl, score FROM sc${i}_$s
             |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1)""".stripMargin)
      }
      scoreAsg(0)
      for (i <- 1 to iters) {
        val prev = if (i == 1) cent0Name else s"cent${i - 1}_$s"
        sb.append(
          s""",
             |sum${i}_$s AS (SELECT a.cl AS c, d.d, CAST(sum(q.qv[d.d + 1]) AS BIGINT) AS s, count(*) AS n
             |  FROM asg${i - 1}_$s a JOIN q_$s q USING (vec_id) CROSS JOIN $dimsName d GROUP BY a.cl, d.d),
             |cent${i}_$s AS (SELECT p.c, list(
             |    coalesce(CAST(s.s AS DOUBLE) / (s.n * 1048576.0), p.cv[d.d + 1]) ORDER BY d.d) AS cv
             |  FROM $prev p CROSS JOIN $dimsName d
             |  LEFT JOIN sum${i}_$s s ON s.c = p.c AND s.d = d.d
             |  GROUP BY p.c)""".stripMargin)
        if (i < iters) scoreAsg(i)
      }
    }
    // learned codebook table = the final per-subspace centroids
    sb.append(
      (0 until m).map(s => s"SELECT $s AS s, c, cv FROM cent${iters}_$s")
        .mkString(",\ncb AS (\n", "\nUNION ALL\n", ")"))
    sb.toString
  }

  private def annPqLearnedOracle(m: Int, codes: Int, subDim: Int, iters: Int, k: Int,
                                 trainThresh: Option[Long] = None): String = {
    val sb = new StringBuilder
    sb.append("WITH ")
    sb.append(pqLearnedCbCtes(m, codes, subDim, iters, trainThresh, "dims"))
    // encode / LUT / ADC — the annPqOracle body over the learned cb
    sb.append(
      s""",
         |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |sc AS (SELECT v.vec_id, cb.s, cb.c,
         |    list_sum(list_transform(range(1, ${subDim + 1}), i -> v.v[cb.s * $subDim + i] * cb.cv[i]))
         |      - 0.5 * list_sum(list_transform(cb.cv, x -> x * x)) AS score
         |  FROM v, cb),
         |code AS (SELECT vec_id, s, c FROM sc
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, c) = 1),
         |lut AS (SELECT q.vec_id AS query_id, cb.s, cb.c,
         |    CAST(floor(list_sum(list_transform(range(1, ${subDim + 1}), i -> q.v[cb.s * $subDim + i] * cb.cv[i])) * 1e6) AS BIGINT) AS f
         |  FROM v q, cb WHERE q.vec_id < 8),
         |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id, CAST(sum(l.f) AS BIGINT) AS score_e6
         |  FROM code b JOIN lut l ON l.s = b.s AND l.c = b.c
         |  WHERE l.query_id <> b.vec_id GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, score_e6,
         |    row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id) AS rank
         |  FROM adc)
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, score_e6
         |FROM r WHERE rank <= $k""".stripMargin)
    sb.toString
  }

  /** DuckDB mirror of q_ann_ivfpq: the annIvf coarse algebra
    * (assignment + nprobe probing) composed with the annPq code/LUT
    * algebra; candidates are probe x assignment on list_id, scored by
    * the exact BIGINT ADC sum.
    */
  private def annIvfPqOracle: String = annIvfPqOracleK(5)

  /** The IVF-PQ ARTIFACT CTEs — salted centroids/codebooks, coarse
    * assignment and per-subspace codes over `baseWhere`-restricted
    * vectors. Exactly the rows [[graft.operators.Similarity.ivfPqIndex]]
    * persists; shared by the composed-search, artifact and
    * incremental-probe oracles so the index algebra is written once.
    */
  private def ivfPqIndexCtes(baseWhere: String = ""): String = {
    val bw = if (baseWhere.isEmpty) "" else s" WHERE $baseWhere"
    s"""WITH cent AS (
      |  SELECT c.c, list(
      |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
      |  GROUP BY c.c),
      |cb AS (
      |  SELECT s.s, c.c, list(
      |      ('0x' || substr(md5('pq' || s.s || '|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(8)) AS s) s, (SELECT unnest(range(16)) AS c) c,
      |       (SELECT unnest(range(8)) AS d) d
      |  GROUP BY s.s, c.c),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |ivfsc AS (SELECT v.vec_id, cent.c,
      |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
      |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
      |  FROM v, cent),
      |assign AS (SELECT vec_id, c AS list_id FROM ivfsc$bw
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
      |pqsc AS (SELECT v.vec_id, cb.s, cb.c,
      |    list_sum(list_transform(range(1, 9), i -> v.v[cb.s * 8 + i] * cb.cv[i]))
      |      - 0.5 * list_sum(list_transform(cb.cv, x -> x * x)) AS score
      |  FROM v, cb),
      |code AS (SELECT vec_id, s, c FROM pqsc$bw
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, c) = 1)""".stripMargin
  }

  /** DuckDB mirror of the IVF-SQ8 family: the salted coarse-centroid
    * CTEs (the annIvf algebra), per-dim MIN/MAX bounds over the
    * indexed corpus (exact, order-independent — the whole TRAINING is
    * inside the gate), floor(+0.5)-clamped uint8 encode, and
    * decode-dot cosine in the identical sequential double expression
    * order as the Spark UDFs, so bounds, codes and scores reproduce
    * bit-for-bit.
    */
  /** DuckDB mirror of ivfSqSaturation (and, unchanged, of its
    * incremental stats-sidecar twin): bounds trained on the prior
    * slice, every row encoded under them (rail clamp via
    * least/greatest), per-dim rail counts in BIGINT pm.
    */
  private val sqSaturationOracle: String =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |mm AS (SELECT i.i AS d, min(b.v[i.i]) AS vmin, max(b.v[i.i]) AS vmax
      |  FROM (SELECT * FROM v WHERE vec_id % 3 <> 0) b,
      |       (SELECT unnest(range(1, 65)) AS i) i GROUP BY i.i),
      |codes AS (SELECT v.vec_id, mm.d,
      |    CASE WHEN mm.vmax = mm.vmin THEN 0 ELSE
      |      CAST(least(255.0, greatest(0.0,
      |        floor((v.v[mm.d] - mm.vmin) * 255.0 / (mm.vmax - mm.vmin) + 0.5))) AS INT)
      |    END AS c
      |  FROM v, mm)
      |SELECT d, CAST(count(*) AS BIGINT) AS n_codes,
      |  CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |  CAST(sum(CASE WHEN c = 255 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |  (CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |   + CAST(sum(CASE WHEN c = 255 THEN 1 ELSE 0 END) AS BIGINT)) * 1000
      |    // CAST(count(*) AS BIGINT) AS sat_pm
      |FROM codes GROUP BY d""".stripMargin

  private def annIvfSqOracle(k: Int, baseWhere: String = "",
                             queryWhere: String = "vec_id < 8",
                             boundsWhere: String = "",
                             excludeWhere: String = ""): String = {
    val corpusWhere = if (baseWhere.isEmpty) "" else s" WHERE $baseWhere"
    // the append case trains bounds on the PRIOR slice only while the
    // encoded corpus includes the appended rows (which clamp)
    val boundsSrc =
      if (boundsWhere.isEmpty) "corpus"
      else s"(SELECT * FROM v WHERE $boundsWhere)"
    val dec = "(m.vmins[i] + c.codes[i] * (m.vmaxs[i] - m.vmins[i]) / 255.0)"
    s"""WITH cent AS (
       |  SELECT c.c, list(
       |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
       |      ORDER BY d.d) AS cv
       |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
       |  GROUP BY c.c),
       |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |corpus AS (SELECT * FROM v$corpusWhere),
       |mm AS (SELECT i.i AS d, min(b.v[i.i]) AS vmin, max(b.v[i.i]) AS vmax
       |  FROM $boundsSrc b, (SELECT unnest(range(1, 65)) AS i) i GROUP BY i.i),
       |mma AS (SELECT list(vmin ORDER BY d) AS vmins, list(vmax ORDER BY d) AS vmaxs FROM mm),
       |sc AS (SELECT v.vec_id, cent.c,
       |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
       |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
       |  FROM v, cent),
       |assign AS (SELECT vec_id, c AS list_id FROM sc
       |  ${if (baseWhere.isEmpty) "" else s"WHERE $baseWhere"}
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
       |enc AS (SELECT a.vec_id, a.list_id, list(
       |      CASE WHEN mm.vmax = mm.vmin THEN 0 ELSE
       |        CAST(least(255.0, greatest(0.0,
       |          floor((c2.v[mm.d] - mm.vmin) * 255.0 / (mm.vmax - mm.vmin) + 0.5))) AS INT)
       |      END ORDER BY mm.d) AS codes
       |  FROM assign a JOIN corpus c2 USING (vec_id), mm
       |  GROUP BY a.vec_id, a.list_id),
       |probe AS (SELECT vec_id, c AS list_id FROM sc WHERE $queryWhere
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) <= 4),
       |cand AS (SELECT p.vec_id AS query_id, e.vec_id AS neighbor_id, e.codes
       |  FROM probe p JOIN enc e USING (list_id) WHERE p.vec_id <> e.vec_id${
         if (excludeWhere.isEmpty) "" else s" AND ($excludeWhere)"}),
       |s AS (SELECT query_id, neighbor_id,
       |    list_sum(list_transform(range(1, 65), i -> q.v[i] * $dec))
       |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
       |         * sqrt(list_sum(list_transform(range(1, 65), i -> $dec * $dec)))) AS score
       |  FROM cand c JOIN v q ON q.vec_id = c.query_id, mma m),
       |r AS (SELECT query_id, neighbor_id, score,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM s)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, round(score, 6) AS score
       |FROM r WHERE rank <= $k""".stripMargin
  }

  /** DuckDB mirror of q_ann_ivfpq_res: the IVF-PQ CTE family with the
    * PQ argmax taken over RESIDUALS (`rv = v - centroid(assigned)`,
    * the Faiss IVFPQ default) and the ADC total = the exact
    * per-(query, probed list) coarse term `floor(q . c_list * 1e6)`
    * plus the residual LUT sum — identical sequential double algebra
    * and BIGINT fixed point as the Spark UDFs.
    */
  private def annIvfPqResOracle(k: Int, queryWhere: String = "vec_id < 8",
                                baseWhere: String = ""): String = {
    val bw = if (baseWhere.isEmpty) "" else s" WHERE $baseWhere"
    s"""WITH cent AS (
      |  SELECT c.c, list(
      |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
      |  GROUP BY c.c),
      |cb AS (
      |  SELECT s.s, c.c, list(
      |      ('0x' || substr(md5('pq' || s.s || '|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(8)) AS s) s, (SELECT unnest(range(16)) AS c) c,
      |       (SELECT unnest(range(8)) AS d) d
      |  GROUP BY s.s, c.c),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |ivfsc AS (SELECT v.vec_id, cent.c,
      |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
      |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
      |  FROM v, cent),
      |assign AS (SELECT vec_id, c AS list_id FROM ivfsc$bw
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
      |rv AS (SELECT a.vec_id, a.list_id,
      |    list_transform(range(1, 65), i -> v.v[i] - cent.cv[i]) AS rv
      |  FROM assign a JOIN v USING (vec_id) JOIN cent ON cent.c = a.list_id),
      |pqsc AS (SELECT rv.vec_id, cb.s, cb.c,
      |    list_sum(list_transform(range(1, 9), i -> rv.rv[cb.s * 8 + i] * cb.cv[i]))
      |      - 0.5 * list_sum(list_transform(cb.cv, x -> x * x)) AS score
      |  FROM rv, cb),
      |code AS (SELECT vec_id, s, c FROM pqsc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, c) = 1),
      |probe AS (SELECT vec_id, c AS list_id FROM ivfsc WHERE $queryWhere
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) <= 4),
      |lut AS (SELECT q.vec_id AS query_id, cb.s, cb.c,
      |    CAST(floor(list_sum(list_transform(range(1, 9), i -> q.v[cb.s * 8 + i] * cb.cv[i])) * 1e6) AS BIGINT) AS f
      |  FROM v q, cb WHERE $queryWhere),
      |cterm AS (SELECT q.vec_id AS query_id, cent.c AS list_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> q.v[i] * cent.cv[i])) * 1e6) AS BIGINT) AS f
      |  FROM v q, cent WHERE $queryWhere),
      |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id, a.list_id
      |  FROM probe p JOIN assign a USING (list_id) WHERE p.vec_id <> a.vec_id),
      |adc AS (SELECT cand.query_id, cand.neighbor_id,
      |    ct.f + CAST(sum(l.f) AS BIGINT) AS score_e6
      |  FROM cand JOIN code b ON b.vec_id = cand.neighbor_id
      |  JOIN lut l ON l.query_id = cand.query_id AND l.s = b.s AND l.c = b.c
      |  JOIN cterm ct ON ct.query_id = cand.query_id AND ct.list_id = cand.list_id
      |  GROUP BY cand.query_id, cand.neighbor_id, ct.f),
      |r AS (SELECT query_id, neighbor_id, score_e6,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id) AS rank
      |  FROM adc)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, score_e6
      |FROM r WHERE rank <= $k""".stripMargin
  }

  private def annIvfPqOracleK(k: Int, baseWhere: String = "",
                              queryWhere: String = "vec_id < 8",
                              allowedWhere: String = ""): String =
    ivfPqIndexCtes(baseWhere) +
    s""",
      |probe AS (SELECT vec_id, c AS list_id FROM ivfsc WHERE $queryWhere
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) <= 4),
      |lut AS (SELECT q.vec_id AS query_id, cb.s, cb.c,
      |    CAST(floor(list_sum(list_transform(range(1, 9), i -> q.v[cb.s * 8 + i] * cb.cv[i])) * 1e6) AS BIGINT) AS f
      |  FROM v q, cb WHERE $queryWhere),
      |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
      |  FROM probe p JOIN assign a USING (list_id) WHERE p.vec_id <> a.vec_id${
        if (allowedWhere.isEmpty) "" else s" AND ($allowedWhere)"}),
      |adc AS (SELECT cand.query_id, cand.neighbor_id, CAST(sum(l.f) AS BIGINT) AS score_e6
      |  FROM cand JOIN code b ON b.vec_id = cand.neighbor_id
      |  JOIN lut l ON l.query_id = cand.query_id AND l.s = b.s AND l.c = b.c
      |  GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, score_e6,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score_e6 DESC, neighbor_id) AS rank
      |  FROM adc)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, score_e6
      |FROM r WHERE rank <= $k""".stripMargin

  /** DuckDB mirror of q_ann_mmr: the refine chain's 32 exact-cosine
    * candidates (rel) + their pairwise sims, both e6 fixed-point, then
    * the MMR greedy loop UNROLLED as one CTE pair per step — sel_i
    * picks the argmax of `lam * rel - (1-lam) * max sim to selall_{i-1}`
    * among the not-yet-picked, selall_i accumulates. BIGINT algebra
    * throughout, so every greedy choice is recomputed exactly.
    */
  private def oracleCos(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> $a.v[i] * $b.v[i]))
       |      / (sqrt(list_sum(list_transform(range(1, 65), i -> $a.v[i] * $a.v[i])))
       |         * sqrt(list_sum(list_transform(range(1, 65), i -> $b.v[i] * $b.v[i]))))""".stripMargin

  /** The MMR greedy loop as reusable CTE text + final SELECT: assumes
    * upstream CTEs `$evName(vec_id, v)` (DOUBLE-cast embeddings) and
    * `mc(query_id, neighbor_id, rel)` (e6 BIGINT relevance) are in
    * scope — each greedy step is a sel_i/selall_i CTE pair
    * (anti-join the picked set, max-aggregate pairwise sims against
    * it, rank-cut on the fixed-point mmr value).
    */
  private def mmrGreedyCtes(kSel: Int, lamE6: Long,
                            evName: String = "ev"): String = {
    val lamBar = 1000000L - lamE6
    val steps = (2 to kSel).map { i =>
      s""",
        |sel$i AS MATERIALIZED (
        |  SELECT query_id, CAST($i AS BIGINT) AS rank, neighbor_id, mmr_e6 FROM (
        |    SELECT c.query_id, c.neighbor_id,
        |      CAST($lamE6 * c.rel - $lamBar * max(s.sim) AS BIGINT) AS mmr_e6
        |    FROM mc c
        |    JOIN ms s ON s.query_id = c.query_id AND s.na = c.neighbor_id
        |    JOIN selall${i - 1} p ON p.query_id = s.query_id AND p.neighbor_id = s.nb
        |    WHERE NOT EXISTS (SELECT 1 FROM selall${i - 1} q
        |                      WHERE q.query_id = c.query_id AND q.neighbor_id = c.neighbor_id)
        |    GROUP BY c.query_id, c.neighbor_id, c.rel) t
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY mmr_e6 DESC, neighbor_id) = 1),
        |selall$i AS MATERIALIZED (SELECT * FROM selall${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString
    s""",
      |ms AS MATERIALIZED (SELECT p.query_id, p.na, p.nb,
      |    CAST(round(round(${oracleCos("x", "y")}, 6) * 1000000) AS BIGINT) AS sim
      |  FROM (SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb
      |        FROM mc a JOIN mc b ON a.query_id = b.query_id AND a.neighbor_id <> b.neighbor_id) p
      |  JOIN $evName x ON x.vec_id = p.na JOIN $evName y ON y.vec_id = p.nb),
      |sel1 AS MATERIALIZED (SELECT query_id, CAST(1 AS BIGINT) AS rank, neighbor_id,
      |    CAST($lamE6 * rel AS BIGINT) AS mmr_e6
      |  FROM mc QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) = 1),
      |selall1 AS MATERIALIZED (SELECT * FROM sel1)$steps
      |SELECT query_id, rank, neighbor_id, mmr_e6 FROM selall$kSel""".stripMargin
  }

  private def annMmrOracle(kSel: Int, lamE6: Long): String =
    s"""WITH ev AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |cand32 AS (SELECT query_id, neighbor_id FROM (${annIvfPqOracleK(32,
           baseWhere = "vec_id % 3 <> 0",
           queryWhere = "vec_id % 3 = 0 AND vec_id < 24")}) t),
      |rr AS (SELECT c.query_id, c.neighbor_id,
      |    ${oracleCos("a", "b")} AS score
      |  FROM cand32 c JOIN ev a ON a.vec_id = c.query_id JOIN ev b ON b.vec_id = c.neighbor_id),
      |mc AS MATERIALIZED (SELECT query_id, neighbor_id,
      |    CAST(round(round(score, 6) * 1000000) AS BIGINT) AS rel FROM rr)""".stripMargin +
    mmrGreedyCtes(kSel, lamE6)

  /** DuckDB mirror of q_ann_index: the persisted artifact itself, one
    * row per (vector, subspace) — coarse list + code — so every byte a
    * production index stores is oracle-checked, not just the searches
    * that consume it.
    */
  private def annIndexOracle: String =
    ivfPqIndexCtes() +
    """
      |SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
      |  CAST(c.s AS BIGINT) AS s, CAST(c.c AS BIGINT) AS code
      |FROM assign a JOIN code c USING (vec_id)""".stripMargin

  /** Sequential-semantics derivation of the k-branch shelve+merge
    * fixtures (q_shelve_merge / q_sql_merge): base `a00|…` with branch
    * i substituting `a{i}->b{i}`. The recursive CTE applies each
    * substitution to the evolving datum IN SHELVE ORDER — the exact
    * model [[graft.core.WorkCache]]'s 4-mode property holds the engine
    * equal to (sequential == parallel == base-built == fused). An
    * event is admitted iff it changes the state (no-op elimination,
    * workcache.rs:159-162), and every admitted event of the merged
    * frontier's closure applies at materialization, so n_events and
    * n_applied are both the count of state-changing steps — DERIVED,
    * not pinned, so the gate recomputes its expectation if the fixture
    * ever changes shape.
    */
  private def shelveMergeDerivedOracle(k: Int): String =
    s"""WITH RECURSIVE seq AS (
       |  SELECT 0 AS i,
       |    (SELECT string_agg('a' || lpad(CAST(j AS VARCHAR), 2, '0'), '|' ORDER BY j)
       |     FROM range($k) t(j)) AS datum,
       |    CAST(0 AS BIGINT) AS applied
       |  UNION ALL
       |  SELECT i + 1,
       |    replace(datum, 'a' || lpad(CAST(i AS VARCHAR), 2, '0'),
       |                   'b' || lpad(CAST(i AS VARCHAR), 2, '0')),
       |    applied + CASE WHEN datum <> replace(datum,
       |        'a' || lpad(CAST(i AS VARCHAR), 2, '0'),
       |        'b' || lpad(CAST(i AS VARCHAR), 2, '0')) THEN 1 ELSE 0 END
       |  FROM seq WHERE i < $k)
       |SELECT datum AS final_datum, applied AS n_events, applied AS n_applied
       |FROM seq WHERE i = $k""".stripMargin

  /** DuckDB mirror of q_ann_index_balance: the artifact's coarse
    * assignment re-derived, then pure BIGINT aggregation — per-list
    * load in thousandths of the uniform share (empty lists included
    * via the generated list spine) and the rebuild flag at 3000 pm.
    */
  private def annIndexBalanceOracle: String =
    ivfPqIndexCtes() +
    """,
      |per AS (SELECT CAST(l.c AS BIGINT) AS list_id,
      |    CAST(count(a.vec_id) AS BIGINT) AS n_vectors
      |  FROM (SELECT unnest(range(16)) AS c) l
      |  LEFT JOIN assign a ON a.list_id = l.c GROUP BY 1),
      |tot AS (SELECT sum(n_vectors) AS total FROM per)
      |SELECT list_id, n_vectors,
      |  CAST(n_vectors * 16 * 1000 // greatest(total, 1) AS BIGINT) AS load_pm,
      |  CAST(CASE WHEN n_vectors * 16 * 1000 // greatest(total, 1) > 3000
      |    THEN 1 ELSE 0 END AS BIGINT) AS rebuild
      |FROM per, tot""".stripMargin

  /** DuckDB mirror of q_ann_index_learned: the PRODUCTION artifact —
    * kmeans-learned coarse centroids AND per-subspace learned PQ
    * codebooks, trainings unrolled as CTE chains (the q_kmeans /
    * q_ann_pq_learned builders composed), then assignment + codes per
    * vector. Every byte the learned index stores is recomputed from
    * raw embeddings, training included.
    */
  /** DuckDB mirror of q_ann_opq's rotation stage: per-dim energy at
    * the 2^10 fixed point (exact BIGINT — ranks agree by construction),
    * energy-sorted round-robin interleave across the m subspaces, and
    * the bit-exact float reorder — `pe` is then the learned-index
    * chains' source table (Similarity.opqEnergyPermutation +
    * applyDimPermutation verbatim).
    */
  private def opqPermPrelude(dim: Int, m: Int): String = {
    val subDim = dim / m
    s"""ven AS (SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024.0) AS BIGINT)) AS q FROM embeddings),
       |en AS (SELECT d.d, CAST(sum(ven.q[d.d + 1] * ven.q[d.d + 1]) AS BIGINT) AS e
       |  FROM ven, (SELECT unnest(range($dim)) AS d) d GROUP BY d.d),
       |pm AS (SELECT d, ((rk - 1) % $m) * $subDim + (rk - 1) // $m AS np
       |  FROM (SELECT d, row_number() OVER (ORDER BY e DESC, d) AS rk FROM en)),
       |pe AS (SELECT vec_id, list(x ORDER BY np) AS embedding
       |  FROM (SELECT e0.vec_id, pm.np, e0.embedding[pm.d + 1] AS x FROM embeddings e0, pm)
       |  GROUP BY vec_id),
       |""".stripMargin
  }

  private def annIndexLearnedOracle(lists: Int, kmIters: Int,
                                    m: Int, codes: Int, subDim: Int,
                                    pqIters: Int,
                                    dataSeeds: Boolean = false,
                                    source: String = "embeddings",
                                    prelude: String = ""): String =
    kmeansOracleCtes(lists, kmIters, 64, dataSeeds = dataSeeds,
      source = source, prelude = prelude) + ",\n" +
    pqLearnedCbCtes(m, codes, subDim, pqIters, None, "pdims",
      dataSeeds = dataSeeds, source = source) +
    s""",
       |assign AS (SELECT vec_id, c AS list_id FROM sc$kmIters
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
       |pqsc AS (SELECT v.vec_id, cb.s, cb.c,
       |    list_sum(list_transform(range(1, ${subDim + 1}), i -> v.v[cb.s * $subDim + i] * cb.cv[i]))
       |      - 0.5 * list_sum(list_transform(cb.cv, x -> x * x)) AS score
       |  FROM v, cb),
       |code AS (SELECT vec_id, s, c FROM pqsc
       |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY score DESC, c) = 1)
       |SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS list_id,
       |  CAST(c.s AS BIGINT) AS s, CAST(c.c AS BIGINT) AS code
       |FROM assign a JOIN code c USING (vec_id)""".stripMargin

  /** DuckDB mirror of q_rrf_fusion: the full BM25 pipeline at k=20
    * (identical fixed-point per-term contributions as the q_bm25
    * oracle), brute-force cosine at k=20, then nano-fixed-point RRF
    * contributions summed as BIGINT and re-ranked.
    */
  private def rrfFusionOracle: String =
    rrfFusionCtes +
    """
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, id, CAST(rrf_e9 AS BIGINT) AS rrf_e9
      |FROM r WHERE rank <= 10""".stripMargin

  /** The BM25 + dense + RRF chain up through the ranked `r` CTE —
    * shared by q_rrf_fusion (rank cut) and q_hybrid_retrieval (MMR
    * diversification on top). Also defines `e` (DOUBLE-cast
    * embeddings), which the MMR sims reuse.
    */
  private def rrfFusionCtes: String =
    """WITH q AS (SELECT * FROM (VALUES (0, 'spark join window'), (1, 'hash merge batch'),
      |    (2, 'stream filter sort value'), (3, 'table scan agg')) AS q(query_id, qtext)),
      |terms AS (SELECT DISTINCT CAST(query_id AS BIGINT) AS query_id,
      |    unnest(string_split(qtext, ' ')) AS term FROM q),
      |tl AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), ' +'), x -> len(x) > 0) AS t
      |  FROM documents),
      |tl2 AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM tl),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM tl2),
      |tok AS (SELECT doc_id, dl, unnest(t) AS term FROM tl2),
      |tf AS (SELECT query_id, term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
      |  FROM tok JOIN terms USING (term) GROUP BY 1, 2, 3, 4),
      |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY term),
      |sc AS (SELECT query_id, doc_id,
      |    CAST(sum(CAST(floor(
      |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
      |        / (CAST(df AS DOUBLE) + 0.5))
      |      * (CAST(tf AS DOUBLE) * 2.5
      |        / (CAST(tf AS DOUBLE) + 1.5 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
      |          / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
      |      * 1e9) AS BIGINT)) AS BIGINT) AS score_e9
      |  FROM tf JOIN dft USING (term) CROSS JOIN st GROUP BY 1, 2),
      |lexr AS (SELECT query_id, doc_id AS id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score_e9 DESC, doc_id) AS rank
      |  FROM sc QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score_e9 DESC, doc_id) <= 20),
      |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |cq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 4),
      |cs AS (SELECT cq.query_id, e.vec_id AS id,
      |    list_sum(list_transform(range(1, 65), i -> qv[i] * v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))) AS score
      |  FROM cq, e WHERE e.vec_id <> cq.query_id),
      |denser AS (SELECT query_id, id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS rank
      |  FROM cs QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) <= 20),
      |lc AS (SELECT query_id, id, CAST(floor(1000000000.0 / (60.0 + rank)) AS BIGINT) AS lex_e9 FROM lexr),
      |dc AS (SELECT query_id, id, CAST(floor(1000000000.0 / (60.0 + rank)) AS BIGINT) AS dense_e9 FROM denser),
      |fused AS (SELECT COALESCE(lc.query_id, dc.query_id) AS query_id,
      |    COALESCE(lc.id, dc.id) AS id,
      |    COALESCE(lex_e9, 0) + COALESCE(dense_e9, 0) AS rrf_e9
      |  FROM lc FULL JOIN dc ON lc.query_id = dc.query_id AND lc.id = dc.id),
      |r AS (SELECT query_id, id, rrf_e9,
      |    row_number() OVER (PARTITION BY query_id ORDER BY rrf_e9 DESC, id) AS rank
      |  FROM fused)""".stripMargin

  /** DuckDB mirror of q_hybrid_retrieval: the full fusion chain, then
    * rank-based relevance in [0,1] ((21 - rank)/20 — after RRF the
    * rank IS the signal; raw rrf_e9 lives on a ~1/61 scale the sim
    * term would drown) feeding the unrolled MMR greedy. `ev` aliases
    * the fusion chain's `e`.
    */
  private def hybridRetrievalOracle(kSel: Int, lamE6: Long): String =
    rrfFusionCtes +
    """,
      |mc AS MATERIALIZED (SELECT query_id, id AS neighbor_id,
      |    CAST(round(round((21.0 - rank) / 20.0, 6) * 1000000) AS BIGINT) AS rel
      |  FROM r WHERE rank <= 20)""".stripMargin +
    mmrGreedyCtes(kSel, lamE6, evName = "e")

  /** DuckDB mirror of q_retrieval_eval: the annIvf index algebra
    * (identical salted centroids + probing) as the approx list,
    * brute-force cosine as truth, then all-integer recall/nDCG —
    * harmonic discount, gain (6 - truth_rank), idcg = 8_700_000_000
    * (the k=5 closed form), final ndcg the only double division.
    */
  private def retrievalEvalOracle: String =
    """WITH cent AS (
      |  SELECT c.c, list(
      |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
      |  GROUP BY c.c),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |sc AS (SELECT v.vec_id, cent.c,
      |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
      |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
      |  FROM v, cent),
      |assign AS (SELECT vec_id, c AS list_id FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
      |probe AS (SELECT vec_id, c AS list_id FROM sc WHERE vec_id < 8
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) <= 4),
      |cand AS (SELECT p.vec_id AS query_id, a.vec_id AS id
      |  FROM probe p JOIN assign a USING (list_id) WHERE p.vec_id <> a.vec_id),
      |s2 AS (SELECT query_id, id,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS score
      |  FROM cand JOIN v a ON a.vec_id = query_id JOIN v b ON b.vec_id = id),
      |ar AS (SELECT query_id, id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS arank
      |  FROM s2 QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) <= 5),
      |ts AS (SELECT q.vec_id AS query_id, e.vec_id AS id,
      |    list_sum(list_transform(range(1, 65), i -> q.v[i] * e.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> q.v[i] * q.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> e.v[i] * e.v[i])))) AS score
      |  FROM v q, v e WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id),
      |tr AS (SELECT query_id, id,
      |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) AS trank
      |  FROM ts QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id) <= 5),
      |j AS (SELECT ar.query_id, ar.id, ar.arank, tr.trank
      |  FROM ar LEFT JOIN tr ON tr.query_id = ar.query_id AND tr.id = ar.id),
      |per AS (SELECT query_id,
      |    CAST(sum(CASE WHEN trank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
      |    CAST(sum((CASE WHEN trank IS NOT NULL THEN 6 - trank ELSE 0 END) * 1000000000 // arank) AS BIGINT) AS dcg_e9
      |  FROM j GROUP BY query_id)
      |SELECT query_id, hits, CAST(hits * 1000000 // 5 AS BIGINT) AS recall_e6,
      |  round(CAST(dcg_e9 AS DOUBLE) / 8700000000.0, 6) AS ndcg
      |FROM per""".stripMargin

  /** DuckDB mirror of q_semantic_dedup: identical IVF assignment
    * algebra as [[annIvfOracle]], capped within-list pair generation
    * (same cap-128 QUALIFY as every LSH oracle), exact-cosine verify
    * at tau=0.3, drop the higher id of each verified pair.
    */
  private def semanticDedupOracle: String =
    """WITH cent AS (
      |  SELECT c.c, list(
      |      ('0x' || substr(md5('ivf|' || c.c || '|' || d.d), 1, 15))::BIGINT / 576460752303423488.0 - 1.0
      |      ORDER BY d.d) AS cv
      |  FROM (SELECT unnest(range(16)) AS c) c, (SELECT unnest(range(64)) AS d) d
      |  GROUP BY c.c),
      |v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |sc AS (SELECT v.vec_id, cent.c,
      |    list_sum(list_transform(range(1, 65), i -> v.v[i] * cent.cv[i]))
      |      - 0.5 * list_sum(list_transform(cent.cv, x -> x * x)) AS score
      |  FROM v, cent),
      |assign AS (SELECT vec_id, c AS list_id FROM sc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) = 1),
      |b AS (SELECT vec_id, list_id FROM assign
      |  QUALIFY row_number() OVER (PARTITION BY list_id ORDER BY vec_id) <= 128),
      |cand AS (SELECT l.vec_id AS vec_a, r.vec_id AS vec_b
      |  FROM b l JOIN b r USING (list_id) WHERE l.vec_id < r.vec_id),
      |cos AS (SELECT vec_a, vec_b,
      |    list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
      |      / (sqrt(list_sum(list_transform(range(1, 65), i -> a.v[i] * a.v[i])))
      |         * sqrt(list_sum(list_transform(range(1, 65), i -> b.v[i] * b.v[i])))) AS cosine
      |  FROM cand JOIN v a ON a.vec_id = vec_a JOIN v b ON b.vec_id = vec_b),
      |dropd AS (SELECT DISTINCT vec_b AS vec_id FROM cos WHERE cosine >= 0.3)
      |SELECT a.vec_id, a.list_id FROM assign a
      |ANTI JOIN dropd d ON a.vec_id = d.vec_id""".stripMargin

  /** DuckDB mirror of the Manku-banded simhash near-dup. */
  private def simhashNearDupOracle: String = {
    val sim = simhashOracle
    s"""WITH sim AS ($sim),
       |b0 AS (SELECT doc_id, unnest([
       |    '0:' || substr(simhash, 1, 16), '1:' || substr(simhash, 17, 16),
       |    '2:' || substr(simhash, 33, 16), '3:' || substr(simhash, 49, 16)]) AS chunk
       |  FROM sim),
       |b AS (SELECT doc_id, chunk FROM b0
       |  QUALIFY row_number() OVER (PARTITION BY chunk ORDER BY doc_id) <= 128),
       |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM b l JOIN b r USING (chunk) WHERE l.doc_id < r.doc_id),
       |h AS (SELECT doc_a, doc_b,
       |    CAST(len(list_filter(range(64), i -> substr(sa.simhash, CAST(i + 1 AS INT), 1) <> substr(sb.simhash, CAST(i + 1 AS INT), 1))) AS BIGINT) AS hamming
       |  FROM cand JOIN sim sa ON sa.doc_id = doc_a JOIN sim sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 12""".stripMargin
  }
}


