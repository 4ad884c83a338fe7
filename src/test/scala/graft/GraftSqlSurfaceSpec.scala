package graft

import graft.functions.GraftFunctions
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL registration surface: every registered function must agree
  * with its column-API twin.
  */
class GraftSqlSurfaceSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  test("registered SQL functions match the column API") {
    GraftFunctions.registerAll(spark)
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog"),
      (2L, "the quick  brown fox"),
      (3L, "")).toDF("doc_id", "text")
    docs.createOrReplaceTempView("gf_docs")

    val sqlSim = spark.sql("SELECT doc_id, graft_simhash64(text) AS s FROM gf_docs")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val colSim = docs.select($"doc_id", Dedup.simhash64($"text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sqlSim == colSim)

    val sqlSh = spark.sql("SELECT graft_shingles(text, 2) AS sh FROM gf_docs WHERE doc_id = 1")
      .collect()(0).getSeq[String](0)
    val colSh = docs.filter($"doc_id" === 1)
      .select(Dedup.shinglesRaw($"text", 2)).collect()(0).getSeq[String](0)
    assert(sqlSh == colSh)

    val ham = spark.sql("SELECT graft_hamming('10110', '10011') AS h").collect()(0).getInt(0)
    assert(ham == 2)
    val hamN = spark.sql(
      "SELECT graft_hamming_native('10110', '10011') AS h").collect()(0).getInt(0)
    assert(hamN == 2)

    // the registered surface is TOTAL: null inputs never throw
    val nulls = spark.sql(
      """SELECT graft_simhash64(CAST(NULL AS STRING)) AS a,
        |  graft_hamming(CAST(NULL AS STRING), '01') AS b,
        |  graft_hamming_native(CAST(NULL AS STRING), '01') AS c,
        |  graft_shingles(CAST(NULL AS STRING), 3) AS d,
        |  graft_winnow_fps(CAST(NULL AS STRING), 4, 3) AS e""".stripMargin)
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
    assert(nulls.getSeq[String](3).isEmpty && nulls.getSeq[String](4).isEmpty)

    // native codegen expression: SQL path == Column path == hand result
    val dotSql = spark.sql(
      "SELECT graft_int_dot(array(1L, 2L, 3L), array(4L, -5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(dotSql == 4L - 10L + 18L)
    val dotCol = Seq((Seq(2L, 2L), Seq(7L, -3L))).toDF("a", "b")
      .select(graft.functions.IntDotCol($"a", $"b").as("d")).collect()(0).getLong(0)
    assert(dotCol == 8L)
    // null-safe: null array -> null
    assert(spark.sql("SELECT graft_int_dot(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d")
      .collect()(0).isNullAt(0))

    val sqlW = spark.sql("SELECT graft_winnow_fps(text, 4, 3) AS w FROM gf_docs WHERE doc_id = 1")
      .collect()(0).getSeq[String](0)
    val colW = Dedup.winnowFpSets(docs.filter($"doc_id" === 1), "text", "doc_id", k = 4, w = 3)
      .select($"fps").collect()(0).getSeq[String](0)
    assert(sqlW == colW)
  }

  test("graft_winnow_fps is total: empty / short / null text yields an empty set") {
    GraftFunctions.registerAll(spark)
    val rows = spark.sql(
      """SELECT graft_winnow_fps('', 4, 3) AS a,
        |       graft_winnow_fps('abc', 4, 3) AS b,
        |       graft_winnow_fps(CAST(NULL AS STRING), 4, 3) AS c""".stripMargin).collect()(0)
    assert(rows.getSeq[String](0).isEmpty)
    assert(rows.getSeq[String](1).isEmpty)
    assert(rows.getSeq[String](2).isEmpty)
  }
}

/** The SQL statement front end (GraftSqlParser via injectParser):
  * graft syntax must build the SAME plans as the DataFrame API, and
  * every non-graft statement must reach Spark's parser untouched.
  */
class GraftSqlParserSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("MATERIALIZE STATE equals EventReplay.replayPerUser") {
    val viaSql = spark.sql(s"MATERIALIZE STATE FROM '$sf'")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaApi = graft.operators.EventReplay.replayPerUser(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("FOR USER scopes to one entity; case and trailing semicolon tolerated") {
    val all = spark.sql(s"MATERIALIZE STATE FROM '$sf'").collect()
    val uid = all.head.getLong(0)
    val one = spark.sql(s"materialize state from '$sf' for user $uid;").collect()
    assert(one.length == 1 && one.head.getLong(0) == uid)
    assert(one.head.getDouble(1) == all.find(_.getLong(0) == uid).get.getDouble(1))
  }

  test("LINEARIZE EVENTS equals EventReplay.linearize") {
    val viaSql = spark.sql(s"LINEARIZE EVENTS FROM '$sf'")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaApi = graft.operators.EventReplay.linearize(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("non-graft SQL still parses; malformed graft syntax fails as plain SQL") {
    assert(spark.sql("SELECT 1 + 1 AS two").collect()(0).getInt(0) == 2)
    // missing FROM clause: falls through to Spark's parser -> ParseException
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("MATERIALIZE STATE")
    }
    // graft statements compose with spark.sql's lazy contract: the
    // plan analyzes but nothing executes until an action
    val df = spark.sql(s"MATERIALIZE STATE FROM '$sf'")
    assert(df.columns.toSeq == Seq("user_id", "state"))
  }

  test("graft failures surface as ParseException, never raw engine errors") {
    // >18-digit user id: regex no longer matches, so Spark's own parser
    // rejects it — a NumberFormatException must never escape parsePlan
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"MATERIALIZE STATE FROM '$sf' FOR USER 123456789012345678901234")
    }
    // unreadable event dir: the parse-time parquet read is rethrown as
    // ParseException (not a raw filesystem AnalysisException)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("MATERIALIZE STATE FROM '/nonexistent/graft/dir'")
    }
    // bad substitution spec in a write-path verb
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("SHELVE EVENTS 'a00=>b00' ONTO 'a00'")
    }
  }

  test("SHELVE EVENTS shelves each substitution with dep minimization") {
    val rows = spark.sql("SHELVE EVENTS 'a0->b0, a1->b1, zz->yy' ONTO 'a0|a1'")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(rows.length == 3)
    assert(rows(0) == ((0L, "a0", "b0", "b0|a1", 0L)))
    assert(rows(1) == ((1L, "a1", "b1", "a0|b1", 0L)))
    // substitution that matches nothing is a no-op: eliminated (n_deps = -1)
    assert(rows(2) == ((2L, "zz", "yy", "a0|a1", -1L)))
  }

  test("fuzz: malformed graft-ish statements never leak raw engine exceptions") {
    val rnd = new scala.util.Random(7L)
    val verbs = Seq("MATERIALIZE STATE", "LINEARIZE EVENTS", "SHELVE EVENTS",
      "MERGE STATES", "DEDUP DOCUMENTS", "NEARDUP DOCUMENTS")
    val tails = Seq("", " FROM", " FROM ''", " FROM '/no/such/dir'", " ONTO",
      " ONTO 'x'", " 'a->b' ONTO", " '->' ONTO 'x'", " 'a-b,c' ONTO 'x'",
      " FROM '/etc' FOR USER 99999999999999999999999999", " FOR USER 1",
      " FROM 'x' EXTRA junk", " '\n' ONTO '\n'")
    (1 to 120).foreach { _ =>
      val stmt = verbs(rnd.nextInt(verbs.size)) + tails(rnd.nextInt(tails.size))
      // some combinations are legal and simply execute (e.g. a shelve
      // of an empty substitution is a valid no-op event) — the
      // property is that FAILURES are always a ParseException (graft
      // or delegate) or Spark's own analysis error, never a raw
      // NumberFormatException / IOException / MatchError
      scala.util.Try(spark.sql(stmt).collect()) match {
        case scala.util.Success(_) => ()
        case scala.util.Failure(thrown) =>
          assert(
            thrown.isInstanceOf[org.apache.spark.sql.catalyst.parser.ParseException] ||
              thrown.isInstanceOf[org.apache.spark.sql.AnalysisException],
            s"statement [$stmt] leaked ${thrown.getClass.getName}: ${thrown.getMessage}")
      }
    }
  }

  test("DEDUP/NEARDUP DOCUMENTS verbs equal their DataFrame twins") {
    val viaSql = spark.sql(s"DEDUP DOCUMENTS FROM '$sf'")
      .collect().map(_.toString).sorted
    val viaApi = graft.operators.Dedup.exact(
        spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id")
      .collect().map(_.toString).sorted
    assert(viaSql.sameElements(viaApi) && viaSql.nonEmpty)
    val nd = spark.sql(s"NEARDUP DOCUMENTS FROM '$sf'")
    assert(nd.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    val ndApi = graft.operators.Dedup.nearDupPairs(
        spark.read.parquet(s"$sf/documents.parquet"), "text", "doc_id",
        shingleN = 3, bands = 6, rows = 2, threshold = 0.4)
      .collect().map(_.toString).sorted
    assert(nd.collect().map(_.toString).sorted.sameElements(ndApi))
  }

  test("ANN lifecycle verbs equal their DataFrame twins; REBUILD audits and executes") {
    import graft.operators.Similarity
    import spark.implicits._
    def tmpIdx(p: String) = new java.io.File(
      java.nio.file.Files.createTempDirectory(p).toFile, "idx").getPath
    // BUILD + PROBE == ivfPqIndexWrite + annProbeAt
    val p1 = tmpIdx("sql_ann")
    val built = spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p1'").collect().head
    assert(built.getString(0) == p1 && built.getLong(1) > 0)
    val viaSql = spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf'")
      .collect().map(_.toString).sorted
    val p2 = tmpIdx("sql_ann_twin")
    val emb = graft.sources.TableArmor.embeddings(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    Similarity.ivfPqIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), p2, dim = 64)
    val viaApi = Similarity.annProbeAt(spark, p2,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5)
      .collect().map(_.toString).sorted
    assert(viaSql.nonEmpty && viaSql.sameElements(viaApi))

    // REBUILD IF NEEDED EXECUTES on a drifted corpus: stage a dir
    // whose indexed slice is dominated by one dense region, so the
    // salted-default build trips the balance audit
    val root = java.nio.file.Files.createTempDirectory("sql_ann_drift").toString
    val rnd = new scala.util.Random(1307)
    // 32 uniform + 288 tightly-clustered vectors (ids ≡ 1,2 mod 3:
    // inside the verb's indexed slice). Under the salted build the
    // whole cluster shares one nearest coarse centroid (hot list
    // 288/320 = 14400 pm >> 3000); after the data-seeded retrain the
    // mass-proportional seeds tile the cluster (~18 rows/list) and no
    // group — including the 32 uniform rows even if co-listed — can
    // exceed 1600 pm, so the audit goes calm deterministically
    val driftRows: Seq[(Long, Seq[Float])] =
      (0 until 32).map(i =>
        (i * 3 + 1L, Seq.fill(64)((rnd.nextDouble() * 2 - 1).toFloat))) ++
      (0 until 288).map(i =>
        (1001L + i * 3, Seq.fill(64)((0.9 + rnd.nextDouble() * 0.001).toFloat)))
    val drift = driftRows.toDF("vec_id", "embedding")
    drift.write.parquet(s"$root/embeddings.parquet")
    val p3 = tmpIdx("sql_ann_drift")
    spark.sql(s"BUILD ANN INDEX FROM '$root' AT '$p3'").collect()
    val r2 = spark.sql(s"REBUILD ANN INDEX IF NEEDED '$p3' FROM '$root'")
      .collect().head
    assert(r2.getBoolean(0), "drifted index must trip the audit")
    assert(r2.getLong(1) == 320L && r2.getLong(2) == 320L)
    // the swapped artifact equals the DataFrame twin's (the training
    // chains are deterministic)
    val p4 = tmpIdx("sql_ann_drift_twin")
    Similarity.ivfPqIndexWrite(drift, p4, dim = 64)
    assert(Similarity.annRebuildIfNeeded(drift, p4).isDefined)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("list_id").cast("long"), col("codes").cast("string"))
      .collect().map(_.toString).toSet
    assert(rows(p3) == rows(p4))

    // ...and DECLINES on the artifact it just retrained (audit calm
    // after the rebuild — the twin of ivfPqRebuildIfNeeded -> None)
    val r3 = spark.sql(s"REBUILD ANN INDEX IF NEEDED '$p3' FROM '$root'")
      .collect().head
    assert(!r3.getBoolean(0) && r3.getLong(1) == -1L)
    assert(rows(p3) == rows(p4)) // untouched
  }

  test("DELETE/VACUUM ANN INDEX verbs equal their DataFrame twins; failures surface as ParseException") {
    import graft.operators.Similarity
    def tmpIdx(p: String) = new java.io.File(
      java.nio.file.Files.createTempDirectory(p).toFile, "idx").getPath
    val p1 = tmpIdx("sql_ann_del")
    spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p1'").collect()
    val del = spark.sql(
      s"DELETE FROM ANN INDEX '$p1' FROM '$sf' WHERE vec_id % 7 = 1").collect().head
    assert(del.getString(0) == p1 && del.getLong(1) > 0L)
    // the probe verb excludes the tombstoned ids from this statement on
    assert(spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf'")
      .filter(col("neighbor_id") % 7 === 1).count() == 0L)
    val rowsBefore = spark.read.parquet(p1).count()
    val vac = spark.sql(s"VACUUM ANN INDEX '$p1'").collect().head
    assert(vac.getLong(0) == rowsBefore && vac.getLong(1) < rowsBefore)
    assert(graft.sources.Tombstones.count(spark, p1) == 0L)
    // twin equality: delete + fold == building on the filtered slice
    // (salted quantizers, so the artifacts are bit-identical)
    val p2 = tmpIdx("sql_ann_del_twin")
    val emb = graft.sources.TableArmor.embeddings(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    Similarity.ivfPqIndexWrite(
      emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") % 7 =!= 1), p2, dim = 64)
    def rows(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("list_id").cast("long"), col("codes").cast("string"))
      .collect().map(_.toString).toSet
    assert(rows(p1) == rows(p2))
    // failure seams stay ParseException: bad predicate, missing artifact
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"DELETE FROM ANN INDEX '$p1' FROM '$sf' WHERE no_such_col = 1").collect()
    }
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"VACUUM ANN INDEX '/tmp/graft_no_such_artifact_xyz'").collect()
    }
  }

  test("BUILD ANN INDEX USING SQ8 / RESIDUAL equal their twins; PROBE dispatches on the stored header kind; bad encoding refuses") {
    import graft.operators.Similarity
    def tmpIdx(p: String) = new java.io.File(
      java.nio.file.Files.createTempDirectory(p).toFile, "idx").getPath
    val emb = graft.sources.TableArmor.embeddings(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    val prior = emb.filter(col("vec_id") % 3 =!= 0)
    val qs = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24)

    // SQ8: the verb writes the ivfsq artifact and the SAME probe verb
    // (no USING) routes to the SQ prober off the stored header kind
    val p1 = tmpIdx("sql_ann_sq")
    spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p1' USING SQ8").collect()
    val sqSql = spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf'")
      .collect().map(_.toString).sorted
    val p2 = tmpIdx("sql_ann_sq_twin")
    Similarity.ivfSqIndexWrite(prior, p2, dim = 64)
    val sqApi = Similarity.annProbeAt(spark, p2, qs, k = 5)
      .collect().map(_.toString).sorted
    assert(sqSql.nonEmpty && sqSql.sameElements(sqApi))

    // RESIDUAL: same verb pair, residual=true adopted from the header
    val p3 = tmpIdx("sql_ann_res")
    spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p3' USING RESIDUAL").collect()
    assert(Similarity.ivfPqReadHeader(spark, p3).exists(_.residual))
    val resSql = spark.sql(s"PROBE ANN INDEX '$p3' FROM '$sf'")
      .collect().map(_.toString).sorted
    val p4 = tmpIdx("sql_ann_res_twin")
    Similarity.ivfPqIndexWrite(prior, p4, dim = 64, residual = true)
    val resApi = Similarity.annProbeAt(spark, p4, qs, k = 5)
      .collect().map(_.toString).sorted
    assert(resSql.nonEmpty && resSql.sameElements(resApi))

    // OPQ<m>: the rotation-composed build; PROBE dispatches on the
    // pcarot sidecar (method=opq_p) and projects the queries
    val p5 = tmpIdx("sql_ann_opq")
    spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p5' USING OPQ8").collect()
    assert(graft.sources.ArtifactHeader.read(spark, p5, "pcarot")
      .exists(_.get("method").contains("opq_p")))
    val opqSql = spark.sql(s"PROBE ANN INDEX '$p5' FROM '$sf'")
      .collect().map(_.toString).sorted
    val opqApi = Similarity.annProbeAt(spark, p5, qs, k = 5)
      .collect().map(_.toString).sorted
    assert(opqSql.nonEmpty && opqSql.sameElements(opqApi))

    // an unknown encoding refuses at the parse seam with guidance
    // (bare OPQ without the subspace count included)
    val ex = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '${tmpIdx("sql_ann_bad")}' USING OPQ")
    }
    assert(ex.getMessage.contains("SQ8"), ex.getMessage)

    // REBUILD dispatches on the stored header kind too: on the ivfsq
    // artifact it runs the SQ audit/rebuild (same decision and — the
    // training chains being deterministic — same artifact as the
    // DataFrame twin)
    val rebuilt = spark.sql(s"REBUILD ANN INDEX IF NEEDED '$p1' FROM '$sf'")
      .collect().head
    val twin = Similarity.annRebuildIfNeeded(prior, p2)
    assert(rebuilt.getBoolean(0) == twin.isDefined)
    def sqRows(p: String) = spark.read.parquet(p)
      .select(col("neighbor_id"), col("list_id").cast("long"),
        col("codes").cast("string"))
      .collect().map(_.toString).toSet
    assert(sqRows(p1) == sqRows(p2))
  }

  test("BUILD ANN INDEX USING PCA32 composes rotation + IVF-PQ; PROBE projects queries; REBUILD keeps the sidecar") {
    import graft.operators.Similarity
    def tmpIdx(p: String) = new java.io.File(
      java.nio.file.Files.createTempDirectory(p).toFile, "idx").getPath
    val emb = graft.sources.TableArmor.embeddings(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    val prior = emb.filter(col("vec_id") % 3 =!= 0)
    val qs = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24)

    val p1 = tmpIdx("sql_ann_pca")
    spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p1' USING PCA32").collect()
    val viaSql = spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf'")
      .collect().map(_.toString).sorted
    val p2 = tmpIdx("sql_ann_pca_twin")
    Similarity.pcaIvfPqIndexWrite(prior, p2, dim = 64, outDim = 32)
    val viaApi = Similarity.annProbeAt(spark, p2, qs, k = 5)
      .collect().map(_.toString).sorted
    assert(viaSql.nonEmpty && viaSql.sameElements(viaApi))

    // REBUILD on the PCA artifact retrains quantizers in PROJECTION
    // space and the swap carries the pcarot sidecar — the probe keeps
    // answering identically whether or not the audit tripped
    val before = viaSql
    spark.sql(s"REBUILD ANN INDEX IF NEEDED '$p1' FROM '$sf'").collect()
    assert(graft.sources.ArtifactHeader.read(spark, p1, "pcarot").isDefined,
      "rebuild dropped the rotation sidecar")
    val after = spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf'")
      .collect().map(_.toString).sorted
    // salted-default quantizers at equal shape retrain to data-seeded
    // ones only when the audit trips; either way the probe must
    // answer (non-empty) off the carried rotation
    assert(after.nonEmpty && (after.sameElements(before) ||
      spark.read.parquet(p1).count() > 0))

    // a corpus of the wrong dimension (here: the projected width)
    // refuses on the dim guard instead of silently slicing vectors
    val ex = intercept[Exception] {
      Similarity.annRebuildAt(
        prior.select(col("vec_id"), slice(col("embedding"), 1, 32).as("embedding")), p2)
    }
    assert(ex.getMessage.contains("PROJECTED"), ex.getMessage)
  }

  test("PROBE ANN INDEX ... ALLOWING equals the filtered DataFrame twin; a broken predicate fails at the seam") {
    import graft.operators.Similarity
    val p1 = new java.io.File(
      java.nio.file.Files.createTempDirectory("sql_ann_allow").toFile, "idx").getPath
    spark.sql(s"BUILD ANN INDEX FROM '$sf' AT '$p1'").collect()
    val viaSql = spark.sql(
        s"PROBE ANN INDEX '$p1' FROM '$sf' ALLOWING vec_id % 5 <= 1")
      .collect().map(_.toString).sorted
    val emb = graft.sources.TableArmor.embeddings(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    val viaApi = Similarity.annProbeAt(spark, p1,
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 24), k = 5,
        allowedIds = Some(emb.filter(col("vec_id") % 5 <= 1).select("vec_id")))
      .collect().map(_.toString).sorted
    assert(viaSql.nonEmpty && viaSql.sameElements(viaApi))
    // the filter is load-bearing: the allowed set changes the frame
    val unfiltered = spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf'")
      .collect().map(_.toString).sorted
    assert(!viaSql.sameElements(unfiltered))
    // an unresolvable predicate surfaces as a ParseException (the
    // graft-statement contract), never a raw engine exception
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"PROBE ANN INDEX '$p1' FROM '$sf' ALLOWING no_such_col = 1")
        .collect()
    }
  }

  test("MERGE STATES equals the WorkCache orchestration (q_shelve_merge twin)") {
    val base = (0 until 6).map(i => f"a$i%02d").mkString("|")
    val evs = (0 until 6).map(i => f"a$i%02d->b$i%02d").mkString(",")
    val row = spark.sql(s"MERGE STATES '$evs' ONTO '$base'").collect().head
    assert(row.getString(0) == (0 until 6).map(i => f"b$i%02d").mkString("|"))
    assert(row.getLong(1) == 6L && row.getLong(2) == 6L)
  }

  test("FROM forms equal the inline forms on the same staged event set") {
    import spark.implicits._
    val base = (0 until 6).map(i => f"a$i%02d").mkString("|")
    val evs = (0 until 6).map(i => f"a$i%02d->b$i%02d").mkString(",")
    val path = java.nio.file.Files.createTempDirectory("graft_sql_from").toString + "/events"
    // stage out of order: the reader must apply in event_idx order
    (0 until 6).reverse.map(i => (i.toLong, f"a$i%02d", f"b$i%02d"))
      .toDF("event_idx", "search", "replacement")
      .write.mode("overwrite").parquet(path)

    val inlineShelve = spark.sql(s"SHELVE EVENTS '$evs' ONTO '$base'")
      .collect().map(_.toString).sorted
    val fromShelve = spark.sql(s"SHELVE EVENTS FROM '$path' ONTO '$base'")
      .collect().map(_.toString).sorted
    assert(fromShelve.sameElements(inlineShelve) && fromShelve.nonEmpty)

    val inlineMerge = spark.sql(s"MERGE STATES '$evs' ONTO '$base'").collect().head
    val fromMerge = spark.sql(s"MERGE STATES FROM '$path' ONTO '$base'").collect().head
    assert(fromMerge.toString == inlineMerge.toString)
  }

  test("FROM forms reject missing paths and missing columns as ParseException") {
    import spark.implicits._
    intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql("SHELVE EVENTS FROM '/no/such/dir' ONTO 'x'")
    }
    val bad = java.nio.file.Files.createTempDirectory("graft_sql_bad").toString + "/events"
    Seq((1L, "a")).toDF("event_idx", "search").write.mode("overwrite").parquet(bad)
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(s"MERGE STATES FROM '$bad' ONTO 'x'")
    }
    assert(e.getMessage.contains("replacement"))
  }
}
