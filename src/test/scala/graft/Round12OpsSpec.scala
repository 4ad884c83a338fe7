package graft

import graft.operators.AnnLifecycle.IvfPqSpec
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 artifact trust: the self-describing IVF-PQ header (a
  * mismatched probe REFUSES instead of silently returning wrong
  * neighbors), storage-agnostic append, and the list-balance audit
  * that tells an append-grown index when its frozen centroids have
  * drifted.
  */
class Round12OpsSpec extends AnyFunSuite with SharedSpark {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def tmp(prefix: String): String =
    new java.io.File(
      java.nio.file.Files.createTempDirectory(prefix).toFile, "idx").getPath

  test("ivfPqIndexWrite stamps a header; annIvfPqProbeAt answers from it alone") {
    val dir = tmp("ann_hdr")
    val q = emb.filter(col("vec_id") < 8)
    val n = Similarity.annIndexWrite(emb, dir, IvfPqSpec(64))
    assert(n == emb.count())
    val hdr = Similarity.ivfPqReadHeader(spark, dir).get
    assert(hdr.dim == 64 && hdr.lists == 16 && hdr.m == 8 && hdr.codes == 16)
    assert(hdr.centroids.length == 16 && hdr.codebooks.length == 8)
    // every param and both quantizer arrays come FROM the artifact:
    // the probe takes no dim/lists/m/codes at all
    val fromHeader = rows(Similarity.annProbeAt(spark, dir, q, k = 5))
    val inline = rows(Similarity.annIvfPq(emb, q, k = 5, dim = 64))
    assert(fromHeader == inline && inline.nonEmpty)
    // the header round-trips the arrays bit-exactly (raw-bit hex, no
    // float-to-text in the trust chain)
    assert(hdr.centroids.map(_.toSeq).toSeq ==
      Array.tabulate(16)(c => Similarity.ivfCentroidSql(c, 64)).map(_.toSeq).toSeq)
    // and the header file is invisible to parquet listings of the
    // artifact directory (the _SUCCESS convention)
    assert(rows2(spark.read.parquet(dir)) == rows2(Similarity.ivfPqIndex(emb, dim = 64)))
  }

  private def rows2(df: org.apache.spark.sql.DataFrame) = df
    .select(col("vec_id"), col("list_id"), col("codes").cast("string"))
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

  test("a wrong-quantizer append refuses loudly; the probe takes every quantizer from the header") {
    val dir = tmp("ann_mismatch")
    val old = emb.filter(col("vec_id") % 2 === 0)
    val fresh = emb.filter(col("vec_id") % 2 =!= 0)
    Similarity.annIndexWrite(old, dir, IvfPqSpec(64)) // salted defaults
    // the append has no quantizer parameters at all: it encodes under
    // the header's arrays, whatever other codebooks exist
    assert(Similarity.annAppendAt(fresh, dir) == fresh.count())
    val h = Similarity.ivfPqReadHeader(spark, dir).get
    val appended = spark.read.parquet(dir).filter(col("vec_id") % 2 =!= 0)
    assert(rows2(appended) == rows2(Similarity.ivfPqIndex(fresh, dim = 64,
      centroids = Some(h.centroids), codebooks = Some(h.codebooks))))
    // learned codebooks are NOT the ones the artifact stores codes for,
    // and the appended codes are not theirs
    val learned = Similarity.pqLearnedCodebooks(emb, dim = 64, iters = 1)
    assert(rows2(appended) != rows2(Similarity.ivfPqIndex(fresh, dim = 64,
      codebooks = Some(learned))))
    val q = emb.filter(col("vec_id") < 8)
    // the probe has no quantizer parameters at all — nothing a caller
    // passes can disagree with the stored codes
    assert(rows(Similarity.annProbeAt(spark, dir, q, k = 5)) ==
      rows(Similarity.annIvfPq(emb, q, k = 5, dim = 64)))
    assert(spark.read.parquet(dir).count() == emb.count())
  }

  test("headerless artifacts refuse the trusted probe path; stamping enables it") {
    val dir = tmp("ann_legacy")
    Similarity.ivfPqIndex(emb, dim = 64).write.parquet(dir) // pre-r12 shape
    val q = emb.filter(col("vec_id") < 8)
    val ex = intercept[IllegalArgumentException] {
      Similarity.annProbeAt(spark, dir, q, k = 5)
    }
    assert(ex.getMessage.contains("not a stamped ANN artifact") &&
      ex.getMessage.contains("ivfPqWriteHeader"), ex.getMessage)
    // explicit stamping (the caller's params were the only pre-header
    // contract) upgrades the artifact in place
    val cents = Array.tabulate(16)(c => Similarity.ivfCentroidSql(c, 64))
    Similarity.ivfPqWriteHeader(spark, dir, 64, 16, 8, 16, cents,
      defaultCodebooks())
    assert(rows(Similarity.annProbeAt(spark, dir, q, k = 5)) ==
      rows(Similarity.annIvfPq(emb, q, k = 5, dim = 64)))
  }

  /** The salted default codebooks, obtained through the public write
    * path (pqCodebooks is private): write a header for a scratch
    * artifact and read the arrays back.
    */
  private def defaultCodebooks(): Array[Array[Array[Double]]] = {
    val scratch = tmp("ann_scratch")
    Similarity.annIndexWrite(emb.limit(1), scratch, IvfPqSpec(64))
    Similarity.ivfPqReadHeader(spark, scratch).get.codebooks
  }

  test("a corrupted header refuses instead of probing wrong") {
    val dir = tmp("ann_corrupt")
    Similarity.annIndexWrite(emb.limit(20), dir, IvfPqSpec(64))
    // tamper THROUGH the Hadoop FS (regenerating its CRC sidecar):
    // the filesystem's own checksum must not be the only line of
    // defense — the header's content hash has to catch a bit flip
    // that arrives with a valid transport checksum
    val hp = new org.apache.hadoop.fs.Path(dir, "_graft_ivfpq_header")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(hp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // flip one centroid bit-pattern nibble: stored hash no longer matches
    val i = text.indexOf("centroids=") + "centroids=".length
    val flipped = text.substring(0, i) +
      (if (text.charAt(i) == '1') '2' else '1') + text.substring(i + 1)
    val out = fs.create(hp, true)
    try out.write(flipped.getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalArgumentException] {
      Similarity.annProbeAt(spark, dir, emb.filter(col("vec_id") < 8), k = 5)
    }
    assert(ex.getMessage.contains("corrupt"), ex.getMessage)
  }

  test("ivfPqIndexAppend through a file:-scheme URI: idempotent, grown == rebuild") {
    // the r11 java.io.File existence check saw every URI path as
    // absent — re-sent batches were silently re-admitted; the Hadoop
    // FileSystem check must hold the idempotency contract through the
    // scheme an object store would use
    val dir = "file:" + tmp("ann_uri")
    val e = emb.localCheckpoint()
    val day1 = e.filter(col("vec_id") % 3 =!= 0)
    val day2 = e.filter(col("vec_id") % 3 === 0)
    assert(Similarity.annIndexWrite(day1, dir, IvfPqSpec(64)) == day1.count())
    assert(Similarity.annAppendAt(day2, dir) == day2.count())
    assert(Similarity.annAppendAt(day2, dir) == 0L)
    assert(rows2(spark.read.parquet(dir)) == rows2(Similarity.ivfPqIndex(e, dim = 64)))
    // the build stamped a header, so the trusted probe works
    val q = e.filter(col("vec_id") < 8)
    assert(rows(Similarity.annProbeAt(spark, dir, q, k = 5)) ==
      rows(Similarity.annIvfPq(e, q, k = 5, dim = 64)))
  }

  test("append admission works for non-long id columns (no implicit-cast degradation)") {
    import spark.implicits._
    val rnd = new scala.util.Random(64)
    def batch(ids: Seq[String]) =
      ids.map(id => (id, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
        .toDF("vec_id", "embedding").localCheckpoint()
    val day1 = batch((0 until 30).map(i => s"doc-$i"))
    val day2 = batch((30 until 50).map(i => s"doc-$i"))
    val dir = tmp("ann_strid")
    assert(Similarity.annIndexWrite(day1, dir, IvfPqSpec(8, lists = 4, m = 4)) == 30L)
    assert(Similarity.annAppendAt(day2, dir) == 20L)
    // idempotent through the string-keyed anti-join
    assert(Similarity.annAppendAt(day1, dir) == 0L)
    val stored = spark.read.parquet(dir)
    assert(stored.count() == 50L)
    assert(stored.schema("vec_id").dataType ==
      org.apache.spark.sql.types.StringType)
  }

  test("ivfPqListBalance: drift-skewed appends trip the rebuild threshold") {
    import spark.implicits._
    val rnd = new scala.util.Random(1207)
    val dir = tmp("ann_drift")
    // day 1: spread vectors (the distribution the centroids were
    // frozen against)
    val day1 = (0 until 64).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint()
    assert(Similarity.annIndexWrite(day1, dir, IvfPqSpec(8, lists = 4, m = 4)) == 64L)
    val balancedish = Similarity.ivfPqListBalance(
      spark.read.parquet(dir), lists = 4)
    // 4 rows ALWAYS (empty lists are half the skew signal), load sums
    // to ~4000 pm
    assert(balancedish.count() == 4L)
    // day 2: drifted distribution — one repeated direction, 4x day 1's
    // mass; under frozen centroids every copy lands in ONE list
    val v = Seq.fill(8)(0.9f)
    val day2 = (1000 until 1256).map(i => (i.toLong, v))
      .toDF("vec_id", "embedding").localCheckpoint()
    assert(Similarity.annAppendAt(day2, dir) == 256L)
    val audit = Similarity.ivfPqListBalance(spark.read.parquet(dir), lists = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(audit.length == 4)
    val flagged = audit.filter(_._4 == 1L)
    // the drift list holds >= 256/320 = 80% of the artifact: load_pm
    // >= 3200 > 3000 -> rebuild trips; the audit read ONLY the
    // artifact (no corpus vectors exist any more at this point)
    assert(flagged.length == 1, audit.mkString(", "))
    assert(flagged.head._2 >= 256L && flagged.head._3 > 3000L)
    // total load is exactly lists x 1000 up to integer-division drops
    val totalPm = audit.map(_._3).sum
    assert(totalPm <= 4000L && totalPm >= 3996L, s"total load $totalPm")
    // the pollable trigger reads lists from the header the appends
    // stamped — no caller-remembered parameters, and never the corpus
    def noCorpus: org.apache.spark.sql.DataFrame = fail("the balance audit read the corpus")
    assert(Similarity.annNeedsRebuild(spark, dir, noCorpus)
      .exists(_.startsWith("list balance")))
    // a balanced-enough artifact does not trip at a looser threshold
    assert(Similarity.annNeedsRebuild(spark, dir, noCorpus,
      Similarity.RebuildPolicy(rebuildPm = 4000L)).isEmpty)
  }

  test("ArtifactCompaction: fewer files, identical rows, sidecar header survives") {
    import graft.sources.ArtifactCompaction
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(d: String): Long = fs.listStatus(new org.apache.hadoop.fs.Path(d))
      .count { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.toLong

    // a band index grown one file per micro-batch (the append
    // contract) accumulates files; compaction rewrites the LAYOUT only
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint()
    val idxPath = tmp("nd_compact")
    def bandsOf(df: org.apache.spark.sql.DataFrame) = operators.Dedup.capBucket(
      operators.Dedup.bandKeys(
        df.select(col("doc_id"), col("text").as("__text")), 3, 6, 2),
      "band_key", "doc_id", 128)
    (0 until 6).foreach { i =>
      graft.streaming.StreamingNearDup.appendToIndex(
        bandsOf(docs.filter(col("doc_id") % 6 === i)), idxPath)
    }
    val rowsBefore = spark.read.parquet(idxPath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(dataFiles(idxPath) == 6L)
    val (fb, fa) = ArtifactCompaction.compactFiles(spark, idxPath, targetFiles = 2)
    assert(fb == 6L && fa == 2L)
    assert(spark.read.parquet(idxPath)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == rowsBefore)
    // the appender keeps working against the compacted artifact
    assert(graft.streaming.StreamingNearDup.appendToIndex(
      bandsOf(docs.limit(0)), idxPath) == 0L)

    // an IVF-PQ artifact stays SELF-DESCRIBING across compaction: the
    // header sidecar is carried over and the trusted probe answers
    // identically
    val annPath = tmp("ann_compact")
    val e = emb.localCheckpoint()
    Similarity.annIndexWrite(e.filter(col("vec_id") % 2 === 0), annPath, IvfPqSpec(64))
    Similarity.annAppendAt(e.filter(col("vec_id") % 2 =!= 0), annPath)
    val q = e.filter(col("vec_id") < 8)
    val beforeProbe = rows(Similarity.annProbeAt(spark, annPath, q, k = 5))
    ArtifactCompaction.compactFiles(spark, annPath, targetFiles = 1)
    assert(Similarity.ivfPqReadHeader(spark, annPath).isDefined)
    assert(rows(Similarity.annProbeAt(spark, annPath, q, k = 5)) == beforeProbe)
    assert(beforeProbe.nonEmpty)
  }

  test("band/gram index headers: parameter drift refuses instead of silently missing dups") {
    import graft.streaming.{StreamingNearDup, StreamingSubstringDedup}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .localCheckpoint()
    val prior = docs.filter(col("doc_id") % 3 =!= 0)
    val probe = docs.filter(col("doc_id") % 3 === 0)
    def bandsOf(df: org.apache.spark.sql.DataFrame, sn: Int, b: Int, r: Int) =
      operators.Dedup.capBucket(
        operators.Dedup.bandKeys(
          df.select(col("doc_id"), col("text").as("__text")), sn, b, r),
        "band_key", "doc_id", 128)

    // stamped build; the trusted probe pulls every index-binding
    // param from the header and equals the recomputed operator
    val idxPath = tmp("bands_hdr")
    StreamingNearDup.appendToIndex(bandsOf(prior, 3, 6, 2), idxPath,
      stampParams = Some((3, 6, 2)))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaAt = pairs(operators.Dedup.nearDupAgainstIndexAt(spark, prior, probe,
      idxPath, "text", "doc_id", threshold = 0.4))
    val recomputed = pairs(operators.Dedup.nearDupAgainst(prior, probe,
      "text", "doc_id", shingleN = 3, bands = 6, rows = 2, threshold = 0.4))
    assert(viaAt == recomputed && recomputed.nonEmpty)
    // an append under drifted parameters refuses (a (3,4,3) index
    // occupies a different band-key space — collisions silently
    // vanish without the header)
    val ex = intercept[IllegalArgumentException] {
      StreamingNearDup.appendToIndex(bandsOf(probe, 3, 4, 3), idxPath,
        stampParams = Some((3, 4, 3)))
    }
    assert(ex.getMessage.contains("different parameters"), ex.getMessage)
    // a headerless (legacy) index refuses the trusted probe
    val legacy = tmp("bands_legacy")
    StreamingNearDup.appendToIndex(bandsOf(prior, 3, 6, 2), legacy)
    val ex2 = intercept[IllegalArgumentException] {
      operators.Dedup.nearDupAgainstIndexAt(spark, prior, probe, legacy,
        "text", "doc_id")
    }
    assert(ex2.getMessage.contains("no bands header"), ex2.getMessage)
    // a missing PATH is the bootstrap batch: empty pair frame, not an
    // error
    assert(operators.Dedup.nearDupAgainstIndexAt(spark, prior, probe,
      tmp("bands_none") + "/never", "text", "doc_id").count() == 0L)

    // gram index: k rides in the header; consuming at another k
    // refuses (k-gram hashes never match across k)
    val gPath = tmp("grams_hdr")
    assert(StreamingSubstringDedup.appendToIndex(
      prior.select("doc_id", "text"), "text", "doc_id", gPath, k = 8) > 0L)
    assert(StreamingSubstringDedup.indexFor(spark, gPath, 8).count() ==
      StreamingSubstringDedup.readIndex(spark, gPath).count())
    val ex3 = intercept[IllegalArgumentException] {
      StreamingSubstringDedup.indexFor(spark, gPath, 6)
    }
    assert(ex3.getMessage.contains("built with k=8"), ex3.getMessage)
    val ex4 = intercept[IllegalArgumentException] {
      StreamingSubstringDedup.appendToIndex(
        probe.select("doc_id", "text"), "text", "doc_id", gPath, k = 6)
    }
    assert(ex4.getMessage.contains("different parameters"), ex4.getMessage)
    // compaction preserves the headers (sidecar carry)
    graft.sources.ArtifactCompaction.compactFiles(spark, gPath)
    assert(StreamingSubstringDedup.indexFor(spark, gPath, 8).count() > 0L)
  }

  test("ArtifactHeader: format-breaking params refused at write; corrupt " +
    "sidecar refused at read") {
    import graft.sources.ArtifactHeader
    val path = tmp("hdr_fmt")
    new java.io.File(path).mkdirs()
    // a value with a newline would split into bogus k=v lines and
    // mis-parse on the next read — refused at the write seam instead
    intercept[IllegalArgumentException] {
      ArtifactHeader.write(spark, path, "t", Seq("a" -> "1\n2"))
    }
    intercept[IllegalArgumentException] {
      ArtifactHeader.write(spark, path, "t", Seq("a=b" -> "1"))
    }
    intercept[IllegalArgumentException] {
      ArtifactHeader.write(spark, path, "t", Seq("a" -> "1", "a" -> "2"))
    }
    // flipped byte ARRIVING WITH A VALID TRANSPORT CHECKSUM (drop the
    // local FS's .crc sidecar so Hadoop's own layer passes it) -> the
    // header's content hash is the layer that refuses
    ArtifactHeader.write(spark, path, "t", Seq("a" -> "1", "b" -> "2"))
    val hp = new java.io.File(path, "_graft_t_header")
    val bytes = java.nio.file.Files.readAllBytes(hp.toPath)
    val i = new String(bytes, "UTF-8").indexOf("a=1") + 2
    bytes(i) = '9'.toByte
    java.nio.file.Files.write(hp.toPath, bytes)
    new java.io.File(path, "._graft_t_header.crc").delete()
    val ex = intercept[IllegalArgumentException] {
      ArtifactHeader.read(spark, path, "t")
    }
    assert(ex.getMessage.contains("corrupt"), ex.getMessage)
  }

  test("retried-batch probe: an index already containing the probe batch " +
    "does not self-match (docs are not near-dups of themselves)") {
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    // five clearly-distinct documents: the only candidate pairs a
    // self-probe can produce are equal-id ones
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine"),
      (3L, "red orange yellow green blue indigo violet colors"),
      (4L, "north south east west compass points directions map"),
      (5L, "apple banana cherry date elderberry fig grape fruit"))
      .toDF("doc_id", "text")
    val path = tmp("self_probe")
    StreamingNearDup.appendToIndex(
      operators.Dedup.capBucket(
        operators.Dedup.bandKeys(
          docs.select(col("doc_id"), col("text").as("__text")), 3, 6, 2),
        "band_key", "doc_id", 128),
      path, stampParams = Some((3, 6, 2)))
    // the at-least-once retry shape: the SAME batch probes the index
    // its own bands were already admitted to — before the equal-id
    // guard every doc self-matched at jaccard 1.0 and the whole batch
    // was dropped as cross-duplicates
    val pairs = operators.Dedup.nearDupAgainstIndexAt(spark, docs, docs, path,
      "text", "doc_id", threshold = 0.4).collect()
    assert(pairs.isEmpty, s"self-probe produced ${pairs.length} pairs: " +
      pairs.take(3).mkString(", "))
  }

  test("DeltaLogCompaction: merged log answers identically; swap is Hadoop-FS (file: URI)") {
    import spark.implicits._
    import graft.sources.DeltaLogCompaction
    // through a URI scheme on purpose: the swap used java.io renames,
    // which silently never worked off the local-disk view of a path
    val path = "file:" + tmp("cms_log")
    Seq((0, 1, 5L), (0, 2, 3L)).toDF("row", "col", "c")
      .coalesce(1).write.mode("append").parquet(path)
    Seq((0, 1, 2L), (1, 0, 7L)).toDF("row", "col", "c")
      .coalesce(1).write.mode("append").parquet(path)
    def merged(): Map[(Int, Int), Long] = spark.read.parquet(path)
      .groupBy("row", "col").agg(sum("c").as("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val before = merged()
    val (b, a) = DeltaLogCompaction.compactCms(spark, path)
    assert(b == 4L && a == 3L)
    // readers re-merge on read: the compacted log answers identically
    assert(merged() == before && before((0, 1)) == 7L)
    // compaction is idempotent (already one row per key)
    assert(DeltaLogCompaction.compactCms(spark, path) == ((3L, 3L)))
  }
}
