package graft

import graft.operators.AnnLifecycle.IvfPqSpec
import graft.operators.Similarity
import graft.streaming.StreamingAnnProbe
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ANN probe over the persisted IVF-PQ artifact: any
  * micro-batch slicing of the query stream must yield exactly the
  * batch operator's ranked results for those queries — queries are
  * independent and the artifact is the only state.
  */
class StreamingAnnProbeSpec extends AnyFunSuite with SharedSpark {
  test("2-batch query stream over the persisted artifact == batch probe") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // persist the index once (the batch pipeline's job)
    val dir = java.nio.file.Files.createTempDirectory("ann_stream_idx").toString + "/idx"
    Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 =!= 0), dir, IvfPqSpec(64))

    val queries = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 48)
      .select($"vec_id", $"embedding").as[StreamingAnnProbe.VecRecord]
      .collect().sortBy(_.vec_id)
    val (b1, b2) = queries.splitAt(queries.length / 2)

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val stream = MemoryStream[StreamingAnnProbe.VecRecord]
    val q = StreamingAnnProbe.probeStreamAt(stream.toDS(), dir,
      df => got ++= df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))),
      k = 5)
    try {
      stream.addData(b1.toIndexedSeq); q.processAllAvailable()
      stream.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    val batch = Similarity.annIvfPqProbe(
        spark.read.parquet(dir),
        emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 48), k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSet == batch.toSet && batch.nonEmpty)
    // both micro-batches actually produced results
    assert(got.map(_._1).distinct.size > b1.length / 2)
  }

  test("probeStreamAt: header-trusted stream == batch probe, survives growth + compaction") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("ann_stream_at").toString + "/idx"
    // header-stamped build of part of the corpus
    Similarity.annIndexWrite(emb.filter(col("vec_id") % 3 === 1), dir, IvfPqSpec(64))

    val queries = emb.filter(col("vec_id") % 3 === 0 && col("vec_id") < 48)
      .select($"vec_id", $"embedding").as[StreamingAnnProbe.VecRecord]
      .collect().sortBy(_.vec_id)
    val (b1, b2) = queries.splitAt(queries.length / 2)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Set[(Long, Long, Long, Long)]]
    val stream = MemoryStream[StreamingAnnProbe.VecRecord]
    val q = StreamingAnnProbe.probeStreamAt(stream.toDS(), dir,
      df => perBatch += df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet,
      k = 5)
    try {
      stream.addData(b1.toIndexedSeq); q.processAllAvailable()
      // the artifact GROWS and gets COMPACTED between micro-batches —
      // the header survives both, so the stream keeps answering, now
      // over the grown index
      Similarity.annAppendAt(emb.filter(col("vec_id") % 3 === 2), dir)
      graft.sources.ArtifactCompaction.compactFiles(spark, dir)
      stream.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()

    def batchOver(idxFilter: org.apache.spark.sql.Column,
                  qs: Array[StreamingAnnProbe.VecRecord]) =
      Similarity.annIvfPqProbe(
        Similarity.ivfPqIndex(emb.filter(idxFilter), dim = 64),
        emb.filter(col("vec_id").isin(qs.map(_.vec_id): _*)), k = 5, dim = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(perBatch.size == 2)
    assert(perBatch(0) == batchOver(col("vec_id") % 3 === 1, b1))
    assert(perBatch(1) == batchOver(col("vec_id") % 3 =!= 0, b2))
    assert(perBatch.forall(_.nonEmpty))
  }
}
