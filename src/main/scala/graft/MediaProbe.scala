package graft
import graft.operators.Multimodal

/** Scale probe for the multimodal/media family — the one operator
  * family without a 100x soak row before round 11. Times
  *
  *  - q_media_decode's shape: container construction + full parse over
  *    every document (PNG/BMP/WAV/JPEG by doc_id mod 4);
  *  - q_media_transform's shape: decode -> pixel/sample transform ->
  *    re-encode -> re-parse (JPEG through the full baseline entropy
  *    decode/encode);
  *  - q_image_neardup's shape over a planted corpus scaled by the
  *    FIRST arg (the generator grows the ENTITY space — every id gets
  *    distinct mixed content — so a 100x corpus is 100x distinct
  *    images, not replicated rows).
  *
  * Decode/transform are mapPartitions streams with no shuffle at all;
  * the near-dup pipeline shuffles only (doc_id, band) pairs. Expected
  * shape: embarrassingly linear. Run:
  *   SPARK_GRAFT_SF_DIR=/tmp/sf10 sbt "runMain graft.MediaProbe 3200"
  */
object MediaProbe {
  def main(args: Array[String]): Unit = {
    val nImages = if (args.nonEmpty) args(0).toInt else 32
    val spark = GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // min-of-2: pass 1 carries codegen/JIT for the codec classes
    def min2(f: => Unit): Double = Seq(GraftSession.timed(f)._2, GraftSession.timed(f)._2).min
    val decodeSec = min2(noop(Multimodal.extractFeatures(
      Multimodal.withMediaPayload(docs, "text", "doc_id"), "doc_id")))
    val transformSec = min2(noop(Multimodal.extractFeatures(
      Multimodal.transformMedia(
        Multimodal.withMediaPayload(docs, "text", "doc_id"), "doc_id"), "doc_id")))
    val neardupSec = min2(noop(Multimodal.imageNearDup(
      Multimodal.plantedImages(spark, nImages), "payload", "doc_id")))
    println(s"""{"dir":"$dir","n_docs":$nDocs,"n_images":$nImages,""" +
      s""""decode_sec":$decodeSec,"transform_sec":$transformSec,""" +
      s""""image_neardup_sec":$neardupSec}""")
    spark.stop()
  }
}
