package graft

import graft.operators.{Dedup, Sketches}
import graft.sources.DeltaLogCompaction
import graft.streaming.StreamingCms
import graft.GraftSession.timed
import org.apache.spark.sql.functions._

/** Scale probe for the two sum-merged-sketch rights-removal
  * strategies: REBUILD (re-derive the whole CMS counter log from the
  * surviving corpus — O(corpus)) vs RETRACT
  * ([[DeltaLogCompaction.retractStamped]] — subtract the removed
  * docs' own cells, O(removed docs)). The `copies` arg entity-grows
  * the corpus (disjoint token prefixes, the GramForgetProbe
  * convention) so the 1x vs Nx pair shows which wall grows with the
  * corpus and which stays flat; the probe proves both strategies land
  * on the SAME counters (cell-wise equality after dropping zero
  * cells) before reporting.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.RetractProbe 10 64"
  */
object RetractProbe {
  def main(args: Array[String]): Unit = {
    val copies = if (args.nonEmpty) args(0).toInt else 10
    val delDocs = if (args.length > 1) args(1).toInt else 64
    val spark = GraftSession.local()
    import spark.implicits._

    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs0 = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text")
    val docs =
      (if (copies <= 1) docs0
       else (0 until copies).map { k =>
         val tag = udf { (t: String) =>
           Option(t).getOrElse("").split(" +").filter(_.nonEmpty)
             .map(w => s"c$k$w").mkString(" ")
         }
         docs0.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
           tag(col("text")).as("text"))
       }.reduce(_.unionByName(_))).localCheckpoint()
    val nDocs = docs.count()
    val (d, w) = (4, 4096)

    val base = java.nio.file.Files.createTempDirectory("retractprobe").toString
    def tokens(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(Dedup.tokens(col("text"))).as("word"))

    // the maintained artifact: one stamped build over the corpus
    val cmsPath = s"$base/cms"
    graft.sources.ArtifactHeader.validateOrStamp(spark, cmsPath, "cms",
      StreamingCms.cmsParams(d, w))
    val (_, tBuild) = timed {
      DeltaLogCompaction.appendStamped(Sketches.cmsBuildBatch(tokens(docs), d, w),
        cmsPath, 0L)
    }

    val removedIds = docs.select("doc_id").orderBy("doc_id").limit(delDocs)
      .collect().map(_.getLong(0)).toSet
    val removed = docs.filter(col("doc_id")
      .isin(removedIds.toSeq.map(java.lang.Long.valueOf): _*)).localCheckpoint()
    val surviving = docs.filter(!col("doc_id")
      .isin(removedIds.toSeq.map(java.lang.Long.valueOf): _*))

    // strategy A: retract the removed docs' own cells
    val (_, tRetract) = timed {
      StreamingCms.retract(removed, cmsPath, removalStamp = -1L)
    }
    // strategy B: rebuild the whole sketch from the surviving corpus
    val rebuilt = s"$base/rebuilt"
    val (_, tRebuild) = timed {
      graft.sources.ArtifactHeader.validateOrStamp(spark, rebuilt, "cms",
        StreamingCms.cmsParams(d, w))
      DeltaLogCompaction.appendStamped(
        Sketches.cmsBuildBatch(tokens(surviving), d, w), rebuilt, 0L)
    }

    // both strategies must hold the SAME counters
    def cells(p: String) = StreamingCms.readSketch(spark, p)
      .filter(col("c") =!= 0L)
    val diff = cells(cmsPath).exceptAll(cells(rebuilt)).count() +
      cells(rebuilt).exceptAll(cells(cmsPath)).count()
    require(diff == 0L,
      s"retract and rebuild disagree on $diff cells — retraction is broken")

    println(f"RETRACT-PROBE docs=$nDocs%d removed=$delDocs%d " +
      f"build=$tBuild%.2fs retract=$tRetract%.2fs rebuild=$tRebuild%.2fs " +
      f"(strategies cell-identical)")
    spark.stop()
  }
}
