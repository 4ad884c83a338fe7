package graft

import graft.core._
import graft.sources.{GraphSession, GraphStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.{SortedMap, SortedSet}

/** Frames-only graph session: open / validate / compress / merge with
  * the driver holding only frontiers, at a scale where the collect()
  * path (GraphStore.load) is not an option.
  */
class GraphSessionSpec extends AnyFunSuite with SharedSpark {

  /** Pure byte engine: enough for graph-level session ops (which never
    * run payloads).
    */
  private object ByteEngine extends Engine[Array[Byte], String] {
    def runEvent(cmd: Int, arg: Array[Byte], dat: String): String = dat
    def encodeArg(arg: Array[Byte]): Array[Byte] = arg
    def decodeArg(bytes: Array[Byte]): Array[Byte] = bytes
  }

  /** Write a store of `colEnd - colStart` functional chains of length
    * `depth` (hash-chained content-addressed events), generated on the
    * EXECUTORS — the driver never holds the event set. Frontier "" =
    * the chain heads.
    */
  private def genStore(dir: String, colStart: Long, colEnd: Long, depth: Int): Unit = {
    import spark.implicits._
    spark.range(colStart, colEnd).as[Long]
      .repartition(8)
      .mapPartitions { it =>
        it.flatMap { c =>
          var prev: Option[String] = None
          (0 until depth).iterator.map { i =>
            val arg = s"c$c-$i".getBytes("UTF-8")
            val deps = prev.map(h => SortedMap(h -> true))
              .getOrElse(SortedMap.empty[String, Boolean])
            val h = Hashes.eventHash(0, arg, deps)
            prev = Some(h)
            (h, 0, arg, deps.toMap)
          }
        }
      }.toDF("hash", "cmd", "arg", "deps")
      .write.option("compression", "zstd").parquet(s"$dir/events")
    val ev = spark.read.parquet(s"$dir/events")
    val heads = ev.select(col("hash"))
      .join(ev.select(explode(map_keys(col("deps"))).as("hash")), Seq("hash"), "left_anti")
      .as[String].collect()
    writeHeads(dir, heads.toSeq)
  }

  /** Persist `heads` as the store's frontier "". */
  private def writeHeads(dir: String, heads: Seq[String]): Unit = {
    val rows = Seq(org.apache.spark.sql.Row("", heads))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), GraphStore.nstatesSchema)
      .write.option("compression", "zstd").parquet(s"$dir/nstates")
  }

  test("1M-event store: open/validate/merge with driver bounded by the frontier") {
    val dir = java.nio.file.Files.createTempDirectory("graftsession").toString
    val depth = 8
    val colsPerSide = 65536L // 2 x 65536 x 8 = 1,048,576 events after merge
    genStore(s"$dir/local", 0L, colsPerSide, depth)
    genStore(s"$dir/foreign", colsPerSide, 2 * colsPerSide, depth)

    val s = GraphSession.open(spark, ByteEngine, s"$dir/local")
    assert(s.eventCount === colsPerSide * depth)
    assert(s.states("").size === colsPerSide)
    assert(s.validate() === 0L)

    // independent chains: the heads already form an antichain
    val localHeads = s.states("")
    assert(s.compress(localHeads) === localHeads)

    // graph-level m< flow, frames-only end to end
    val merged = s.mergeFrom(s"$dir/foreign")
    assert(merged.size === 2 * colsPerSide)
    assert(s.eventCount === 2 * colsPerSide * depth)
    assert(merged === s.states(""))

    // merged store still validates (imports kept canonical encoding)
    assert(s.validate() === 0L)

    // frontiers persisted: a fresh open sees the merged state
    val s2 = GraphSession.open(spark, ByteEngine, s"$dir/local")
    assert(s2.states("") === merged)

    // second merge of the same foreign store is a no-op
    val again = s.mergeFrom(s"$dir/foreign")
    assert(again === merged && s.eventCount === 2 * colsPerSide * depth)

    // the merged heads' closure crosses GraphOps' driver bound at about
    // level 3 and hands off to the distributed loop, whose fold window
    // frees superseded levels: the folded visited set and the last
    // frontier stay, not one block per level
    graft.plans.CheckpointHygiene.releaseAll(spark)
    assert(s.closureDF(merged).count() === 2 * colsPerSide * depth)
    val live = spark.sparkContext.getPersistentRDDs.size
    assert(live <= 2, s"leaked $live persistent RDD blocks")

    // the editing bridge refuses to materialize beyond its cap —
    // the driver-scale guard the collect() path lacks
    intercept[EngineException](s.editingGraph("", cap = 1000L))
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }

  test("a dangling dependency is refused: mergeFrom before its append, editingGraph too") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftsessdangling").toString
    genStore(s"$dir/local", 0L, 4L, 3)
    def ev(arg: String, deps: String*) = {
      val d = SortedMap.from(deps.map(_ -> true))
      val a = arg.getBytes("UTF-8")
      (Hashes.eventHash(0, a, d), 0, a, d.toMap)
    }
    // the foreign head depends on an event its store never holds
    val root = ev("root")
    val absent = ev("absent", root._1)
    val head = ev("head", root._1, absent._1)
    Seq(root, head).toDF("hash", "cmd", "arg", "deps")
      .write.option("compression", "zstd").parquet(s"$dir/foreign/events")
    writeHeads(s"$dir/foreign", Seq(head._1))

    val s = GraphSession.open(spark, ByteEngine, s"$dir/local")
    val before = s.eventCount
    val states = s.states("")
    val m = intercept[DependencyNotFound](s.mergeFrom(s"$dir/foreign"))
    assert(m.h === absent._1)
    assert(s.eventCount === before)
    assert(s.states("") === states)

    val f = GraphSession.open(spark, ByteEngine, s"$dir/foreign")
    assert(f.validate() === 0L)
    val g = intercept[DependencyNotFound](f.editingGraph(""))
    assert(g.h === absent._1)
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }

  test("small-store parity: session merge == driver-path merge frontier and datum") {
    val dir = java.nio.file.Files.createTempDirectory("graftsessparity").toString
    // same fixture as GraphStoreSpec: shared base edit + a divergent one
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "A|B|C")
    var xs = SortedSet.empty[String]
    xs += w.shelveEvent(g, xs, 0, SearArg("B", "D")).get
    g.nstates.update("", xs)
    GraphStore.save(spark, g, s"$dir/local")

    val g2 = new EventGraph[SearArg](SearEngine)
    val w2 = new WorkCache[SearArg, String](SearEngine, "A|B|C")
    var ys = SortedSet.empty[String]
    ys += w2.shelveEvent(g2, ys, 0, SearArg("B", "D")).get
    ys += w2.shelveEvent(g2, ys, 0, SearArg("A|D", "E|D")).get
    g2.nstates.update("", ys)
    GraphStore.save(spark, g2, s"$dir/foreign")

    // driver path (collect-based, engine-level re-shelve included)
    val gl = GraphStore.load(spark, SearEngine, s"$dir/local")
    val wl = new WorkCache[SearArg, String](SearEngine, "A|B|C")
    val mergedDriver = GraphStore.mergeFrom(spark, gl, wl, s"$dir/foreign")

    // frames-only path on its own copy
    val s = GraphSession.open(spark, SearEngine, s"$dir/local")
    val mergedFrames = s.mergeFrom(s"$dir/foreign")
    assert(mergedFrames === mergedDriver)
    assert(s.validate() === 0L)

    // editing bridge: materialize the merged state's closure only, and
    // the engine-level replay agrees with the driver path
    val ge = s.editingGraph("")
    val we = new WorkCache[SearArg, String](SearEngine, "A|B|C")
    val (dat, _) = we.materialize(ge, mergedFrames)
    assert(dat === "E|D|C")
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }
}
