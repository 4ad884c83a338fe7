package graft

import graft.core._
import graft.sources.{GraphSession, GraphStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.{SortedMap, SortedSet}
import scala.jdk.CollectionConverters._

/** Persisted graph session: open / validate / compress / merge with
  * the driver holding only frontiers, at a scale where the collect()
  * path (GraphStore.load) is not an option; and the small-store driver
  * regime, held equal to the frames regime on the same fixtures.
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

  /** Bounds that force each regime: nothing fits the frames bound. */
  private val Driver = GraphSession.DriverBound(Long.MaxValue, Long.MaxValue)
  private val Frames = GraphSession.DriverBound(0L, 0L)

  test("1M-event store: open/validate/merge with driver bounded by the frontier") {
    val dir = java.nio.file.Files.createTempDirectory("graftsession").toString
    val depth = 8
    val colsPerSide = 65536L // 2 x 65536 x 8 = 1,048,576 events after merge
    genStore(s"$dir/local", 0L, colsPerSide, depth)
    genStore(s"$dir/foreign", colsPerSide, 2 * colsPerSide, depth)

    val s = GraphSession.open(spark, ByteEngine, s"$dir/local", Frames)
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

  private def ev(arg: String, deps: String*): (String, Int, Array[Byte], Map[String, Boolean]) = {
    val d = SortedMap.from(deps.map(_ -> true))
    val a = arg.getBytes("UTF-8")
    (Hashes.eventHash(0, a, d), 0, a, d.toMap)
  }

  private def writeEvents(dir: String, rows: Seq[(String, Int, Array[Byte], Map[String, Boolean])]): Unit = {
    import spark.implicits._
    rows.toDF("hash", "cmd", "arg", "deps")
      .write.option("compression", "zstd").parquet(s"$dir/events")
  }

  /** A local store of chains and a foreign store whose head depends on
    * an event the foreign store never holds; returns that hash.
    */
  private def danglingFixture(dir: String): String = {
    genStore(s"$dir/local", 0L, 4L, 3)
    val root = ev("root")
    val absent = ev("absent", root._1)
    val head = ev("head", root._1, absent._1)
    writeEvents(s"$dir/foreign", Seq(root, head))
    writeHeads(s"$dir/foreign", Seq(head._1))
    absent._1
  }

  test("a dangling dependency is refused: mergeFrom before its append, editingGraph too") {
    val dir = java.nio.file.Files.createTempDirectory("graftsessdangling").toString
    val absent = danglingFixture(dir)

    val s = GraphSession.open(spark, ByteEngine, s"$dir/local")
    val before = s.eventCount
    val states = s.states("")
    val m = intercept[DependencyNotFound](s.mergeFrom(s"$dir/foreign"))
    assert(m.h === absent)
    assert(s.eventCount === before)
    assert(s.states("") === states)

    val f = GraphSession.open(spark, ByteEngine, s"$dir/foreign")
    assert(f.validate() === 0L)
    val g = intercept[DependencyNotFound](f.editingGraph(""))
    assert(g.h === absent)
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }

  /** The GraphStoreSpec fixture: a local store with one edit, and a
    * foreign store with the same edit plus a divergent one.
    */
  private def parityFixture(dir: String): Unit = {
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
  }

  test("small-store parity: session merge == driver-path merge frontier and datum") {
    val dir = java.nio.file.Files.createTempDirectory("graftsessparity").toString
    parityFixture(dir)

    // driver path (collect-based, engine-level re-shelve included)
    val gl = GraphStore.load(spark, SearEngine, s"$dir/local")
    val wl = new WorkCache[SearArg, String](SearEngine, "A|B|C")
    val mergedDriver = GraphStore.mergeFrom(spark, gl, wl, s"$dir/foreign")

    // store-backed session on its own copy
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

  /** A local store holding a row with a valid foreign hash but another
    * arg, and a foreign store holding the valid event; returns the hash.
    */
  private def collisionFixture(dir: String): String = {
    val root = ev("root")
    val head = ev("head", root._1)
    writeEvents(s"$dir/foreign", Seq(root, head))
    writeHeads(s"$dir/foreign", Seq(head._1))
    val forged = head.copy(_3 = "other".getBytes("UTF-8"))
    writeEvents(s"$dir/local", Seq(root, forged))
    writeHeads(s"$dir/local", Seq(forged._1))
    head._1
  }

  /** Every file under `dir` with its length: what a refusal must leave. */
  private def files(dir: String): Set[(String, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toSet
    finally walk.close()
  }

  private def eventRows(dir: String): Set[(String, Int, Seq[Byte], Map[String, Boolean])] =
    spark.read.parquet(s"$dir/events").collect().map(r => (r.getString(0), r.getInt(1),
      r.getAs[Array[Byte]](2).toSeq, r.getMap[String, Boolean](3).toMap)).toSet

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = "graph-session-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("graft.test.tag")).foreach {
          case `tag` => n.incrementAndGet()
          case t if t == tag + "-end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.tag", tag)
      val r = f
      // the listener bus is asynchronous: a last tagged job drains it
      sc.setLocalProperty("graft.test.tag", tag + "-end")
      sc.parallelize(Seq(0), 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (r, n.get())
    } finally {
      sc.setLocalProperty("graft.test.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  test("cross-regime: driver and frames regimes merge, refuse and edit alike") {
    val regimes = Seq("driver" -> Driver, "frames" -> Frames)

    // parity fixture: equal frontiers, event rows, persisted nstates and
    // editing graphs; the driver regime reads each table once
    val parity = regimes.map { case (name, bound) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graftsessx-$name").toString
      parityFixture(dir)
      val s = GraphSession.open(spark, SearEngine, s"$dir/local", bound)
      val (merged, mergeJobs) = jobs(s.mergeFrom(s"$dir/foreign"))
      val (eg, editJobs) = jobs(s.editingGraph(""))
      if (name == "driver") {
        // nstates + foreign events + local events + append + saveStates
        assert(mergeJobs <= 5, s"driver-regime mergeFrom ran $mergeJobs jobs")
        assert(editJobs === 1)
      }
      assert(s.validate() === 0L)
      (merged, eventRows(s"$dir/local"), GraphSession.open(spark, SearEngine, s"$dir/local").states.toMap,
        eg.events.toMap)
    }
    assert(parity(0) === parity(1))
    assert(parity(0)._4.size === 2)

    // refusal fixtures: in each regime the same exception type and
    // hash, and nothing written
    def refusal[E <: GraphException](fixture: String => String)(hashOf: E => String)(
        implicit ct: scala.reflect.ClassTag[E]): Unit =
      regimes.foreach { case (name, bound) =>
        val dir = java.nio.file.Files.createTempDirectory(s"graftsessr-$name").toString
        val h = fixture(dir)
        val before = files(s"$dir/local")
        val s = GraphSession.open(spark, ByteEngine, s"$dir/local", bound)
        val states = s.states.toMap
        assert(hashOf(intercept[E](s.mergeFrom(s"$dir/foreign"))) === h)
        assert(files(s"$dir/local") === before, s"$name regime wrote before refusing")
        assert(s.states.toMap === states)
      }
    refusal[DependencyNotFound](danglingFixture)(_.h)
    refusal[HashCollision](collisionFixture)(_.h)

    // a foreign row whose stored hash is not its content hash
    regimes.foreach { case (name, bound) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graftsesst-$name").toString
      collisionFixture(dir) // its local side holds the forged row: merge it in
      val s = GraphSession.open(spark, ByteEngine, s"$dir/foreign", bound)
      val before = files(s"$dir/foreign")
      val e = intercept[EngineException](s.mergeFrom(s"$dir/local"))
      assert(e.getMessage.contains("1 events fail hash validation"), s"$name: ${e.getMessage}")
      assert(files(s"$dir/foreign") === before)
    }

    // editingGraph refuses the foreign store's dangling closure alike
    val dir = java.nio.file.Files.createTempDirectory("graftsessxe").toString
    val absent = danglingFixture(dir)
    regimes.foreach { case (_, bound) =>
      val f = GraphSession.open(spark, ByteEngine, s"$dir/foreign", bound)
      assert(intercept[DependencyNotFound](f.editingGraph("")).h === absent)
      assert(intercept[EngineException](f.editingGraph("", cap = 2L)).getMessage.contains("cap 2"))
    }
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }

  test("both regimes: a local closure with a missing dependency is refused before the append") {
    Seq("driver" -> Driver, "frames" -> Frames).foreach { case (name, bound) =>
      val dir = java.nio.file.Files.createTempDirectory(s"graftsesslocal-$name").toString
      // the dangling store is the local side here; the foreign one is whole
      val absent = danglingFixture(s"$dir/swap")
      genStore(s"$dir/foreign", 4L, 8L, 3)
      val s = GraphSession.open(spark, ByteEngine, s"$dir/swap/foreign", bound)
      val before = files(s"$dir/swap/foreign")
      assert(intercept[DependencyNotFound](s.mergeFrom(s"$dir/foreign")).h === absent, name)
      assert(files(s"$dir/swap/foreign") === before, name)
    }
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }

  test("driver regime: editingGraph sees an append another session made after mergeFrom") {
    val dir = java.nio.file.Files.createTempDirectory("graftsessappend").toString
    parityFixture(dir)
    val later = new EventGraph[SearArg](SearEngine)
    val wl = new WorkCache[SearArg, String](SearEngine, "A|B|C")
    val h = wl.shelveEvent(later, SortedSet.empty, 0, SearArg("C", "F")).get
    later.nstates.update("", SortedSet(h))
    GraphStore.save(spark, later, s"$dir/later")

    val s = GraphSession.open(spark, SearEngine, s"$dir/local", Driver)
    val merged = s.mergeFrom(s"$dir/foreign")
    // a second session on the same store appends `later` meanwhile
    val other = GraphSession.open(spark, SearEngine, s"$dir/local", Driver)
    val both = other.mergeFrom(s"$dir/later")
    assert(both === merged + h)
    s.states.update("", both)
    val eg = s.editingGraph("")
    assert(eg.events.contains(h) && eg.events.size === 3)
    graft.plans.CheckpointHygiene.releaseAll(spark)
  }
}
