package graft.sources

import graft.core._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.immutable.{SortedMap, SortedSet}

/** Graph persistence + merge-from-file — the reference's session/state
  * ops (OP-19): `w` persists the whole graph as zstd bincode
  * (/root/reference/crates/exvc/src/main.rs:44-53), `m<` imports a
  * foreign graph and merges (main.rs:54-111). Here the graph is two
  * Parquet tables (`events`, `nstates`) with zstd compression — the
  * columnar equivalent — readable as plain DataFrames for analytics and
  * round-trippable to the driver-side [[EventGraph]].
  */
object GraphStore {
  val eventsSchema: StructType = StructType(Seq(
    StructField("hash", StringType, nullable = false),
    StructField("cmd", IntegerType, nullable = false),
    StructField("arg", BinaryType, nullable = false),
    StructField("deps", MapType(StringType, BooleanType), nullable = false)))

  val nstatesSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("frontier", ArrayType(StringType), nullable = false)))

  /** Persist `graph` at `path` as `events/` + `nstates/` parquet (zstd). */
  def save[A](spark: SparkSession, graph: EventGraph[A], path: String): Unit = {
    val evRows = graph.events.iterator.map { case (h, ev) =>
      StoredEvent(h, ev.cmd, graph.engine.asInstanceOf[Engine[A, _]].encodeArg(ev.arg), ev.deps).row
    }.toSeq
    writeTable(spark, evRows, eventsSchema, "overwrite", s"$path/events")
    saveStates(spark, graph.nstates, path)
  }

  /** Persist named frontiers as `nstates/` (tiny: names x antichain). */
  private[graft] def saveStates(spark: SparkSession, states: collection.Map[String, SortedSet[String]],
                                path: String): Unit =
    writeTable(spark, states.iterator.map { case (n, st) => Row(n, st.toSeq) }.toSeq,
      nstatesSchema, "overwrite", s"$path/nstates")

  /** Write driver-held `rows` as one zstd parquet file. */
  private[graft] def writeTable(spark: SparkSession, rows: Seq[Row], schema: StructType,
                                mode: String, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode(mode).option("compression", "zstd").parquet(path)

  /** Load a graph persisted by [[save]]. With `validate`, every event is
    * re-inserted through the content-addressed path (`ensure_event`,
    * graph.rs:136-154) and the stored hash must match — an integrity
    * check on the canonical encoding.
    */
  def load[A](spark: SparkSession, engine: Engine[A, _], path: String,
              validate: Boolean = true): EventGraph[A] = {
    val g = new EventGraph[A](engine)
    val rows = readEvents(spark, s"$path/events")
    if (validate) insertValidated(g, rows.iterator)
    else rows.foreach(e => g.events.update(e.hash, e.decode(engine)))
    g.nstates ++= readStates(spark, s"$path/nstates")
    g
  }

  /** One persisted event row as stored: `arg` holds the engine's
    * canonical bytes.
    */
  private[graft] final case class StoredEvent(hash: String, cmd: Int, arg: Array[Byte],
                                              deps: SortedMap[String, Boolean]) {
    /** The stored hash is the content hash of the stored bytes — the
      * kernel the distributed validation runs on the executors.
      */
    def valid: Boolean = Hashes.eventHash(cmd, arg, deps) == hash

    /** Same command, argument bytes and dependencies. */
    def samePayload(o: StoredEvent): Boolean =
      cmd == o.cmd && java.util.Arrays.equals(arg, o.arg) && deps == o.deps

    def decode[A](engine: Engine[A, _]): Ev[A] = Ev(cmd, engine.decodeArg(arg), deps)

    def row: Row = Row(hash, cmd, arg, deps.toMap)
  }

  private[graft] object StoredEvent {
    /** A row of an [[eventsSchema]]-ordered frame. */
    def apply(r: Row): StoredEvent =
      StoredEvent(r.getString(0), r.getInt(1), r.getAs[Array[Byte]](2),
        SortedMap.from(r.getMap[String, Boolean](3)))
  }

  /** Every row of the events table at `path`: one collect under
    * [[eventsSchema]], so no schema-inference job.
    */
  private[graft] def readEvents(spark: SparkSession, path: String): Array[StoredEvent] =
    spark.read.schema(eventsSchema).parquet(path).collect().map(StoredEvent(_))

  /** The named frontiers at `path`: one collect under [[nstatesSchema]]. */
  private[graft] def readStates(spark: SparkSession, path: String): Map[String, SortedSet[String]] =
    spark.read.schema(nstatesSchema).parquet(path).collect()
      .map(r => r.getString(0) -> SortedSet.from(r.getSeq[String](1))).toMap

  /** Insert `rows` into `g` through the content-addressed path: a
    * collision aborts, and the hash recomputed from the engine's
    * re-encoding of the decoded argument must equal the stored one.
    */
  private[graft] def insertValidated[A](g: EventGraph[A], rows: Iterator[StoredEvent]): Unit =
    rows.foreach { e =>
      val (collision, h) = g.ensureEvent(e.decode(g.engine))
      if (collision.isDefined) throw new HashCollision(h)
      if (h != e.hash)
        throw new EngineException(s"stored hash ${e.hash} does not match recomputed $h")
    }

  /** Merge a foreign persisted graph into `(graph, cache)`, mirroring
    * the exvc `m<` flow (main.rs:54-111): linearize the foreign state
    * (OP-4), dedup-insert every event (OP-3, collision aborts),
    * compress the union of both frontiers (OP-1+2), re-shelve
    * (OP-11), and update the named state.
    *
    * @return the merged frontier stored under `stateName`
    */
  def mergeFrom[A, D](spark: SparkSession, graph: EventGraph[A], cache: WorkCache[A, D],
                      foreignPath: String, stateName: String = ""): SortedSet[String] = {
    val foreign = load(spark, graph.engine.asInstanceOf[Engine[A, D]], foreignPath, validate = true)
    val foreignState = foreign.nstates.getOrElse(stateName, SortedSet.empty[String])

    // linearize the foreign state's closure in dependency order
    val imports = foreign.calculateDependencies(
      SortedSet.empty, SortedMap.from(foreignState.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    imports.foreach { h =>
      val (collision, nh) = graph.ensureEvent(foreign.events(h))
      if (collision.isDefined) throw new HashCollision(nh)
    }

    val localState = graph.nstates.getOrElse(stateName, SortedSet.empty[String])
    val union = localState ++ foreignState
    val minimized = SortedSet.from(
      graph.foldState(SortedMap.from(union.iterator.map(_ -> false)), expand = false).keysIterator)
    cache.tryMerge(graph, minimized)
    if (minimized.nonEmpty) graph.nstates.update(stateName, minimized)
    minimized
  }
}
