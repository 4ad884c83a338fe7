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
      Row(h, ev.cmd, graph.engine.asInstanceOf[Engine[A, _]].encodeArg(ev.arg), ev.deps.toMap)
    }.toSeq
    val nsRows = graph.nstates.iterator.map { case (n, st) => Row(n, st.toSeq) }.toSeq
    spark.createDataFrame(spark.sparkContext.parallelize(evRows, 1), eventsSchema)
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/events")
    spark.createDataFrame(spark.sparkContext.parallelize(nsRows, 1), nstatesSchema)
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/nstates")
  }

  /** Load a graph persisted by [[save]]. With `validate`, every event is
    * re-inserted through the content-addressed path (`ensure_event`,
    * graph.rs:136-154) and the stored hash must match — an integrity
    * check on the canonical encoding.
    */
  def load[A](spark: SparkSession, engine: Engine[A, _], path: String,
              validate: Boolean = true): EventGraph[A] = {
    val g = new EventGraph[A](engine)
    spark.read.parquet(s"$path/events").collect().foreach { r =>
      val storedHash = r.getString(0)
      val ev = Ev(r.getInt(1), engine.decodeArg(r.getAs[Array[Byte]](2)),
        SortedMap.from(r.getAs[Map[String, Boolean]](3)))
      if (validate) {
        val (collision, h) = g.ensureEvent(ev)
        if (collision.isDefined) throw new HashCollision(h)
        if (h != storedHash)
          throw new EngineException(s"stored hash $storedHash does not match recomputed $h")
      } else g.events.update(storedHash, ev)
    }
    spark.read.parquet(s"$path/nstates").collect().foreach { r =>
      g.nstates.update(r.getString(0), SortedSet.from(r.getSeq[String](1)))
    }
    g
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
