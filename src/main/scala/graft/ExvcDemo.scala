package graft

import graft.core._
import graft.exvc._
import scala.collection.immutable.{SortedMap, SortedSet}

/** Executable integration demo of the driver-side engine, mirroring the
  * reference's example-sear demo binary
  * (/root/reference/crates/example-sear/src/main.rs:16-102) and the exvc
  * REPL flow (crates/exvc/src/main.rs:304-336): parse ed-style commands,
  * shelve them (dependency inference), materialize, compact the frontier,
  * merge a divergent branch, and exercise the error paths.
  *
  * Run: sbt "runMain graft.ExvcDemo"
  */
object ExvcDemo {
  def main(args: Array[String]): Unit = {
    val g = new EventGraph[Command](ExvcEngine)
    val w = new WorkCache[Command, Vector[String]](ExvcEngine, Vector.empty)
    var frontier = SortedSet.empty[String]

    def userCmd(line: String, body: Vector[String] = Vector.empty): Unit = {
      val (addr, k) = InpCommandKind.parse(line).fold(e => sys.error(e), identity)
      val kind = k match {
        case InpCommandKind.Append => CommandKind.Append(body)
        case InpCommandKind.Insert => CommandKind.Insert(body)
        case InpCommandKind.Change => CommandKind.Change(body)
        case InpCommandKind.Delete => CommandKind.Delete
        case InpCommandKind.Substitute => CommandKind.Substitute(body(0), body(1))
        case InpCommandKind.Print => sys.error("print is handled separately")
      }
      w.shelveEvent(g, frontier, 0, Command(addr, kind)) match {
        case Some(h) =>
          frontier = frontier + h
          println(s"shelved ${h.take(28)}... hardDeps=${g.events(h).deps.count(_._2)}")
        case None => println(s"no-op rejected: $line")
      }
    }

    userCmd("0,a", Vector("hello world", "second line", "third line"))
    userCmd("/second/s", Vector("second", "2nd"))
    userCmd("1d")
    userCmd("$a", Vector("appended at end"))

    val (doc, tt) = w.materialize(g, frontier)
    println(s"materialized (${tt.size} events): " + doc.mkString(" | "))

    // print path (main.rs:121-177): resolve an address over the view
    val printSel = ExvcEngine.resolveAddr(doc, Address.parse("/world/").toOption.get._1)
    println("print /world/ -> " + printSel.collect { case (span, true) => span.mkString }.mkString)

    // frontier compaction (main.rs:232-249)
    val compacted = g.foldState(SortedMap.from(frontier.iterator.map(_ -> false)), expand = false)
    println(s"frontier ${frontier.size} -> compacted ${compacted.size}")

    // merge path (m< flow, main.rs:54-111): two divergent branches
    val base = frontier
    userCmd("0,1s", Vector("hello", "hi"))
    val branchA = frontier
    frontier = base
    userCmd("$s", Vector("appended", "APPENDED"))
    val merged = branchA ++ frontier
    w.tryMerge(g, merged)
    val (mergedDoc, _) = w.materialize(g, merged)
    println("merged doc: " + mergedDoc.mkString(" | "))
    require(mergedDoc.exists(_.contains("hi")) && mergedDoc.exists(_.contains("APPENDED")),
      s"merge lost an edit: $mergedDoc")

    // error paths
    println("bad addr       -> " + InpCommandKind.parse("x1d"))
    println("bad cmd letter -> " + InpCommandKind.parse("1q"))
    println("noop shelve    -> " + w.shelveEvent(g, merged, 0, Command(Address.Rgx("zzz-not-there"), CommandKind.Delete)))
    val badRegex =
      try { w.shelveEvent(g, merged, 0, Command(Address.Rgx("[unclosed"), CommandKind.Delete)); "NOT RAISED" }
      catch { case e: EngineException => "EngineException: " + e.getMessage.takeWhile(_ != '\n').take(50) }
    println("bad regex      -> " + badRegex)
    println("bad hash text  -> " + Hashes.parse("blake2b512:tooshort"))

    // persistence + merge-from-file (OP-19) through Spark parquet
    locally {
      val spark = GraftSession.local()
      val dir = java.nio.file.Files.createTempDirectory("graft-demo").toString
      g.nstates.update("", merged)
      graft.sources.GraphStore.save(spark, g, s"$dir/session")
      val reloaded = graft.sources.GraphStore.load(spark, ExvcEngine, s"$dir/session")
      println(s"persisted+reloaded ${reloaded.events.size} events, state=${reloaded.nstates("").size}")
      val w2 = new WorkCache[Command, Vector[String]](ExvcEngine, Vector.empty)
      val (redoc, _) = w2.materialize(reloaded, reloaded.nstates(""))
      require(redoc == mergedDoc, s"reload mismatch: $redoc vs $mergedDoc")
      println("reloaded replay matches")
      val dot = graft.sources.Dot.render(reloaded, (c: Command) => c.kind.getClass.getSimpleName)
      println(s"dot export: ${dot.linesIterator.size} lines, clusters=${dot.contains("cluster_")}")
      spark.stop()
    }

    // external byte-engine registry (OP-20 contract)
    locally {
      import graft.core.ExternalEngine._
      val en = new graft.core.ExternalEngine
      val (first, count) = en.addCommands(Seq(searModule))
      val out = en.runEvent(first, searArg("l", "w"), bytes("hello world"))
      println(s"external engine [$first,+$count): " + new String(out.toArray, "UTF-8"))
    }

    // sandboxed WASM UDF engine (OP-20 hosting): real .wasm binaries
    // through the wbindgen ABI, fresh instance per event
    locally {
      import graft.functions.wasm.{WasmEngine, WasmModules}
      import scala.collection.immutable.ArraySeq
      val en = new WasmEngine
      val (first, count) = en.addCommands(Seq(WasmModules.byteSearModule, WasmModules.xorModule))
      val out = en.runEvent(first, WasmModules.arg2('l', 'w'),
        ArraySeq.unsafeWrapArray("hello world".getBytes("UTF-8")))
      println(s"wasm engine [$first,+$count): " + new String(out.toArray, "UTF-8"))
    }
    println("EXVC-DEMO-OK")
  }
}
