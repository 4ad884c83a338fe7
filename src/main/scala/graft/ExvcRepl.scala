package graft

import graft.core._
import graft.exvc._
import graft.sources.GraphStore
import scala.collection.immutable.{SortedMap, SortedSet}

/** The interactive editor REPL — the reference's user-facing surface
  * (/root/reference/crates/exvc/src/main.rs:304-336), line-for-line in
  * behavior:
  *
  *  - `<addr>`            print the addressed lines (stable numbering
  *                        across unselected spans, main.rs:152-174)
  *  - `<addr>a|c|i`       append/change/insert; body lines until `.`
  *  - `<addr>d`           delete
  *  - `<addr>s`           substitute; reads exactly 2 lines (pat, repl)
  *  - `*state`            list the current frontier (main.rs:39-43)
  *  - `*dot`              dump the graph as Graphviz (main.rs:36-38)
  *  - `w`                 persist the graph (zstd parquet; main.rs:44-53)
  *  - `m<` then a path    merge a foreign persisted graph (main.rs:54-111)
  *  - `q`                 quit
  *
  * Every edit is shelved (dependency inference) onto the current
  * frontier; frontiers over 100 entries are compacted to their
  * antichain (main.rs:232-249).
  *
  * Run: sbt "runMain graft.ExvcRepl [sessionPath]"
  */
object ExvcRepl {
  def main(args: Array[String]): Unit = {
    val path = args.headOption
    lazy val spark = GraftSession.local()

    val g: EventGraph[Command] = path match {
      case Some(p) if new java.io.File(s"$p/events").exists() =>
        spark.sparkContext.setLogLevel("ERROR")
        GraphStore.load(spark, ExvcEngine, p)
      case _ => new EventGraph[Command](ExvcEngine)
    }
    val w = new WorkCache[Command, Vector[String]](ExvcEngine, Vector.empty)
    val in = scala.io.Source.stdin.getLines()

    def frontier: SortedSet[String] = g.nstates.getOrElse("", SortedSet.empty[String])

    def readBody(): Vector[String] =
      in.takeWhile(_ != ".").toVector

    def materialized: Vector[String] =
      if (frontier.isEmpty) Vector.empty else w.materialize(g, frontier)._1

    def shelve(cmd: Command): Unit =
      w.shelveEvent(g, frontier, 0, cmd) match {
        case Some(h) =>
          var next = frontier + h
          if (next.size > 100) // compaction trigger (main.rs:232)
            next = SortedSet.from(g.foldState(
              SortedMap.from(next.iterator.map(_ -> false)), expand = false).keysIterator)
          g.nstates.update("", next)
          println(s"<< $h")
        case None => println("!! no-op event, not recorded")
      }

    var done = false
    while (!done && in.hasNext) {
      val line = in.next()
      line match {
        case "q" => done = true
        case "*state" => frontier.foreach(h => println(s">> $h"))
        case "*dot" => print(graft.sources.Dot.render(g, (c: Command) => c.kind.toString.take(40)))
        case "w" => path match {
          case Some(p) =>
            spark.sparkContext.setLogLevel("ERROR")
            GraphStore.save(spark, g, p)
            println(s"persisted to $p")
          case None => println("!! no file path is associated with this session")
        }
        case "m<" =>
          if (in.hasNext) {
            val p = in.next().trim
            try {
              spark.sparkContext.setLogLevel("ERROR")
              val merged = GraphStore.mergeFrom(spark, g, w, p)
              merged.foreach(h => println(s">> $h"))
              println("OK")
            } catch { case e: Exception => println(s"!! merge failed: ${e.getMessage}") }
          }
        case "" => ()
        case _ =>
          InpCommandKind.parse(line) match {
            case Left(err) => println(s"!! $err")
            case Right((addr, InpCommandKind.Print)) =>
              // stable line numbers across unselected spans
              // (main.rs:152-174); when the session path has a known
              // extension, lines are syntax-highlighted and EVERY line
              // (selected or not) feeds the highlighter so its
              // block-comment state stays in sync (main.rs:134-159)
              val dat = materialized
              val hl = path.flatMap(exvc.Highlight.forPath)
              var lnum = 0
              ExvcEngine.resolveAddr(dat, addr).foreach { case (span, selected) =>
                span.foreach { l =>
                  hl match {
                    case Some(h) =>
                      val colored = h.line(l) // advances state even when unselected
                      if (selected) println(
                        f"${exvc.Highlight.LineNumColor}$lnum%5d\u001b[0m: $colored\u001b[0m")
                    case None =>
                      if (selected) println(f"$lnum%4d| $l")
                  }
                  lnum += 1
                }
              }
            case Right((addr, k)) =>
              val kind = k match {
                case InpCommandKind.Append => CommandKind.Append(readBody())
                case InpCommandKind.Insert => CommandKind.Insert(readBody())
                case InpCommandKind.Change => CommandKind.Change(readBody())
                case InpCommandKind.Delete => CommandKind.Delete
                case InpCommandKind.Substitute =>
                  val pat = if (in.hasNext) in.next() else ""
                  val repl = if (in.hasNext) in.next() else ""
                  CommandKind.Substitute(pat, repl)
                case InpCommandKind.Print => throw new IllegalStateException
              }
              try shelve(Command(addr, kind))
              catch { case e: EngineException => println(s"!! ${e.getMessage}") }
          }
      }
    }
  }
}
