package graft

import graft.core._
import graft.exvc._
import graft.functions.Blake2b
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.{SortedMap, SortedSet}

/** Pinned hash vectors — reference hash.rs:87-128 + RFC 7693 appendix. */
class HashSpec extends AnyFunSuite {
  test("blake2b512 pinned vector: Guten Tag! (hash.rs:109-127)") {
    assert(Hashes.contentHash("Guten Tag!") ==
      "blake2b512:z3L37mvoETflutamuNBg_EMgHMtxwm8YlZ2Jf7d2eZwOICKEivONmVdMbZH3bWzmDdIFJjhMEilg6XrrN0Jrlg")
  }

  test("blake2b512 RFC 7693 appendix A vector: abc") {
    val hex = Blake2b.hash512("abc".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(hex ==
      "ba80a53f981c4d0d6a2797b69f12f6e94c212f14685ac4b74b12bb6fdbffa2d1" +
      "7d87c5392aab792dc252d5de4533cc9518d38aa8dbf1925ab92386edd4009923")
  }

  test("blake2b512 empty input") {
    val hex = Blake2b.hash512(Array.emptyByteArray).map("%02x".format(_)).mkString
    assert(hex ==
      "786a02f742015903c6c6fd852552d272912f4740e15847618a86e217f71f5419" +
      "d25e1031afee585313896444934eb04b903a685b1448b755d56f701afe9be2ce")
  }

  test("multi-block input (>128 bytes) round-trips deterministically") {
    val big = ("x" * 1000).getBytes("UTF-8")
    assert(Blake2b.hash512(big).length == 64)
    assert(Blake2b.hash512(big).toSeq == Blake2b.hash512(big.clone()).toSeq)
    // 128-byte boundary cases
    for (n <- Seq(127, 128, 129, 255, 256, 257)) {
      assert(Blake2b.hash512(Array.fill(n)(7.toByte)).length == 64)
    }
  }

  test("hash text form parse round-trip + errors (hash.rs:92-107)") {
    val h = Hashes.contentHash("Guten Tag!")
    assert(Hashes.parse(h).map(Hashes.Prefix + java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(_)) == Right(h))
    assert(Hashes.parse("hello:1234") == Left("invalid hash prefix 'hello'"))
    assert(Hashes.parse("blake2b512:AAAA").isLeft) // too short
  }

  test("canonical event encoding is sensitive to cmd, arg, deps and hard flag") {
    val d0 = SortedMap.empty[String, Boolean]
    val base = Hashes.eventHash(0, Array[Byte](1, 2), d0)
    assert(base != Hashes.eventHash(1, Array[Byte](1, 2), d0))
    assert(base != Hashes.eventHash(0, Array[Byte](1, 3), d0))
    assert(base != Hashes.eventHash(0, Array[Byte](1, 2), SortedMap("h" -> true)))
    assert(Hashes.eventHash(0, Array[Byte](1, 2), SortedMap("h" -> true)) !=
      Hashes.eventHash(0, Array[Byte](1, 2), SortedMap("h" -> false)))
    // insertion order of deps must not matter (sorted)
    assert(Hashes.eventHash(0, Array.emptyByteArray, SortedMap("a" -> true, "b" -> false)) ==
      Hashes.eventHash(0, Array.emptyByteArray, SortedMap("b" -> false, "a" -> true)))
  }
}

/** Address parser cases — reference addr.rs:104-119. */
class AddrSpec extends AnyFunSuite {
  import Address._
  test("addr cases from addr.rs:111-118") {
    assert(Address.parse("0") == Right((Rng(0, 1), "")))
    assert(Address.parse("0,") == Right((RngF(0), "")))
    assert(Address.parse("1") == Right((Rng(1, 2), "")))
    assert(Address.parse("$") == Right((Last, "")))
    assert(Address.parse("$1") == Right((Last, "1")))
    assert(Address.parse("/hewwo?/") == Right((Rgx("hewwo?"), "")))
    assert(Address.parse("/hewwo?/i") == Right((Rgx("hewwo?"), "i")))
  }
  test("ranges, escapes, errors") {
    assert(Address.parse("2,5x") == Right((Rng(2, 5), "x")))
    assert(Address.parse("5,2").isLeft) // start must be < end
    assert(Address.parse("/a'/b/") == Right((Rgx("a/b"), "")))
    assert(Address.parse("/a'nb/") == Right((Rgx("a\nb"), "")))
    assert(Address.parse("/abc'").isLeft) // escaped EOL
    assert(Address.parse("x").isLeft)
    assert(InpCommandKind.parse("1,3d") == Right((Rng(1, 3), InpCommandKind.Delete)))
    assert(InpCommandKind.parse("$") == Right((Last, InpCommandKind.Print)))
    assert(InpCommandKind.parse("0,q").isLeft)
  }
}

/** exvc editor semantics — reference en.rs:105-188. */
class ExvcEngineSpec extends AnyFunSuite {
  import Address._
  import CommandKind._
  private def run(dat: Vector[String], c: Command): Vector[String] =
    ExvcEngine.runEvent(0, c, dat)

  test("empty-data rule: only 0, and $ select (en.rs:107-114)") {
    assert(run(Vector.empty, Command(RngF(0), Append(Vector("a")))) == Vector("a"))
    assert(run(Vector.empty, Command(Last, Append(Vector("a")))) == Vector("a"))
    assert(run(Vector.empty, Command(Rng(0, 1), Append(Vector("a")))) == Vector.empty)
    assert(run(Vector.empty, Command(RngF(1), Append(Vector("a")))) == Vector.empty)
  }

  test("range spans split/apply/flatten (en.rs:116-142)") {
    val dat = Vector("l0", "l1", "l2", "l3")
    assert(run(dat, Command(Rng(1, 3), Delete)) == Vector("l0", "l3"))
    assert(run(dat, Command(Rng(1, 3), Change(Vector("C")))) == Vector("l0", "C", "l3"))
    assert(run(dat, Command(Rng(1, 3), Insert(Vector("I")))) == Vector("l0", "I", "l1", "l2", "l3"))
    assert(run(dat, Command(Rng(1, 3), Append(Vector("A")))) == Vector("l0", "l1", "l2", "A", "l3"))
    assert(run(dat, Command(Rng(9, 12), Delete)) == dat) // start past end: no selection
    assert(run(dat, Command(Rng(2, 9), Delete)) == Vector("l0", "l1")) // end clamped
    assert(run(dat, Command(RngF(2), Delete)) == Vector("l0", "l1"))
    assert(run(dat, Command(RngF(4), Append(Vector("A")))) == dat :+ "A") // == len: empty span at end
    assert(run(dat, Command(RngF(5), Append(Vector("A")))) == dat) // > len: nothing
    assert(run(dat, Command(Last, Delete)) == Vector("l0", "l1", "l2"))
  }

  test("regex address selects per line (en.rs:143-148)") {
    val dat = Vector("foo bar", "baz", "barfly")
    assert(run(dat, Command(Rgx("bar"), Delete)) == Vector("baz"))
    assert(run(dat, Command(Rgx("^bar"), Substitute("bar", "BAR"))) == Vector("foo bar", "baz", "BARfly"))
  }

  test("substitute replaces all occurrences per selected line (en.rs:176-186)") {
    val dat = Vector("aXaXa", "bXb")
    assert(run(dat, Command(RngF(0), Substitute("X", "-"))) == Vector("a-a-a", "b-b"))
  }
}

/** Shelve/merge edge cases — the behavioral spec, ported verbatim from
  * reference workcache.rs:484-799 (cases found by its fuzzer).
  */
class WorkCacheSpec extends AnyFunSuite {
  /** Mirrors `assert_no_reorder` (workcache.rs:513-545): shelve each sear,
    * compress to the frontier, replay, expect the plain left fold.
    */
  private def assertNoReorder(start: String, sears: Seq[(String, String)]): Unit = {
    val expected = sears.foldLeft(start) { case (acc, (s, r)) => acc.replace(s, r) }
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, start)
    var xs = SortedSet.empty[String]
    sears.foreach { case (s, r) =>
      w.shelveEvent(g, xs, 0, SearArg(s, r)).foreach(h => xs += h)
    }
    val minx = SortedSet.from(
      g.foldState(SortedMap.from(xs.iterator.map(_ -> false)), expand = false).keysIterator)
    val (got, tt) = w.runForeachRecursively(
      g, SortedMap.from(minx.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    assert(tt == xs)
    assert(got == expected)
  }

  /** Mirrors `assert_simple_merge` (workcache.rs:644-690). */
  private def assertSimpleMerge(start: String, dest: String,
                                common: Seq[(String, String)], toMerge: Seq[(String, String)]): Unit = {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, start)
    var xs = SortedSet.empty[String]
    common.foreach { case (s, r) => xs += w.shelveEvent(g, xs, 0, SearArg(s, r)).get }
    val oldxs = xs
    toMerge.foreach { case (s, r) => xs += w.shelveEvent(g, oldxs, 0, SearArg(s, r)).get }
    w.tryMerge(g, xs)
    val (got, _) = w.runForeachRecursively(
      g, SortedMap.from(xs.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    assert(got == dest)
  }

  test("equal_but_non_idempotent (workcache.rs:564-574)") {
    assertNoReorder("x", Seq(("x", "xx"), ("x", "xx"), ("x", "y")))
  }

  test("indirect_dep (workcache.rs:576-590)") {
    assertNoReorder("Hi, what's up??", Seq(
      ("Hi", "Hello UwU"), ("UwU", "World"), ("what", "wow"),
      ("s up", "sup"), ("??", "!"), ("sup!", "soap?"), ("p", "np")))
  }

  test("revert_then (workcache.rs:592-602)") {
    assertNoReorder("a", Seq(("a", "xaa"), ("xa", ""), ("a", "bbbbb")))
  }

  test("diverg_mult_steps (workcache.rs:604-614)") {
    assertNoReorder("XXXXX", Seq(
      ("X", "XXXX"), ("X", "X" * 46), ("X" * 10, "X" * 14)))
  }

  test("diverg_mult_steps2 (workcache.rs:616-642)") {
    assertNoReorder("\u0000" * 5, Seq(
      ("\u0000", "\u0000" * 4), ("\u0000", "\u0000" * 46), ("\u0000" * 10, "\u0000" * 14)))
  }

  test("basic_merge (workcache.rs:692-700)") {
    assertSimpleMerge("A|B|C", "E|D|F",
      Seq(("B", "D")), Seq(("A|D", "E|D"), ("D|C", "D|F")))
  }

  test("merge2 (workcache.rs:702-719)") {
    assertSimpleMerge(
      "XXXX",
      "fn main() {\n    println!(\"Hewwo UwU!\");\n    println!(\"Hello World!\");\n}",
      Seq(("XXXX", "fn main() {\n    println!(\"Hewwo!\");\n    println!(\"Hello Wrold!\");\n}")),
      Seq(("o!", "o UwU!"), ("Wrold", "World")))
  }

  test("merge_after_clear (workcache.rs:721-756)") {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "X")
    var xs = SortedSet.empty[String]
    Seq(("X", "XXX"), ("X", "")).foreach { case (s, r) =>
      xs += w.shelveEvent(g, xs, 0, SearArg(s, r)).get
    }
    w.tryMerge(g, xs)
    val (got, _) = w.runForeachRecursively(
      g, SortedMap.from(xs.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    assert(got == "")
  }

  test("merge_after_clear2 (workcache.rs:758-798)") {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "\u0000")
    var xs = SortedSet.empty[String]
    Seq(("\u0000", "\u0000" * 74), ("\u0000", "")).foreach { case (s, r) =>
      xs += w.shelveEvent(g, xs, 0, SearArg(s, r)).get
    }
    w.tryMerge(g, xs)
    val (got, _) = w.runForeachRecursively(
      g, SortedMap.from(xs.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    assert(got == "")
  }

  test("no-op events are rejected (workcache.rs:159-162)") {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "abc")
    assert(w.shelveEvent(g, SortedSet.empty, 0, SearArg("zzz", "y")).isEmpty)
    // and after some history too (208-211 path)
    val h = w.shelveEvent(g, SortedSet.empty, 0, SearArg("a", "q")).get
    assert(w.shelveEvent(g, SortedSet(h), 0, SearArg("nothere", "x")).isEmpty)
  }

  test("cycle detection in calculate_dependencies (graph.rs:102-104)") {
    val g = new EventGraph[SearArg](SearEngine)
    // two events depending on each other (hand-built hashes)
    val ha = Hashes.eventHash(0, SearEngine.encodeArg(SearArg("a", "b")), SortedMap("x" -> true))
    val hb = Hashes.eventHash(0, SearEngine.encodeArg(SearArg("c", "d")), SortedMap(ha -> true))
    g.events.update(ha, Ev(0, SearArg("a", "b"), SortedMap(hb -> true)))
    g.events.update(hb, Ev(0, SearArg("c", "d"), SortedMap(ha -> true)))
    intercept[DependencyCycle] {
      g.calculateDependencies(SortedSet.empty, SortedMap(ha -> IncludeSpec.All))
    }
  }

  test("ensure_event dedups and returns the same hash (graph.rs:136-154)") {
    val g = new EventGraph[SearArg](SearEngine)
    val ev = Ev(0, SearArg("a", "b"), SortedMap.empty[String, Boolean])
    val (c1, h1) = g.ensureEvent(ev)
    val (c2, h2) = g.ensureEvent(ev)
    assert(c1.isEmpty && c2.isEmpty && h1 == h2 && g.events.size == 1)
  }

  test("replay memoization: each unique prefix state runs the engine once") {
    var calls = 0
    object CountingEngine extends Engine[SearArg, String] {
      override def runEvent(cmd: Int, arg: SearArg, dat: String): String = {
        calls += 1; SearEngine.runEvent(cmd, arg, dat)
      }
      override def encodeArg(arg: SearArg): Array[Byte] = SearEngine.encodeArg(arg)
      override def decodeArg(bytes: Array[Byte]): SearArg = SearEngine.decodeArg(bytes)
    }
    val g = new EventGraph[SearArg](CountingEngine)
    val w = new WorkCache[SearArg, String](CountingEngine, "aaa")
    var xs = SortedSet.empty[String]
    xs += w.shelveEvent(g, xs, 0, SearArg("a", "ab")).get
    xs += w.shelveEvent(g, xs, 0, SearArg("b", "bc")).get
    val (r1, _) = w.materialize(g, xs)
    val afterFirst = calls
    val (r2, _) = w.materialize(g, xs)
    assert(r1 == r2)
    assert(calls == afterFirst) // fully cached second time

    // A shelve round's prefix states come from its one memoized walk:
    // shelving onto a hard-dependent chain (one fast-path conc per
    // round) runs the engine once per state the memo lacks plus a
    // fixed few (the new event's state per walk, the commutation
    // test) — never another fold of the round's whole linearization,
    // so the cost does not grow with the chain.
    def shelveOntoChain(n: Int): (Int, Int) = {
      val g = new EventGraph[SearArg](CountingEngine)
      val w = new WorkCache[SearArg, String](CountingEngine, "<0>")
      var ys = SortedSet.empty[String]
      (0 until n).foreach(i => ys += w.shelveEvent(g, ys, 0, SearArg(s"<$i>", s"<${i + 1}>")).get)
      val (calls0, memo0) = (calls, w.memoSize)
      w.shelveEvent(g, ys, 0, SearArg(s"<$n>", s"<${n + 1}>")).get
      (calls - calls0, w.memoSize - memo0)
    }
    val (short, shortMisses) = shelveOntoChain(4)
    val (long, longMisses) = shelveOntoChain(16)
    assert(shortMisses == 1 && longMisses == 1) // only the chain's head state was new
    assert(long - longMisses == short - shortMisses,
      s"engine calls beyond memo misses grew with the chain: $short -> $long")
  }
}

/** Error paths: missing dependencies, unknown base states, tampered
  * persistence (reference error enum, graph.rs:40-54).
  */
/** The replay memo is LRU-bounded ([[graft.core.WorkCache.memoCap]]).
  * The reference memoizes every prefix state forever
  * (workcache.rs:12-15) — fine for its session lengths, an OOM at
  * 100x. Eviction must (a) hold the bound over long sessions, and
  * (b) never change results: a miss is transparently recomputed.
  */
class MemoBoundSpec extends AnyFunSuite {
  /** Shelve a fully dependent chain (each sear rewrites the previous
    * event's output — worst case for the memo: every shelve replays
    * the whole prefix) and materialize.
    */
  private def chainSession(cap: Int, n: Int): (String, Seq[String], Int) = {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "a0", memoCap = cap)
    var xs = SortedSet.empty[String]
    (0 until n).foreach { i =>
      xs += w.shelveEvent(g, xs, 0, SearArg(s"a$i", s"a${i + 1}")).get
    }
    val (dat, _) = w.materialize(g, xs)
    (dat, xs.toSeq, w.memoSize)
  }

  test("capped session == unbounded session; memo stays within cap") {
    val n = 60
    val (datU, evsU, _) = chainSession(WorkCache.DefaultMemoCap, n)
    val (datB, evsB, size) = chainSession(16, n)
    assert(size <= 16, s"memo grew to $size")
    assert(datB == datU)
    assert(evsB == evsU) // identical event hashes -> identical deps inferred
  }

  test("10k-event replay holds the memo bound and replays correctly twice") {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "s", memoCap = 64)
    // hard-dep chain of 10k alternating sears (state stays 1 byte)
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    var deps = SortedMap.empty[String, Boolean]
    (0 until 10000).foreach { i =>
      val arg = if (i % 2 == 0) SearArg("s", "t") else SearArg("t", "s")
      val (coll, h) = g.ensureEvent(Ev(0, arg, deps))
      assert(coll.isEmpty)
      order += h
      deps = SortedMap(h -> true)
    }
    val (dat, tt) = w.runDeps(g, SortedSet.empty, order.toSeq)
    assert(dat == "s") // even count of flips
    assert(tt.size == 10000)
    assert(w.memoSize <= 64, s"memo grew to ${w.memoSize}")
    // early prefixes are long evicted — a fresh replay must recompute
    // through the pinned seed and agree
    val (dat2, _) = w.runDeps(g, SortedSet.empty, order.toSeq)
    assert(dat2 == "s")
    assert(w.memoSize <= 64)
  }
}

class ErrorPathSpec extends AnyFunSuite {
  test("foldState and calculateDependencies raise DependencyNotFound") {
    val g = new EventGraph[SearArg](SearEngine)
    intercept[DependencyNotFound] {
      g.foldState(SortedMap("blake2b512:missing" -> false), expand = true)
    }
    intercept[DependencyNotFound] {
      g.calculateDependencies(SortedSet.empty, SortedMap("blake2b512:missing" -> (IncludeSpec.All: IncludeSpec)))
    }
  }

  test("runDeps on an uncached base state raises DatasetNotFound") {
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, "x")
    intercept[DatasetNotFound] {
      w.runDeps(g, SortedSet("blake2b512:unknown"), Nil)
    }
  }
}
