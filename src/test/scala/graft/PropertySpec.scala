package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.collection.immutable.{SortedMap, SortedSet}

/** Property-based port of the reference fuzz target
  * (/root/reference/crates/example-sear/fuzz/fuzz_targets/sear0.rs:65-136):
  * random initial string + random sear sequence must satisfy
  * (1) replay equivalence: shelve one-by-one, compress to the frontier,
  *     replay == the plain sequential left fold, and the replayed set
  *     equals the shelved set (sear0.rs:69-122);
  * (2) merge totality: try_merge over the shelved set always succeeds
  *     (sear0.rs:124-135).
  *
  * Generators are driven manually with a fixed seed (the scalatest
  * bridge artifact isn't available offline), so failures are
  * reproducible.
  */
class SearPropertySpec extends AnyFunSuite {
  import SearPropertySpec.assertWalkIsColdFold

  private val smallStr = Gen.chooseNum(0, 6).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
  private val nonEmptyStr = Gen.chooseNum(1, 4).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
  private val searGen: Gen[(String, String)] = for {
    s <- nonEmptyStr
    r <- smallStr
  } yield (s, r)
  private val caseGen: Gen[(String, List[(String, String)])] = for {
    init <- Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
    n <- Gen.chooseNum(1, 6)
    sears <- Gen.listOfN(n, searGen)
  } yield (init, sears)

  private def checkCase(init: String, sears: List[(String, String)]): Unit = {
    val expected = sears.foldLeft(init) { case (acc, (s, r)) => acc.replace(s, r) }
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, init)
    var xs = SortedSet.empty[String]
    sears.foreach { case (s, r) =>
      w.shelveEvent(g, xs, 0, SearArg(s, r)).foreach(h => xs += h)
      assertWalkIsColdFold(g, w, init, xs)
    }
    val minx = SortedSet.from(
      g.foldState(SortedMap.from(xs.iterator.map(_ -> false)), expand = false).keysIterator)
    val (got, tt) = w.runForeachRecursively(
      g, SortedMap.from(minx.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    assert(tt == xs, s"replayed set != shelved set for init=$init sears=$sears")
    assert(got == expected, s"replay != sequential fold for init=$init sears=$sears")
    // merge totality over the shelved set
    w.tryMerge(g, xs)
    assertWalkIsColdFold(g, w, init, xs)
  }

  test("replay equivalence + merge totality, 300 random cases (sear0.rs:65-136)") {
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    var i = 0
    while (i < 300) {
      val (init, sears) = caseGen.pureApply(params, seed)
      withClue(s"case #$i init=$init sears=$sears: ") { checkCase(init, sears) }
      seed = seed.next
      i += 1
    }
  }
}

object SearPropertySpec {
  import org.scalatest.Assertions._

  /** The prefix datums a shelve round's memoized walk hands back (memo
    * hits included, with the memo as earlier rounds left it) equal a
    * cold left fold of the same linearization from the initial datum.
    */
  def assertWalkIsColdFold[A, D](g: EventGraph[A], w: WorkCache[A, D], init: D,
                                 xs: SortedSet[String]): Unit = {
    val order = g.calculateDependencies(SortedSet.empty,
      SortedMap.from(xs.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
    val (walked, _) = w.walkPrefixes(g, SortedSet.empty, order)
    val cold = order.scanLeft(init) { (st, id) =>
      val e = g.events(id); w.engine.runEvent(e.cmd, e.arg, st)
    }
    assert(walked == cold, s"memoized prefix walk != cold fold over $order")
  }
}

/** Shelve/merge properties through the exvc editor engine — the
  * reference fuzzes only the sear engine; commands with addresses
  * exercise arg equality and non-idempotence differently.
  */
class ExvcPropertySpec extends AnyFunSuite {
  import graft.exvc._
  private val lineGen = Gen.chooseNum(0, 3).flatMap(n => Gen.stringOfN(n, Gen.oneOf('a', 'b')))
  private val linesGen = Gen.chooseNum(0, 2).flatMap(n => Gen.listOfN(n, lineGen).map(_.toVector))
  private val addrGen: Gen[Address] = Gen.oneOf(
    Gen.chooseNum(0, 3).map(s => Address.Rng(s, s + 2)),
    Gen.chooseNum(0, 3).map(Address.RngF(_)),
    Gen.const(Address.Last),
    Gen.oneOf("a", "b", "^a", "b$").map(Address.Rgx(_)))
  private val kindGen: Gen[CommandKind] = Gen.oneOf(
    linesGen.map(CommandKind.Append(_)),
    linesGen.map(CommandKind.Insert(_)),
    linesGen.map(CommandKind.Change(_)),
    Gen.const(CommandKind.Delete),
    Gen.zip(Gen.oneOf("a", "b"), Gen.oneOf("", "ab", "x")).map { case (p, r) => CommandKind.Substitute(p, r) })
  private val caseGen = for {
    init <- Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, lineGen).map(_.toVector))
    n <- Gen.chooseNum(1, 5)
    cmds <- Gen.listOfN(n, Gen.zip(addrGen, kindGen).map { case (a, k) => Command(a, k) })
  } yield (init, cmds)

  test("exvc shelve replay-equivalence + merge totality, 200 random cases") {
    val params = Gen.Parameters.default
    var seed = Seed(7L)
    var i = 0
    while (i < 200) {
      val (init, cmds) = caseGen.pureApply(params, seed)
      val expected = cmds.foldLeft(init)((d, c) => ExvcEngine.runEvent(0, c, d))
      val g = new EventGraph[Command](ExvcEngine)
      val w = new WorkCache[Command, Vector[String]](ExvcEngine, init)
      var xs = SortedSet.empty[String]
      cmds.foreach { c =>
        w.shelveEvent(g, xs, 0, c).foreach(h => xs += h)
        withClue(s"case #$i init=$init cmds=$cmds: ") {
          SearPropertySpec.assertWalkIsColdFold(g, w, init, xs)
        }
      }
      val minx = SortedSet.from(
        g.foldState(SortedMap.from(xs.iterator.map(_ -> false)), expand = false).keysIterator)
      val (got, tt) = w.runForeachRecursively(
        g, SortedMap.from(minx.iterator.map(_ -> (IncludeSpec.All: IncludeSpec))))
      withClue(s"case #$i init=$init cmds=$cmds: ") {
        assert(tt == xs)
        assert(got == expected)
        w.tryMerge(g, xs)
        SearPropertySpec.assertWalkIsColdFold(g, w, init, xs)
      }
      seed = seed.next
      i += 1
    }
  }
}
