package graft

import graft.core.{EventGraph, IndepCase, SearArg, SearEngine, WorkCache}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.immutable.{SortedMap, SortedSet}

/** Asymptotic ENVELOPE for the shelve/merge round structure — the
  * BenchGuard posture applied to the reference's headline algorithm
  * (O(n^2) commutation tests by design, reference README.md:5-6):
  * the counts are deterministic functions of the round structure, so
  * a regression there (an extra minimization round per shelve, a
  * dropped deferral, re-testing settled deps) shows up as a count
  * blow-up long before a wall-clock probe could attribute it. The
  * shelve-round walls are measured by perfbench's esvc workloads
  * (`plans.shelve.*`); this spec pins the structure those walls
  * depend on.
  */
class ShelveEnvelopeSpec extends AnyFunSuite {

  /** Run the q_shelve_merge flow (k independent events shelved, then
    * tryMerge) with a counting sequential tester; returns
    * (rounds, tests) over the whole merge.
    */
  private def mergeCounts(k: Int): (Long, Long) = {
    var nRounds = 0L; var nTests = 0L
    val counting = (cmd: Int, arg: SearArg, cur: String,
                    cases: Seq[IndepCase[SearArg, String]]) => {
      nRounds += 1; nTests += cases.length
      cases.iterator.map(c =>
        c.concEvid -> WorkCache.isIndependent(SearEngine, cmd, arg, cur, c)).toMap
    }
    val base = (0 until k).map(i => f"a$i%03d").mkString("|")
    val g = new EventGraph[SearArg](SearEngine)
    val w = new WorkCache[SearArg, String](SearEngine, base, Some(counting))
    var states = SortedSet.empty[String]
    (0 until k).foreach { i =>
      states += w.shelveEvent(g, SortedSet.empty[String], 0,
        SearArg(f"a$i%03d", f"b$i%03d")).get
    }
    w.tryMerge(g, states)
    (nRounds, nTests)
  }

  /** One shelve against a pre-built W-wide independent frontier (a
    * width rung at spec scale); returns
    * (rounds, tests) for that single shelve.
    */
  private def frontierCounts(w: Int): (Long, Long) = {
    var nRounds = 0L; var nTests = 0L
    val counting = (cmd: Int, arg: SearArg, cur: String,
                    cases: Seq[IndepCase[SearArg, String]]) => {
      nRounds += 1; nTests += cases.length
      cases.iterator.map(c =>
        c.concEvid -> WorkCache.isIndependent(SearEngine, cmd, arg, cur, c)).toMap
    }
    val base = (0 until w).map(i => f"a$i%05d").mkString("|")
    val g = new EventGraph[SearArg](SearEngine)
    val wc = new WorkCache[SearArg, String](SearEngine, base, Some(counting))
    var frontier = SortedSet.empty[String]
    (0 until w).foreach { i =>
      val (coll, h) = g.ensureEvent(graft.core.Ev(0,
        SearArg(f"a$i%05d", f"b$i%05d"), SortedMap.empty[String, Boolean]))
      assert(coll.isEmpty); frontier += h
    }
    val res = wc.shelveEvent(g, frontier, 0, SearArg("b00000", "c00000"))
    assert(res.isDefined)
    assert(g.events(res.get).deps.size == 1,
      s"probe event minimized to ${g.events(res.get).deps.size} deps")
    (nRounds, nTests)
  }

  test("merge of k independent branches stays inside the n^2/2 test envelope " +
    "and one round per shelve — the round-structure regression guard") {
    val (r12, t12) = mergeCounts(12)
    val (r24, t24) = mergeCounts(24)
    // each merge re-shelve must test the growing frontier ~once:
    // ~k(k-1)/2 total (measured: 65 at k=12 — within one test of the
    // exact triangle). The documented structure tests each conc
    // EXACTLY once (independent events settle in one minimization
    // round), so anything above a 1.25x slack is a structural
    // regression (an extra round re-testing settled deps doubles it)
    def lo(k: Long) = k * (k - 1) / 2 - k
    def hi(k: Long) = (k * (k - 1) / 2 * 1.25).toLong + k
    assert(t12 >= lo(12) && t12 <= hi(12),
      s"k=12 tests $t12 outside [${lo(12)}, ${hi(12)}]")
    assert(t24 >= lo(24) && t24 <= hi(24),
      s"k=24 tests $t24 outside [${lo(24)}, ${hi(24)}]")
    // quadratic growth band: doubling k must ~4x the tests — sub-3x
    // means the frontier stopped growing (events silently gaining
    // deps), >5x means rounds multiplied
    val ratio = t24.toDouble / t12.toDouble
    assert(ratio > 3.0 && ratio < 5.0, s"test growth $ratio not ~quadratic")
    // one tester invocation per shelve round; the minimization loop is
    // expected to settle independent events in ONE round each
    assert(r12 <= 3 * 12 && r24 <= 3 * 24, s"rounds blew up: $r12 / $r24")
  }

  test("one shelve against a W-wide frontier is LINEAR in W tests and a " +
    "bounded round count — the frontier-rung structure at spec scale") {
    val (r50, t50) = frontierCounts(50)
    val (r100, t100) = frontierCounts(100)
    assert(t50 >= 50 && t50 <= 3 * 50, s"W=50 tests $t50 outside [50, 150]")
    assert(t100 >= 100 && t100 <= 3 * 100, s"W=100 tests $t100 outside [100, 300]")
    val ratio = t100.toDouble / t50.toDouble
    assert(ratio > 1.5 && ratio < 2.6, s"frontier test growth $ratio not ~linear")
    assert(r50 <= 6 && r100 <= 6, s"minimization rounds blew up: $r50 / $r100")
  }
}
