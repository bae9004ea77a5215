package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the disturbance-guard semantics of [[ForkedRounds]] — the
  * fork/collect/discard driver behind Bench.forkedMain. Rounds here are plain (total, failedKeys) fakes driven through
  * the `fork` callback, so every branch of the guard is exercisable without
  * spawning a JVM.
  */
class ForkedRoundsSpec extends AnyFunSuite {

  private case class R(total: Double, failed: Set[String] = Set.empty)

  /** Drive the guard with a scripted sequence of replacement rounds. */
  private def drive(
      initial: Seq[R],
      replacements: Seq[R] = Seq.empty,
      factor: Double = 1.5,
      budget: Int = 3): (ForkedRounds.Outcome[R], Seq[(Int, String)]) = {
    val queue = scala.collection.mutable.Queue(replacements: _*)
    val forkLog = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    val out = ForkedRounds.run[R](
      runs = initial.size, tag = "spec", brokenNoun = "fake errors",
      fork = (idx, label) => {
        forkLog += ((idx, label))
        if (label.contains("refork")) queue.dequeue() else initial(idx)
      },
      total = _.total, failedKeys = _.failed,
      factor = factor, budget = budget)
    (out, forkLog.toSeq)
  }

  test("quiet set: no discards, settled, initial labels 0..N-1") {
    val (out, log) = drive(Seq(R(10.0), R(10.2), R(9.8)))
    assert(out.discardedTotals.isEmpty)
    assert(out.settled && !out.residualBroken)
    assert(out.rounds.map(_.total) == IndexedSeq(10.0, 10.2, 9.8))
    assert(log == Seq((0, "0"), (1, "1"), (2, "2")))
  }

  test("disturbed round is replaced IN PLACE at its slot, total recorded") {
    val (out, log) = drive(
      Seq(R(10.0), R(40.0), R(10.1)), replacements = Seq(R(10.3)))
    assert(out.discardedTotals == Seq(40.0))
    assert(out.rounds.map(_.total) == IndexedSeq(10.0, 10.3, 10.1))
    assert(out.settled)
    // the refork callback received the DISTURBED slot's index (Bench relies
    // on this: slot 0 re-runs with EXEC=1)
    assert(log.last == ((1, "1-refork1")))
  }

  test("broken round (extra failure keys) re-forks before a slower round") {
    // slot 2 is broken with a TINY total; slot 1 is merely slow. Broken
    // leaves first — and the baseline must come from CLEAN rounds, so the
    // broken 0.1 s total never makes the healthy ~10 s rounds look disturbed.
    val (out, log) = drive(
      Seq(R(10.0), R(14.0), R(0.1, Set("q_x"))),
      replacements = Seq(R(10.2)),
      factor = 1.5)
    assert(log.count(_._2.contains("refork")) == 1)
    assert(log.last._1 == 2)
    assert(out.discardedTotals == Seq(0.1))
    // 14.0 < 1.5 x 10.0 — kept once the broken round is gone
    assert(out.rounds.map(_.total).sorted == IndexedSeq(10.0, 10.2, 14.0))
    assert(out.settled && !out.residualBroken)
  }

  test("failures present in EVERY round are persistent, not broken") {
    val (out, _) = drive(
      Seq(R(10.0, Set("q_bad")), R(10.1, Set("q_bad")), R(9.9, Set("q_bad"))))
    assert(out.discardedTotals.isEmpty && out.settled && !out.residualBroken)
  }

  test("budget exhaustion on persistent disturbance: unsettled, spread kept") {
    val (out, _) = drive(
      Seq(R(10.0), R(40.0)),
      replacements = Seq(R(41.0), R(42.0), R(43.0)),
      budget = 3)
    assert(out.discardedTotals == Seq(40.0, 41.0, 42.0))
    assert(!out.settled && !out.residualBroken)
    assert(out.rounds.map(_.total) == IndexedSeq(10.0, 43.0))
  }

  test("budget exhaustion with a broken round still in: residualBroken") {
    val (out, _) = drive(
      Seq(R(10.0), R(0.2, Set("q_x"))),
      replacements = Seq(R(0.2, Set("q_y")), R(0.2, Set("q_z")), R(0.2, Set("q_w"))),
      budget = 3)
    assert(!out.settled && out.residualBroken)
    assert(out.discardedTotals.size == 3)
  }

  test("last replacement can settle the set exactly at the budget") {
    val (out, _) = drive(
      Seq(R(10.0), R(40.0)),
      replacements = Seq(R(39.0), R(38.0), R(10.1)),
      budget = 3)
    assert(out.settled && !out.residualBroken)
    assert(out.discardedTotals == Seq(40.0, 39.0, 38.0))
    assert(out.rounds.map(_.total) == IndexedSeq(10.0, 10.1))
  }

  test("runs=1: guard disabled entirely") {
    val (out, log) = drive(Seq(R(100.0, Set("q_x"))))
    assert(out.settled && !out.residualBroken && out.discardedTotals.isEmpty)
    assert(log == Seq((0, "0")))
  }

  test("a replacement can itself be disturbed and is re-evaluated") {
    // refork1 comes back disturbed too; refork2 is quiet — two discards
    val (out, log) = drive(
      Seq(R(10.0), R(40.0), R(10.1)),
      replacements = Seq(R(50.0), R(9.9)))
    assert(out.discardedTotals == Seq(40.0, 50.0))
    assert(out.settled)
    assert(log.map(_._2) == Seq("0", "1", "2", "1-refork1", "1-refork2"))
  }

  test("a child-death sentinel round is discarded broken-first and re-forked (r15)") {
    // Bench marks a dead or nonzero-exit child with
    // Bench.ChildDiedKey instead of throwing, so a transient OOM death
    // self-heals through the guard and is visible as a discard in the
    // record. The sentinel rides the ordinary broken-round path: discarded
    // BEFORE any merely-slow round, replacement lands in place.
    val (out, log) = drive(
      Seq(R(10.0), R(2.0, Set(Bench.ChildDiedKey)), R(40.0)),
      replacements = Seq(R(10.1), R(10.2)))
    assert(out.settled && !out.residualBroken)
    // dead round 1 discarded first (total 2.0), then the slow round 2
    assert(out.discardedTotals == Seq(2.0, 40.0))
    assert(out.rounds.map(_.total) == IndexedSeq(10.0, 10.1, 10.2))
    assert(out.rounds.forall(!_.failed.contains(Bench.ChildDiedKey)))
    assert(log.map(_._2) == Seq("0", "1", "2", "1-refork1", "2-refork2"))
  }

  test("a death in EVERY round settles as persistent — callers must abort on the sentinel") {
    // the guard cannot tell all-round deaths from a broken build (same
    // intersection rule as persistent failures); Bench requires
    // no kept round carries the sentinel and fail loudly themselves
    val (out, _) = drive(
      Seq(R(10.0, Set(Bench.ChildDiedKey)), R(10.1, Set(Bench.ChildDiedKey))))
    assert(out.settled && out.discardedTotals.isEmpty)
    assert(out.rounds.forall(_.failed.contains(Bench.ChildDiedKey)))
  }

  /** Bench's exec-pass guard: rounds are (timed total, exec total) fakes;
    * slot-0 replacements come from a script. Keepable = timed total within
    * the factor of the clean minimum, as in Bench.
    */
  private case class E(total: Double, exec: Option[Double])

  private def driveExec(
      initial: IndexedSeq[E], replacements: Seq[E], budget: Int = 3)
      : (ForkedRounds.ExecOutcome[E], Seq[String]) = {
    val queue = scala.collection.mutable.Queue(replacements: _*)
    val labels = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = ForkedRounds.guardExec[E](
      initial, tag = "spec",
      fork = label => { labels += label; queue.dequeue() },
      total = _.total, exec = _.exec,
      keepable = (r, cleanMin) => r.total <= 1.5 * cleanMin,
      factor = 1.5, budget = budget)
    (out, labels.toSeq)
  }

  test("exec guard: a clean or absent exec pass re-forks nothing") {
    for (exec <- Seq(Some(12.0), None)) {
      val (out, labels) = driveExec(IndexedSeq(E(10.0, exec), E(10.2, None)), Seq.empty)
      assert(out.reforks == 0 && out.discardedExec.isEmpty && labels.isEmpty)
    }
  }

  test("exec guard: each discarded pass is recorded once, rejected replacements included") {
    // refork1 is rejected (timed total 30 > 1.5 x 10): its own exec total
    // is what is thrown away, and slot 0's 100 s stays until refork2
    // replaces it — then 100 s is recorded, once
    val (out, labels) = driveExec(
      IndexedSeq(E(10.0, Some(100.0)), E(10.2, None)),
      Seq(E(30.0, Some(40.0)), E(10.1, Some(9.0))))
    assert(labels == Seq("0-execrefork1", "0-execrefork2"))
    assert(out.reforks == 2)
    assert(out.discardedExec == Seq(40.0, 100.0))
    assert(out.rounds.head == E(10.1, Some(9.0)))
  }

  test("exec guard: a slot 0 that outlives the budget is kept, not listed as discarded") {
    val (out, _) = driveExec(
      IndexedSeq(E(10.0, Some(100.0)), E(10.2, None)),
      Seq(E(30.0, Some(41.0)), E(31.0, Some(42.0))), budget = 2)
    assert(out.reforks == 2)
    assert(out.discardedExec == Seq(41.0, 42.0))
    assert(out.rounds.head == E(10.0, Some(100.0)))
  }

  test("exec guard: an accepted replacement whose exec is disturbed is re-forked in turn") {
    val (out, _) = driveExec(
      IndexedSeq(E(10.0, Some(100.0)), E(10.2, None)),
      Seq(E(10.1, Some(90.0)), E(10.3, Some(11.0))))
    assert(out.discardedExec == Seq(100.0, 90.0))
    assert(out.rounds.head.exec == Some(11.0))
  }
}
