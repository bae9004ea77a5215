package graft

/** The forked-rounds disturbance-guard loop of [[Bench]], kept apart from
  * the process plumbing ([[ChildJvm]]) so [[ForkedRoundsSpec]] can pin its
  * semantics with scripted rounds and no JVM.
  *
  * Protocol:
  *   1. Fork `runs` rounds, each a fresh child JVM (the `fork` callback owns
  *      process plumbing; this driver never touches a process).
  *   2. BROKEN rounds re-fork first: a round whose failure-key set has
  *      EXTRA entries vs the all-round intersection broke transiently (a
  *      failure present in EVERY round is the build, not the box — re-forking
  *      it would burn the budget for an identical result). Broken rounds can
  *      post near-zero totals, so they must leave the set before the total
  *      comparison means anything.
  *   3. DISTURBED rounds next: total > `factor` x the CLEAN minimum (the
  *      baseline only trusts rounds whose failure set equals the
  *      intersection — a broken round's tiny total must not make every
  *      healthy round look disturbed).
  *   4. Replacement is IN PLACE, up to `budget` re-forks total; the `fork`
  *      callback receives the SLOT index so index-dependent behavior (Bench
  *      runs its sweep/exec pass in slot 0) survives replacement.
  *   5. On an exhausted budget both residues are surfaced: a still-disturbed
  *      total (recorded as-is — the box may be genuinely busy) and a still-
  *      broken round (flagged `residualBroken` — its failed rows' near-zero
  *      times contaminate mins/medians, so the RECORD must say so, not just
  *      stderr).
  */
private[graft] object ForkedRounds {

  /** @param rounds          the kept rounds, in slot order
    * @param discardedTotals totals of discarded rounds, in discard order
    *                        (`rounds_discarded` / `discarded_totals` in the
    *                        emitted records)
    * @param residualBroken  a broken round survived the budget
    * @param settled         the guard converged (false = budget exhausted)
    */
  final case class Outcome[R](
      rounds: IndexedSeq[R],
      discardedTotals: Seq[Double],
      residualBroken: Boolean,
      settled: Boolean)

  /** Run the guard loop over `runs` forked rounds.
    *
    * @param tag        stderr log prefix ("bench")
    * @param brokenNoun what a failure key is called in logs ("query errors")
    * @param fork       (slot index, label) => completed round; labels are
    *                   "0".."N-1" then "&lt;slot&gt;-refork&lt;k&gt;"
    * @param total      a round's total seconds (the disturbance signal)
    * @param failedKeys a round's failure-key set (the broken signal)
    * @param factor     disturbance threshold (default: env-tunable
    *                   [[Bench.disturbFactor]]); explicit in specs
    * @param budget     max re-forks (default: env-tunable
    *                   [[Bench.maxReforks]]); explicit in specs
    */
  def run[R](
      runs: Int,
      tag: String,
      brokenNoun: String,
      fork: (Int, String) => R,
      total: R => Double,
      failedKeys: R => Set[String],
      factor: Double = Bench.disturbFactor,
      budget: Int = Bench.maxReforks): Outcome[R] = {
    import Bench.num // one Locale.ROOT formatter, not a fourth copy
    val rounds = scala.collection.mutable.ArrayBuffer.tabulate(runs)(r => fork(r, r.toString))
    val discardedTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    var reforks = 0
    // a single round has nothing to settle against — the guard is disabled
    var settled = runs <= 1
    def commonFails: Set[String] = rounds.map(failedKeys).reduce(_ intersect _)
    def baseline: Double = {
      val common = commonFails
      val clean = rounds.filter(failedKeys(_) == common)
      (if (clean.nonEmpty) clean else rounds).map(total).min
    }
    while (!settled && reforks < budget && runs > 1) {
      val common = commonFails
      val broken = rounds.indexWhere(failedKeys(_) != common)
      val totals = rounds.map(total)
      val worst = totals.indices.maxBy(totals)
      val target =
        if (broken >= 0) Some(broken -> s"extra $brokenNoun vs the cleanest round")
        else if (totals(worst) > baseline * factor)
          Some(worst -> (s"total ${num(totals(worst), 1)} s > ${num(factor, 2)}x " +
            s"clean min ${num(baseline, 1)} s"))
        else None
      target match {
        case Some((idx, why)) =>
          System.err.println(
            s"[$tag] round $idx disturbed ($why) — re-forking (${reforks + 1}/$budget)")
          discardedTotals += totals(idx)
          reforks += 1
          rounds(idx) = fork(idx, s"$idx-refork$reforks")
        case None => settled = true
      }
    }
    val residualBroken = runs > 1 && rounds.exists(failedKeys(_) != commonFails)
    if (!settled) {
      // re-check: the LAST replacement may have settled the set right as the
      // budget ran out — only genuine residues count as unsettled
      val stillDisturbed = rounds.map(total).max > baseline * factor
      if (stillDisturbed)
        System.err.println(s"[$tag] re-fork budget exhausted ($budget); " +
          "remaining spread is recorded as-is — box may be genuinely busy")
      if (residualBroken)
        System.err.println(s"[$tag] re-fork budget exhausted ($budget) with a " +
          s"BROKEN round still in the set (extra $brokenNoun vs the intersection) — " +
          "its failed rows' near-zero times contaminate mins/medians; " +
          "the record carries residual_broken_round:true")
      settled = !stillDisturbed && !residualBroken
    }
    Outcome(rounds.toIndexedSeq, discardedTotals.toSeq, residualBroken, settled)
  }

  /** @param rounds       the kept rounds, slot 0 possibly replaced
    * @param reforks      slot-0 re-forks run (`exec_reforks`)
    * @param discardedExec exec totals of the passes thrown away, each once:
    *                     a replaced slot-0 pass and every rejected
    *                     replacement (`exec_discarded_totals`)
    */
  final case class ExecOutcome[R](
      rounds: IndexedSeq[R], reforks: Int, discardedExec: Seq[Double])

  /** Bench's exec-pass guard: while slot 0's exec total (planning excluded)
    * exceeds `factor` x the minimum round total (planning included), which
    * no clean pass can, re-fork slot 0. A replacement replaces slot 0 only
    * when `keepable(replacement, cleanMin)`; otherwise it is discarded and
    * slot 0 stays. Slot 0's pass is recorded as discarded once, when it is
    * replaced; a slot 0 that outlives the budget is the recorded exec pass,
    * so it is not listed as discarded.
    *
    * @param exec a round's exec total, `None` when it ran no exec pass
    */
  def guardExec[R](
      rounds: IndexedSeq[R],
      tag: String,
      fork: String => R,
      total: R => Double,
      exec: R => Option[Double],
      keepable: (R, Double) => Boolean,
      factor: Double = Bench.disturbFactor,
      budget: Int = Bench.maxReforks): ExecOutcome[R] = {
    import Bench.num
    var kept = rounds
    var reforks = 0
    val discarded = scala.collection.mutable.ArrayBuffer.empty[Double]
    def cleanMin: Double = kept.map(total).min
    def disturbed: Option[Double] = exec(kept.head).filter(_ > factor * cleanMin)
    while (disturbed.isDefined && reforks < budget) {
      val slot0 = disturbed.get
      System.err.println(
        s"[$tag] round 0 EXEC pass disturbed (exec ${num(slot0, 1)} s > " +
          s"${num(factor, 2)}x clean round min ${num(cleanMin, 1)} s) — " +
          s"re-forking slot 0 (${reforks + 1}/$budget)")
      reforks += 1
      val repl = fork(s"0-execrefork$reforks")
      if (keepable(repl, cleanMin)) {
        discarded += slot0
        kept = kept.updated(0, repl)
      } else {
        discarded ++= exec(repl)
        System.err.println(
          s"[$tag] exec re-fork $reforks not keepable (total ${num(total(repl), 1)} s) — discarded")
      }
    }
    if (disturbed.isDefined)
      System.err.println(s"[$tag] exec re-fork budget exhausted ($budget); " +
        "exec pass recorded as-is — box may be genuinely busy")
    ExecOutcome(kept, reforks, discarded.toSeq)
  }
}
