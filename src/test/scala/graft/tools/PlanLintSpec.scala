package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The sanction-list enforcement contract: unsanctioned BNLJ and 1partWin
  * flags fail against their own allowlists, stale sanctions fail (in both
  * directions neither list can rot), the shuffle budget pins exchange counts
  * exactly, and a filtered run only judges what ran. */
class PlanLintSpec extends AnyFunSuite {

  private val sanctioned = Set("q_scalar_cross", "q_probe_cross")
  private val winSanctioned = Set("q_band_spine")

  private def v(bnljFlagged: Set[String] = Set.empty,
      win1pFlagged: Set[String] = Set.empty,
      planErrors: Set[String] = Set.empty,
      bnljSanctioned: Set[String] = sanctioned,
      win: Set[String] = winSanctioned,
      ran: Set[String] = Set.empty, fullRun: Boolean = true) =
    PlanLint.violations(bnljFlagged, win1pFlagged, planErrors,
      bnljSanctioned, win, ran, fullRun)

  test("sanctions resources load, are non-empty, and have no junk lines") {
    for (s <- Seq(PlanLint.sanctionedBnlj(), PlanLint.sanctionedWin1p())) {
      assert(s.nonEmpty)
      assert(s.forall(n => n.matches("[a-z0-9_]+")), s"bad entries: $s")
    }
  }

  test("every sanctioned name is a registered query (rename/typo guard)") {
    // a renamed query (fn_uuid5_mint -> fn_uuid3_mint happened once) would
    // otherwise leave a phantom sanction that only a full lint run catches
    val registered = graft.SparkEntry.queries.keySet
    val phantom =
      (PlanLint.sanctionedBnlj() ++ PlanLint.sanctionedWin1p()) -- registered
    assert(phantom.isEmpty, s"sanctioned but not registered: $phantom")
  }

  test("every shuffle-budget name is a registered query, and vice versa") {
    val registered = graft.SparkEntry.queries.keySet
    val (_, budget) = PlanLint.shuffleBudget()
    assert(budget.nonEmpty, "shuffle budget file empty/missing")
    // no line is dropped as malformed: each is `name shuffles exchanges`
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      PlanLint.ShuffleBudgetPath)).toArray.map(_.toString)
      .filter(l => l.trim.nonEmpty && !l.startsWith("#"))
    assert(lines.size == budget.size, "budget lines that are not `name shuffles exchanges`")
    assert((budget.keySet -- registered).isEmpty,
      s"budgeted but not registered: ${budget.keySet -- registered}")
    assert((registered -- budget.keySet).isEmpty,
      s"registered but unbudgeted (regenerate with --write-shuffle-budget): " +
        s"${registered -- budget.keySet}")
  }

  test("clean full run → no violations") {
    assert(v(bnljFlagged = sanctioned, win1pFlagged = winSanctioned,
      ran = sanctioned ++ winSanctioned + "q_ok").isEmpty)
  }

  test("an unsanctioned BNLJ flag fails even when sanctioned ones are present") {
    val out = v(bnljFlagged = sanctioned + "q_sneaky_cross",
      win1pFlagged = winSanctioned,
      ran = sanctioned ++ winSanctioned + "q_sneaky_cross")
    assert(out.exists(_.startsWith("UNSANCTIONED-BNLJ q_sneaky_cross")))
    assert(out.size == 1)
  }

  test("a sanctioned query that no longer flags is stale on a full run") {
    val out = v(bnljFlagged = Set("q_scalar_cross"),
      win1pFlagged = winSanctioned, ran = sanctioned ++ winSanctioned)
    assert(out.exists(_.startsWith("STALE-SANCTION q_probe_cross")))
    assert(out.size == 1)
  }

  test("an unsanctioned 1partWin flag fails; a stale win sanction fails") {
    val out = v(bnljFlagged = sanctioned,
      win1pFlagged = Set("q_global_ntile"),
      ran = sanctioned ++ winSanctioned + "q_global_ntile")
    assert(out.exists(_.startsWith("1PARTWIN q_global_ntile")))
    assert(out.exists(_.startsWith("STALE-WIN-SANCTION q_band_spine")))
    assert(out.size == 2)
  }

  test("filtered run: an unmatched sanction is unobserved, not stale") {
    // Only q_scalar_cross ran (and flagged); q_probe_cross didn't run.
    assert(v(bnljFlagged = Set("q_scalar_cross"),
      ran = Set("q_scalar_cross"), fullRun = false).isEmpty)
    // But a sanctioned query that RAN without flagging is stale even filtered.
    val out = v(ran = Set("q_probe_cross", "q_band_spine"), fullRun = false)
    assert(out.exists(_.startsWith("STALE-SANCTION q_probe_cross")))
    assert(out.exists(_.startsWith("STALE-WIN-SANCTION q_band_spine")))
  }

  test("plan errors always fail") {
    val out = v(planErrors = Set("q_broken"), bnljSanctioned = Set.empty,
      win = Set.empty, fullRun = false)
    assert(out.exists(_.startsWith("PLAN-ERROR q_broken")))
  }

  test("shuffle budget: increase, decrease, set drift each fail; exact passes") {
    import PlanLint.Counts
    val budget = Map("q1" -> Counts(3, 4), "q2" -> Counts(0, 1))
    def judge(actual: (String, Counts)*) =
      PlanLint.shuffleViolations(actual.toMap, budget, budgetMatchesRun = true)
    assert(judge("q1" -> Counts(3, 4), "q2" -> Counts(0, 1)).isEmpty)
    // each column is judged on its own, in both directions
    for ((c, want) <- Seq(
        Counts(4, 4) -> "SHUFFLE-BUDGET-EXCEEDED q1 (shuffles=4 > budget 3",
        Counts(3, 5) -> "SHUFFLE-BUDGET-EXCEEDED q1 (exchanges=5 > budget 4",
        // a hash exchange swapped for a round-robin one: the total holds
        Counts(2, 4) -> "SHUFFLE-BUDGET-STALE q1 (shuffles=2 < budget 3",
        Counts(3, 3) -> "SHUFFLE-BUDGET-STALE q1 (exchanges=3 < budget 4")) {
      val out = judge("q1" -> c, "q2" -> Counts(0, 1))
      assert(out.size == 1 && out.head.startsWith(want), out)
    }
    val drift = judge("q1" -> Counts(3, 4), "q3" -> Counts(1, 1))
    assert(drift.exists(_.startsWith("SHUFFLE-BUDGET-UNTRACKED q3")))
    assert(drift.exists(_.startsWith("SHUFFLE-BUDGET-ORPHAN q2")))
    // other-SF runs don't judge the budget (join strategies differ)
    assert(PlanLint.shuffleViolations(Map("q1" -> Counts(9, 9)), budget,
      budgetMatchesRun = false).isEmpty)
    // filtered runs still judge over/under for what ran, but not set drift
    val filtered = PlanLint.shuffleViolations(Map("q1" -> Counts(3, 6)), budget,
      budgetMatchesRun = true, fullRun = false)
    assert(filtered.size == 1 && filtered.head.startsWith(
      "SHUFFLE-BUDGET-EXCEEDED q1 (exchanges=6"), filtered)
  }

  test("a filtered budget write keeps both columns of every query it did not run") {
    import PlanLint.Counts
    val sf = "/data/sf0.001"
    val budget = Map("q1" -> Counts(3, 4), "q2" -> Counts(0, 1))
    val filtered = PlanLint.budgetText(sf, budget, Map("q1" -> Counts(2, 5)), filtered = true)
    assert(PlanLint.parseBudget(filtered.linesIterator.toSeq) ==
      (sf, Map("q1" -> Counts(2, 5), "q2" -> Counts(0, 1))))
    assert(filtered.linesIterator.filterNot(_.startsWith("#")).toSeq == Seq("q1 2 5", "q2 0 1"))
    // a full run replaces the budget: a query it no longer has is dropped
    val full = PlanLint.budgetText(sf, budget, Map("q1" -> Counts(2, 5)), filtered = false)
    assert(PlanLint.parseBudget(full.linesIterator.toSeq) == (sf, Map("q1" -> Counts(2, 5))))
  }

  test("exchanges counts every final-plan exchange kind and every built one, not reuses") {
    val finalPlan = Seq(
      "AdaptiveSparkPlan isFinalPlan=false",
      "+- Exchange hashpartitioning(k#1, 8), ENSURE_REQUIREMENTS, [plan_id=1]",
      "   +- Exchange rangepartitioning(k#1 ASC NULLS FIRST, 8), ENSURE_REQUIREMENTS",
      "      +- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=3]",
      "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=4]",
      "            +- ReusedExchange [k#2], Exchange hashpartitioning(k#2, 8)",
      "               +- BroadcastExchange HashedRelationBroadcastMode(List(k#1))"
    ).mkString("\n")
    val built = Seq(
      Seq("== Physical Plan ==", "(3) Exchange", "(5) BroadcastExchange",
        "(7) ReusedExchange [Reuses operator id: 3]", "(9) Exchange").mkString("\n"),
      "(2) Exchange")
    assert(PlanLint.exchanges(finalPlan, Seq.empty) == 4)
    assert(PlanLint.exchanges("", built) == 3)
    assert(PlanLint.exchanges(finalPlan, built) == 7)
  }
}
