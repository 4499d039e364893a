package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExecBase

/** Plan linter: prints per-query physical-plan red flags — cartesian products,
  * broadcast-nested-loop joins, exchange (shuffle) counts, and windows computed
  * on a SINGLE partition (an empty window partitionBy collapses the whole input
  * onto one executor — the classic silent scale-killer; every unbounded frame
  * must be banded/partitioned first) — so plan regressions show up as a diff.
  *
  * Three ENFORCED contracts (nonzero exit), not just prints:
  *
  * 1. BNLJ/cartesian allowlist: `src/main/resources/planlint-sanctions.txt`
  *    names every query sanctioned to carry a BNLJ/CARTESIAN flag (each a
  *    bounded scalar-cross / probe-set / lattice shape — rationale in
  *    PLANS.md). Unsanctioned flag OR stale sanction fails. Flags are
  *    collected from the final inspected plan AND from every plan executed
  *    DURING query construction (eager localCheckpoint / bounded collect
  *    legs, captured via a SQL-execution listener) — checkpoint placement
  *    can no longer hide a cross join from the lint.
  * 2. `1partWin` zero-flag contract: any limit-free window whose input is a
  *    single partition fails — including windows partitioned on a FOLDABLE
  *    expression (partitionBy(lit(1)) reports constant HashPartitioning, not
  *    SinglePartition, but still lands every row on one effective partition).
  * 3. Shuffle budget: `src/main/resources/planlint-shuffles.txt` pins each
  *    query's final-plan exchange count at the canonical lint SF. An increase
  *    (a rewrite that doubles exchanges on a headline query) fails; so does a
  *    decrease or a missing/stale entry (anti-rot — the budget stays exact).
  *    Regenerate after intentional plan changes with --write-shuffle-budget
  *    and review the git diff.
  *
  * Run: runMain graft.tools.PlanLint [sfDir] [nameRegex] [--write-shuffle-budget] */
object PlanLint {

  val ShuffleBudgetPath = "src/main/resources/planlint-shuffles.txt"

  private def loadSanctions(resource: String): Set[String] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"$resource missing from resources")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
    finally in.close()
  }

  /** Query names sanctioned to carry a BNLJ/CARTESIAN flag, from the
    * checked-in resource (comment/blank lines stripped). */
  def sanctionedBnlj(): Set[String] = loadSanctions("/planlint-sanctions.txt")

  /** Query names sanctioned to carry a 1partWin flag — each a global window
    * over a deliberately bounded frame (band spine / grain rollup / keyed
    * rollup scalar), never the fact table. Same anti-rot contract as BNLJ. */
  def sanctionedWin1p(): Set[String] =
    loadSanctions("/planlint-1partwin-sanctions.txt")

  /** Salted-join allowlist (VERDICT r12 ask #8). The measured AQE-vs-salting
    * adjudication (PLANS.md "AQE-vs-manual-salting") made AQE skew handling
    * the BATCH default; `SkewJoin.salted` remains only as the documented
    * fallback for contexts AQE cannot reach (Structured Streaming joins) plus
    * the one demo query that exists to exercise the operator. Any other plan
    * carrying the salt column means a batch query silently routed through the
    * fallback — machine-refused here so the dead path cannot quietly revive. */
  val sanctionedSalted: Set[String] = Set("join_skew_salted")

  /** The salt column SkewJoin injects (kept in sync by SkewJoinSpec). */
  val SaltColName = "__graft_salt"

  /** Per-query shuffle budget (name -> exchange count) plus the canonical
    * sfDir it was recorded at. Read from the working-tree file (PlanLint runs
    * from the repo root) so --write-shuffle-budget takes effect without a
    * recompile; falls back to the compiled resource. */
  def shuffleBudget(): (String, Map[String, Int]) = {
    val p = java.nio.file.Paths.get(ShuffleBudgetPath)
    val lines: Seq[String] =
      if (java.nio.file.Files.exists(p))
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toSeq
      else {
        val in = getClass.getResourceAsStream("/planlint-shuffles.txt")
        if (in == null) Seq.empty
        else try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
        finally in.close()
      }
    val sf = lines.collectFirst { case l if l.startsWith("# sf=") => l.drop(5).trim }
      .getOrElse("")
    val m = lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split("\\s+") match {
          case Array(n, c) => c.toIntOption.map(n -> _)
          case _ => None
        }
      }.toMap
    (sf, m)
  }

  /** Window operators whose UNBOUNDED input arrives as one effective
    * partition. Counted on the plan TREE (not text): a WindowExecBase whose
    * direct child reports SinglePartition output partitioning — OR whose
    * partition spec is entirely foldable (empty, or constants like lit(1)):
    * hash-partitioning on a constant routes every row to one partition while
    * reporting HashPartitioning, silently evading the SinglePartition check.
    * A window whose input subtree contains a limit (GlobalLimit /
    * TakeOrderedAndProject / CollectLimit) is row-bounded by construction —
    * ranking a top-k frame is the sanctioned two-phase top-k shape, not a
    * scale flaw — so only limit-free single-partition windows flag. */
  def singlePartitionWindows(plan: SparkPlan): Int = {
    val root = plan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    def limited(p: SparkPlan): Boolean = p.exists {
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.CollectLimitExec => true
      case _ => false
    }
    def effectivelySingle(w: WindowExecBase): Boolean =
      w.partitionSpec.forall(_.foldable) ||
        (w.child.outputPartitioning match {
          case SinglePartition => true
          case h: HashPartitioning => h.expressions.forall(_.foldable)
          case _ => false
        })
    root.collect {
      case w: WindowExecBase if effectivelySingle(w) && !limited(w.child) => 1
    }.sum
  }

  def main(args: Array[String]): Unit = {
    val writeBudget = args.contains("--write-shuffle-budget")
    val pos = args.filterNot(_.startsWith("--"))
    // Default aligned with the canonical budget SF so a bare `runMain
    // graft.tools.PlanLint` enforces the shuffle budget (a default run that
    // silently skipped the budget gate was an audit finding).
    val sfDir = pos.headOption.getOrElse("/root/testdata/sf0.001")
    // optional second arg: regex over query names (fast local iteration; the
    // committed PLANS.md snapshot is always the full, unfiltered run)
    val nameFilter = pos.lift(1).map(_.r)
    val spark = graft.Harness.session("local[8]", 8)
    // Construction-time plan capture: eager localCheckpoint()/collect() legs
    // execute while the query function is still BUILDING its result frame, so
    // their plans never appear in the final executedPlan (lineage truncation).
    // Every SQL execution posts its physical-plan description to the listener
    // bus; draining the bus after each query attributes the captured plans.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart =>
          captured.add(e.physicalPlanDescription)
        case e: SparkListenerSQLAdaptiveExecutionUpdate =>
          captured.add(e.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val sanctioned = sanctionedBnlj()
    val winSanctioned = sanctionedWin1p()
    val (budgetSf, budget) = shuffleBudget()
    val bnljFlagged = scala.collection.mutable.Set[String]()
    val win1pFlagged = scala.collection.mutable.Set[String]()
    val saltFlagged = scala.collection.mutable.Set[String]()
    val planErrors = scala.collection.mutable.Set[String]()
    val ran = scala.collection.mutable.Set[String]()
    val shuffleCounts = scala.collection.mutable.Map[String, Int]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => nameFilter.forall(_.matches(name)) }
      .foreach { case (name, fn) =>
      ran += name
      try {
        org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
        captured.clear()
        val exec = fn(spark, sfDir).queryExecution.executedPlan
        org.apache.spark.graft.BusFlush.drain(spark.sparkContext)
        val ctorPlans = {
          val b = Seq.newBuilder[String]
          var s = captured.poll()
          while (s != null) { b += s; s = captured.poll() }
          b.result()
        }
        val plan = exec.toString
        def cnt(txts: Seq[String], needle: String): Int =
          txts.map(_.linesIterator.count(_.contains(needle))).sum
        val cart = cnt(Seq(plan), "CartesianProduct")
        val bnlj = cnt(Seq(plan), "BroadcastNestedLoopJoin")
        // checkpointed legs: any cross/BNLJ that executed during construction
        val ctorCross = cnt(ctorPlans, "CartesianProduct") +
          cnt(ctorPlans, "BroadcastNestedLoopJoin")
        val shuffles = cnt(Seq(plan), "Exchange hashpartitioning") +
          cnt(Seq(plan), "Exchange rangepartitioning")
        val bcasts = cnt(Seq(plan), "BroadcastExchange")
        val win1p = singlePartitionWindows(exec)
        // salted-join detection: the salt column in the FINAL plan or any
        // construction-time plan (same capture rules as the cross check)
        val salted =
          (if (plan.contains(SaltColName)) 1 else 0) +
            ctorPlans.count(_.contains(SaltColName))
        shuffleCounts(name) = shuffles
        if (cart + bnlj + ctorCross > 0) bnljFlagged += name
        if (win1p > 0) win1pFlagged += name
        if (salted > 0) saltFlagged += name
        val flags = (if (cart > 0) s" CARTESIAN=$cart" else "") +
          (if (bnlj > 0) s" BNLJ=$bnlj" else "") +
          (if (ctorCross > 0) s" CTOR-CROSS=$ctorCross" else "") +
          (if (win1p > 0) s" 1partWin=$win1p" else "") +
          (if (salted > 0) s" SALTED=$salted" else "")
        println(f"LINT $name%-28s shuffles=$shuffles%-3d bcast=$bcasts%-3d$flags")
      } catch { case e: Throwable =>
        planErrors += name
        println(s"LINT $name PLAN-ERROR ${e.getMessage}")
      }
    }
    spark.stop()

    if (writeBudget) {
      // A FILTERED run merges into the existing budget instead of replacing
      // it — otherwise a fast-iteration `PlanLint <sf> <regex>
      // --write-shuffle-budget` silently drops every non-matching query's
      // budget line and the next full `sbt test` fails the
      // registered==budgeted contract (this bit wave 14).
      if (nameFilter.isDefined && budgetSf != sfDir) {
        System.err.println(s"REFUSING filtered budget write: run sf=$sfDir " +
          s"!= existing budget sf=$budgetSf (a merge would mix SFs)")
        sys.exit(2)
      }
      val merged =
        if (nameFilter.isDefined) budget ++ shuffleCounts else shuffleCounts
      val body = merged.toSeq.sortBy(_._1)
        .map { case (n, c) => s"$n $c" }.mkString("\n")
      val hdr = "# Per-query final-plan exchange counts at the canonical lint " +
        "SF.\n# Regenerate with: runMain graft.tools.PlanLint " + sfDir +
        " --write-shuffle-budget\n# Review the git diff: an INCREASE is a " +
        "plan regression unless justified.\n# sf=" + sfDir + "\n"
      java.nio.file.Files.write(java.nio.file.Paths.get(ShuffleBudgetPath),
        (hdr + body + "\n").getBytes("UTF-8"))
      println(s"wrote ${merged.size} budgets to $ShuffleBudgetPath" +
        (if (nameFilter.isDefined)
           s" (${shuffleCounts.size} refreshed, filtered-run merge)"
         else ""))
    }

    if (!writeBudget && budgetSf != sfDir)
      println(s"NOTICE shuffle-budget check SKIPPED: run sf=$sfDir != " +
        s"budget sf=$budgetSf (the budget gate only enforces at its " +
        "canonical SF — rerun at " + budgetSf + " for full enforcement)")
    val failures = violations(bnljFlagged.toSet, win1pFlagged.toSet,
      planErrors.toSet, sanctioned, winSanctioned, ran.toSet,
      fullRun = nameFilter.isEmpty) ++
      saltViolations(saltFlagged.toSet, ran.toSet,
        fullRun = nameFilter.isEmpty) ++
      (if (writeBudget) Seq.empty
       else shuffleViolations(shuffleCounts.toMap, budget,
         budgetMatchesRun = budgetSf == sfDir, fullRun = nameFilter.isEmpty))
    if (failures.nonEmpty) {
      failures.foreach(f => println(s"FAIL $f"))
      println(s"PLANLINT FAIL (${failures.size} violation(s))")
      sys.exit(1)
    } else println("PLANLINT OK")
  }

  /** The enforcement contract, as a pure function so the spec can drive it.
    * Unsanctioned flags (BNLJ and 1partWin each against their own allowlist)
    * and plan errors fail on any run; stale sanctions are only fully decidable
    * on a FULL run (under a name filter, only sanctioned queries that actually
    * ran and did not flag count as stale — an unmatched sanction is merely
    * unobserved). */
  def violations(bnljFlagged: Set[String], win1pFlagged: Set[String],
      planErrors: Set[String], sanctioned: Set[String],
      winSanctioned: Set[String], ran: Set[String],
      fullRun: Boolean): Seq[String] = {
    val unsanctioned = (bnljFlagged -- sanctioned).toSeq.sorted
    val staleBase = if (fullRun) sanctioned else sanctioned.intersect(ran)
    val stale = (staleBase -- bnljFlagged).toSeq.sorted
    val winUnsanctioned = (win1pFlagged -- winSanctioned).toSeq.sorted
    val winStaleBase = if (fullRun) winSanctioned else winSanctioned.intersect(ran)
    val winStale = (winStaleBase -- win1pFlagged).toSeq.sorted
    unsanctioned.map(n => s"UNSANCTIONED-BNLJ $n (add a bounded-shape " +
      "rationale to PLANS.md + planlint-sanctions.txt, or fix the plan)") ++
    stale.map(n => s"STALE-SANCTION $n (no longer flags — remove from " +
      "planlint-sanctions.txt so the allowlist can't rot)") ++
    winUnsanctioned.map(n => s"1PARTWIN $n (band/partition the window, bound " +
      "its input with a limit, or add a bounded-frame rationale to PLANS.md " +
      "+ planlint-1partwin-sanctions.txt)") ++
    winStale.map(n => s"STALE-WIN-SANCTION $n (no longer flags — remove from " +
      "planlint-1partwin-sanctions.txt so the allowlist can't rot)") ++
    planErrors.toSeq.sorted.map(n => s"PLAN-ERROR $n")
  }

  /** Salted-join contract (pure, spec-drivable): any plan carrying the salt
    * column outside [[sanctionedSalted]] fails (AQE is the batch skew
    * default per the PLANS.md adjudication); a sanctioned query that no
    * longer salts is a stale sanction — same anti-rot rule as the others. */
  def saltViolations(saltFlagged: Set[String], ran: Set[String],
      fullRun: Boolean): Seq[String] = {
    val unsanctioned = (saltFlagged -- sanctionedSalted).toSeq.sorted
    val staleBase =
      if (fullRun) sanctionedSalted else sanctionedSalted.intersect(ran)
    val stale = (staleBase -- saltFlagged).toSeq.sorted
    unsanctioned.map(n => s"UNSANCTIONED-SALTED-JOIN $n (AQE handles batch " +
      "skew by default — PLANS.md AQE-vs-manual-salting adjudication; use a " +
      "plain equi-join, or add the query to PlanLint.sanctionedSalted with " +
      "a rationale)") ++
    stale.map(n => s"STALE-SALT-SANCTION $n (no longer salts — remove from " +
      "PlanLint.sanctionedSalted so the allowlist can't rot)")
  }

  /** Shuffle-budget contract (pure, spec-drivable). Only enforced when the
    * run is full AND at the budget's canonical SF (join strategies — hence
    * exchange counts — legitimately differ across SFs via size-based
    * broadcast thresholds). Increase = regression; decrease or set drift =
    * stale budget (the checked-in file must stay exact, same anti-rot rule
    * as the sanction list). Per-query over/under judgments apply on filtered
    * runs too (fast iteration); set-drift (untracked/orphan) only on full
    * runs, where the name sets are fully observable. */
  def shuffleViolations(actual: Map[String, Int], budget: Map[String, Int],
      budgetMatchesRun: Boolean, fullRun: Boolean = true): Seq[String] = {
    if (!budgetMatchesRun) Seq.empty
    else if (budget.isEmpty)
      Seq("SHUFFLE-BUDGET-MISSING (run with --write-shuffle-budget at the " +
        "canonical SF and commit " + ShuffleBudgetPath + ")")
    else {
      val over = actual.filter { case (n, c) => budget.get(n).exists(c > _) }
        .toSeq.sortBy(_._1).map { case (n, c) =>
          s"SHUFFLE-BUDGET-EXCEEDED $n ($c > budget ${budget(n)} — a rewrite " +
            "added exchanges; fix the plan or regenerate the budget and " +
            "justify the diff)"
        }
      val under = actual.filter { case (n, c) => budget.get(n).exists(c < _) }
        .toSeq.sortBy(_._1).map { case (n, c) =>
          s"SHUFFLE-BUDGET-STALE $n ($c < budget ${budget(n)} — plan improved; " +
            "regenerate the budget so the floor can't rot)"
        }
      val missing =
        if (!fullRun) Seq.empty
        else (actual.keySet -- budget.keySet).toSeq.sorted
          .map(n => s"SHUFFLE-BUDGET-UNTRACKED $n (new query — regenerate the budget)")
      val gone =
        if (!fullRun) Seq.empty
        else (budget.keySet -- actual.keySet).toSeq.sorted
          .map(n => s"SHUFFLE-BUDGET-ORPHAN $n (budgeted query no longer " +
            "registered — regenerate the budget)")
      over ++ under ++ missing ++ gone
    }
  }
}
