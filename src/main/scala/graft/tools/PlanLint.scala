package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
  *    legs, captured by [[capture]]) — checkpoint placement can no longer
  *    hide a cross join from the lint.
  * 2. `1partWin` zero-flag contract: any limit-free window whose input is a
  *    single partition fails — including windows partitioned on a FOLDABLE
  *    expression (partitionBy(lit(1)) reports constant HashPartitioning, not
  *    SinglePartition, but still lands every row on one effective partition).
  * 3. Exchange budget: `src/main/resources/planlint-shuffles.txt` pins two
  *    counts per query at the canonical lint SF: `shuffles=` (the final
  *    plan's hash and range exchanges) and `exchanges=` (every exchange the
  *    query runs, [[exchanges]]). An increase in either fails; so does a
  *    decrease or a missing/stale entry (anti-rot — the budget stays exact).
  *    Regenerate after intentional plan changes with --write-shuffle-budget
  *    and review the git diff.
  *
  * Run: runMain graft.tools.PlanLint [sfDir] [nameRegex] [--write-shuffle-budget] */
object PlanLint {

  val ShuffleBudgetPath = "src/main/resources/planlint-shuffles.txt"

  private def resourceLines(resource: String): Option[Seq[String]] =
    Option(getClass.getResourceAsStream(resource)).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }

  private def loadSanctions(resource: String): Set[String] =
    resourceLines(resource).getOrElse(sys.error(s"$resource missing from resources"))
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet

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

  /** One query's budgeted counts: `shuffles` is the final plan's hash and
    * range exchanges, `exchanges` every exchange it runs ([[exchanges]]). */
  final case class Counts(shuffles: Int, exchanges: Int)

  /** Per-query exchange budget plus the canonical sfDir it was recorded at.
    * Read from the working-tree file (PlanLint runs from the repo root) so
    * --write-shuffle-budget takes effect without a recompile; falls back to
    * the compiled resource. */
  def shuffleBudget(): (String, Map[String, Counts]) = {
    val p = java.nio.file.Paths.get(ShuffleBudgetPath)
    parseBudget(
      if (java.nio.file.Files.exists(p)) java.nio.file.Files.readString(p).linesIterator.toList
      else resourceLines("/planlint-shuffles.txt").getOrElse(Nil))
  }

  private val BudgetLine = raw"(\S+)\s+(\d+)\s+(\d+)".r

  /** The budget file's (sfDir, name -> counts); see [[budgetText]]. */
  def parseBudget(lines: Seq[String]): (String, Map[String, Counts]) = (
    lines.collectFirst { case l if l.startsWith("# sf=") => l.drop(5).trim }.getOrElse(""),
    lines.map(_.trim).collect { case BudgetLine(n, s, e) => n -> Counts(s.toInt, e.toInt) }.toMap)

  /** The budget file for counts recorded at `sfDir`: one `name shuffles
    * exchanges` line per query. A FILTERED run merges into the existing
    * budget, both columns of every other query kept, instead of replacing
    * it — otherwise a fast-iteration `PlanLint <sf> <regex>
    * --write-shuffle-budget` silently drops every non-matching query's
    * budget line and the next full `sbt test` fails the
    * registered==budgeted contract (this bit wave 14). */
  def budgetText(sfDir: String, budget: Map[String, Counts],
      counts: Map[String, Counts], filtered: Boolean): String = {
    val merged = if (filtered) budget ++ counts else counts
    (Seq(
      "# Per-query exchange counts at the canonical lint SF: name, shuffles= (final-plan hash",
      "# and range exchanges), exchanges= (every exchange the query runs, PlanLint.exchanges).",
      s"# Regenerate with: runMain graft.tools.PlanLint $sfDir --write-shuffle-budget",
      "# Review the git diff: an INCREASE is a plan regression unless justified.",
      s"# sf=$sfDir") ++
      merged.toSeq.sortBy(_._1).map { case (n, c) => s"$n ${c.shuffles} ${c.exchanges}" })
      .mkString("", "\n", "\n")
  }

  /** What `body` ran: its result, the Spark jobs it started and the physical
    * plan of each SQL execution it started. */
  final case class Captured[T](result: T, jobs: Int, plans: Seq[String])

  /** Runs `body` under a fresh job group, so work other threads start is not
    * counted. Each SQL execution is captured once, from its start event; the
    * adaptive re-plan updates are not, since how many of them arrive depends
    * on stage timing. Eager localCheckpoint()/collect() legs execute while a
    * query is still BUILDING its result frame, so their plans never appear in
    * the final executedPlan (lineage truncation); this is where they are seen. */
  def capture[T](spark: SparkSession)(body: => T): Captured[T] = {
    val sc = spark.sparkContext
    val group = s"planlint-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case e: SparkListenerSQLExecutionStart if e.jobGroupId.contains(group) =>
          plans.add(e.physicalPlanDescription)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      org.apache.spark.graft.BusFlush.drain(sc)
      Captured(result, jobs.get(), plans.toArray(Array.empty[String]).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private val FinalExchange =
    "Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)".r
  /** An exchange node's header in the formatted plan a SQL execution posts. */
  private val FormattedExchange = raw"^\(\d+\) Exchange\s*$$".r

  /** Every shuffle exchange a query runs: the hash, range, round-robin and
    * single-partition exchanges of its final plan (`executedPlan.toString`;
    * reused ones excluded), plus every `Exchange` in the formatted plans its
    * construction executed ([[capture]]). Broadcasts are not counted. */
  def exchanges(finalPlan: String, built: Seq[String]): Int =
    finalPlan.linesIterator.count(l =>
      !l.contains("ReusedExchange") && FinalExchange.findFirstIn(l).nonEmpty) +
      built.map(_.linesIterator.count(FormattedExchange.findFirstIn(_).nonEmpty)).sum

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
    // each run builds the queries' scratch fixtures afresh: a query that
    // builds one only when it is missing would otherwise count the build's
    // exchanges on the first run and not after
    val scratch = java.nio.file.Files.createTempDirectory("planlint-scratch").toFile
    graft.queries.Sinks.freshDir = Some(scratch.getPath)
    val spark = graft.Harness.session("local[8]", 8)
    val sanctioned = sanctionedBnlj()
    val winSanctioned = sanctionedWin1p()
    val (budgetSf, budget) = shuffleBudget()
    val bnljFlagged = scala.collection.mutable.Set[String]()
    val win1pFlagged = scala.collection.mutable.Set[String]()
    val saltFlagged = scala.collection.mutable.Set[String]()
    val planErrors = scala.collection.mutable.Set[String]()
    val ran = scala.collection.mutable.Set[String]()
    val counts = scala.collection.mutable.Map[String, Counts]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => nameFilter.forall(_.matches(name)) }
      .foreach { case (name, fn) =>
      ran += name
      try {
        val Captured(exec, _, ctorPlans) =
          capture(spark)(fn(spark, sfDir).queryExecution.executedPlan)
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
        val exch = exchanges(plan, ctorPlans)
        val bcasts = cnt(Seq(plan), "BroadcastExchange")
        val win1p = singlePartitionWindows(exec)
        // salted-join detection: the salt column in the FINAL plan or any
        // construction-time plan (same capture rules as the cross check)
        val salted =
          (if (plan.contains(SaltColName)) 1 else 0) +
            ctorPlans.count(_.contains(SaltColName))
        counts(name) = Counts(shuffles, exch)
        if (cart + bnlj + ctorCross > 0) bnljFlagged += name
        if (win1p > 0) win1pFlagged += name
        if (salted > 0) saltFlagged += name
        val flags = (if (cart > 0) s" CARTESIAN=$cart" else "") +
          (if (bnlj > 0) s" BNLJ=$bnlj" else "") +
          (if (ctorCross > 0) s" CTOR-CROSS=$ctorCross" else "") +
          (if (win1p > 0) s" 1partWin=$win1p" else "") +
          (if (salted > 0) s" SALTED=$salted" else "")
        println(f"LINT $name%-28s shuffles=$shuffles%-3d exchanges=$exch%-3d " +
          f"bcast=$bcasts%-3d$flags")
      } catch { case e: Throwable =>
        planErrors += name
        println(s"LINT $name PLAN-ERROR ${e.getMessage}")
      }
      // a frame one query persists must not serve the next one's plan: each
      // count is the query's own, whatever ran before it
      spark.catalog.clearCache()
    }
    spark.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(scratch)

    if (writeBudget) {
      if (nameFilter.isDefined && budgetSf != sfDir) {
        System.err.println(s"REFUSING filtered budget write: run sf=$sfDir " +
          s"!= existing budget sf=$budgetSf (a merge would mix SFs)")
        sys.exit(2)
      }
      java.nio.file.Files.write(java.nio.file.Paths.get(ShuffleBudgetPath),
        budgetText(sfDir, budget, counts.toMap, filtered = nameFilter.isDefined)
          .getBytes("UTF-8"))
      println(s"wrote the budget to $ShuffleBudgetPath" + (if (nameFilter.isDefined)
        s" (${counts.size} refreshed, filtered-run merge)" else s" (${counts.size} queries)"))
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
       else shuffleViolations(counts.toMap, budget,
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

  /** Exchange-budget contract (pure, spec-drivable). Only enforced when the
    * run is full AND at the budget's canonical SF (join strategies — hence
    * exchange counts — legitimately differ across SFs via size-based
    * broadcast thresholds). Each column is judged on its own: an increase is
    * a regression; a decrease or set drift is a stale budget (the checked-in
    * file must stay exact, same anti-rot rule as the sanction list). Both
    * columns stay pinned because a total alone is looser: swapping a hash
    * exchange for a round-robin one keeps `exchanges` and moves `shuffles`.
    * Per-query over/under judgments apply on filtered runs too (fast
    * iteration); set-drift (untracked/orphan) only on full runs, where the
    * name sets are fully observable. */
  def shuffleViolations(actual: Map[String, Counts], budget: Map[String, Counts],
      budgetMatchesRun: Boolean, fullRun: Boolean = true): Seq[String] = {
    if (!budgetMatchesRun) Seq.empty
    else if (budget.isEmpty)
      Seq("SHUFFLE-BUDGET-MISSING (run with --write-shuffle-budget at the " +
        "canonical SF and commit " + ShuffleBudgetPath + ")")
    else {
      val judged = for {
        (n, c) <- actual.toSeq.sortBy(_._1)
        b <- budget.get(n).toSeq
        (col, got, want) <- Seq(("shuffles", c.shuffles, b.shuffles),
          ("exchanges", c.exchanges, b.exchanges))
        if got != want
      } yield
        if (got > want)
          s"SHUFFLE-BUDGET-EXCEEDED $n ($col=$got > budget $want — a rewrite " +
            "added exchanges; fix the plan or regenerate the budget and " +
            "justify the diff)"
        else
          s"SHUFFLE-BUDGET-STALE $n ($col=$got < budget $want — plan improved; " +
            "regenerate the budget so the floor can't rot)"
      val missing =
        if (!fullRun) Seq.empty
        else (actual.keySet -- budget.keySet).toSeq.sorted
          .map(n => s"SHUFFLE-BUDGET-UNTRACKED $n (new query — regenerate the budget)")
      val gone =
        if (!fullRun) Seq.empty
        else (budget.keySet -- actual.keySet).toSeq.sorted
          .map(n => s"SHUFFLE-BUDGET-ORPHAN $n (budgeted query no longer " +
            "registered — regenerate the budget)")
      judged ++ missing ++ gone
    }
  }
}
