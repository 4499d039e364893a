package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run measured. `setupS` is the workload's own set-up
  * after the session exists (input generation and warm-up); `rows` feeds
  * rows_per_s; `errors` are output checks that failed outside any item. */
final case class Report(setupS: Double, outcomes: Seq[Outcome], wallS: Double,
    rows: Double, errors: Seq[String], layers: Map[String, Double])

trait Workload {
  def run(r: Run): Report
}

/** Everything a workload needs: the session, the seed, the tracer and (on a
  * traced run) the listener, plus directories inside the checkout. */
final class Run(val seed: Long, val seconds: Int,
    val spark: SparkSession, val tracer: Tracer, val listener: Option[LayerListener],
    val sfDir: String, val corpusDir: Path, val work: Path) {

  def cores: Int = spark.sparkContext.defaultParallelism

  /** Tags the jobs that follow with `group`; only on a traced run. */
  def group(g: String): Unit =
    if (tracer.on) spark.sparkContext.setJobGroup(g, g, interruptOnCancel = false)

  def clearGroup(): Unit = if (tracer.on) spark.sparkContext.clearJobGroup()

  private var measuredGroups = Map.empty[String, GroupCounters]
  /** CPU jiffies when the measured phase started and ended. */
  var measuredJiffies: ((Long, Long), (Long, Long)) = ((0L, 0L), (0L, 0L))

  /** Runs the measured phase and returns its wall time. On a traced run the
    * listener's counters are scoped to exactly this phase. */
  def measured[T](body: => T): (T, Double) = {
    listener.foreach { l => org.apache.spark.perfbench.Bus.drain(spark.sparkContext); l.reset() }
    tracer.clear()
    val j0 = Harness.jiffies()
    val t0 = System.nanoTime()
    val v = body
    val wall = Harness.since(t0)
    measuredJiffies = (j0, Harness.jiffies())
    clearGroup()
    listener.foreach { l =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      measuredGroups = l.snapshot()
    }
    (v, wall)
  }

  /** Spark counters of the measured phase, over the groups `p` accepts. */
  def counters(p: String => Boolean): GroupCounters = {
    val out = new GroupCounters
    measuredGroups.foreach { case (g, a) => if (p(g)) out += a }
    out
  }
}

object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "item_p50_s" -> "s", "item_tail_s" -> "s",
    "ok_ratio" -> "ratio", "rss_peak_mb" -> "MB", "rows_per_s" -> "1/s")

  val perLayer: Seq[(String, String)] = Seq(
    "tables.resolve_s" -> "s", "tables.resolve_jobs" -> "count",
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "queries.build_share" -> "ratio",
    "plans.plan_s" -> "s",
    "spark.exec_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.single_task_stage_ratio" -> "ratio",
    "spark.sched_overhead_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.output_mb" -> "MB", "spark.output_files" -> "count",
    "spec.parse_s" -> "s", "spec.resolve_s" -> "s", "spec.discover_s" -> "s",
    "exec.command_s.read" -> "s", "exec.command_s.transform" -> "s",
    "exec.command_s.write" -> "s", "exec.command_s.subprocess" -> "s",
    "exec.self_s" -> "s", "exec.log_lines" -> "count",
    "trace.wall_s" -> "s", "failed_ratio" -> "ratio")

  val workloads: Map[String, () => Workload] = Map(
    "corpus_fixed_cost" -> (() => new Corpus("corpus_fixed_cost")),
    "corpus_heavy_tail" -> (() => new Corpus("corpus_heavy_tail")),
    "yaml_etl_job" -> (() => new EtlJob))

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: perfbench.Main --workload NAME --seed N --seconds S " +
      "--trace 0|1 --sf DIR --corpus DIR --work DIR")
    sys.exit(2)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the program's own session builders all set this (see graft.Bench)
      .config("spark.shuffle.sort.bypassMergeThreshold", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val name = need("workload")
    val mk = workloads.getOrElse(name, usage(s"unknown workload '$name'"))
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = need("seconds").toIntOption.filter(_ > 0)
      .getOrElse(usage("--seconds must be a positive integer"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val sfDir = need("sf")
    if (!Files.isRegularFile(Paths.get(sfDir, "lineitem.parquet")))
      usage(s"no sf0.1 tables under $sfDir")
    val work = Paths.get(need("work")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val startJiffies = Harness.jiffies()
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val listener = if (trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(trace)
    val run = new Run(seed, seconds, spark, tracer, listener, sfDir,
      Paths.get(need("corpus")), work)

    val rep = mk().run(run)
    val rss = Harness.rssPeakMb()
    tracer.write(work.resolve("trace").resolve(s"$name-seed$seed.jsonl"))

    val ok = rep.outcomes.flatMap(_.seconds)
    val attempted = rep.outcomes.size
    val failed = rep.outcomes.count(!_.ok)
    rep.outcomes.foreach(o => System.err.println(s"perfbench: item ${o.id} " +
      o.seconds.map(s => f"$s%.3f s").getOrElse(s"FAILED: ${o.error.get}")))
    rep.errors.foreach(e => System.err.println(s"perfbench: CHECK FAILED: $e"))
    val correct = failed == 0 && rep.errors.isEmpty && ok.nonEmpty
    // with no successful item there is no latency sample; the run reports
    // incorrect and the pass wall stands in for every latency
    // Times are reported net of hypervisor steal: on a shared host the share of
    // CPU time other guests take swings from 1 % to 25 % between runs, and it
    // stretches every phase by 1 / (1 - share) without the program doing more.
    val (m0, m1) = run.measuredJiffies
    val setupNet = 1.0 - Harness.stolenShare(startJiffies, m0)
    val passNet = 1.0 - Harness.stolenShare(m0, m1)
    val wall = rep.wallS * passNet
    def pct(p: Double) = if (ok.isEmpty) wall else Harness.percentile(ok, p) * passNet
    val tailP = Harness.tailPercentile(attempted)
    System.err.println(f"perfbench: $name seed=$seed items=$attempted " +
      f"tail=p$tailP%.1f over ${ok.size} samples, session ${sessionS}%.2f s, " +
      f"raw setup ${sessionS + rep.setupS}%.3f s and pass ${rep.wallS}%.3f s, " +
      f"stolen ${1 - setupNet}%.3f in set-up and ${1 - passNet}%.3f in the pass")

    val values: Map[String, Double] =
      if (!trace) Map(
        "setup_s" -> (sessionS + rep.setupS) * setupNet,
        "wall_s" -> wall,
        "item_p50_s" -> pct(50.0),
        "item_tail_s" -> pct(tailP),
        "ok_ratio" -> (attempted - failed).toDouble / attempted,
        "rss_peak_mb" -> rss,
        "rows_per_s" -> rep.rows / wall)
      else rep.layers ++ Map(
        "trace.wall_s" -> wall,
        "failed_ratio" -> failed.toDouble / attempted)
    val spec = if (trace) perLayer else endToEnd
    val metrics = spec.map { case (k, unit) =>
      k -> Json.obj(Seq("value" -> Json.num(values.getOrElse(k, 0.0)),
        "unit" -> Json.str(unit)))
    }
    val unknown = values.keySet -- spec.map(_._1)
    require(unknown.isEmpty, s"metrics outside the declared set: $unknown")
    spark.stop()
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(metrics))))
  }
}
