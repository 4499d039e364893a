package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query wall seconds.
  *
  * Each query runs twice (sorted name order, after a warm-up action) and the
  * reported time is the per-query MINIMUM: the host VM suffers multi-second
  * steal/IO windows that would otherwise be attributed to whichever query they
  * landed on. The min of two spaced runs measures the engine, not the host. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption).getOrElse(2))
    // Self-reported regression gate: compare against the most recent prior
    // per-query snapshot AT THE SAME SF (env override > the committed
    // BENCH_LOCAL.json snapshot > target/bench_queries.json — the driver's
    // BENCH_r*.json files truncate their per-query tails, so they can't be
    // baselines) and emit any query that got >30% AND >0.15s slower. Queries
    // only on one side are skipped (set drift between rounds isn't a
    // regression). A snapshot counts as absent only when its file does not
    // exist or is for another SF; an unreadable or malformed one is an error,
    // read before any query runs, since skipping it would switch the gate off.
    def parseSnapshot(p: java.nio.file.Path): Option[Map[String, Double]] =
      if (!java.nio.file.Files.exists(p)) None else {
        val txt = java.nio.file.Files.readString(p)
        def bad(why: String) =
          throw new IllegalStateException(s"bench snapshot $p: $why")
        val sf = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt).map(_.group(1))
          .getOrElse(bad("no \"sf\" field"))
        if (sf != sfDir) None else {
          val qsec = txt.indexOf("\"queries\":{")
          val end = if (qsec < 0) -1 else txt.indexOf('}', qsec)
          if (end < 0) bad("no complete \"queries\" object")
          val entry = "\"([^\"]+)\":(.+)".r
          val m = txt.substring(qsec + 11, end).split(',').filter(_.nonEmpty)
            .flatMap {
              case entry(_, "null") => None
              case entry(k, v) =>
                Some(k -> v.toDoubleOption.getOrElse(bad(s"bad time '$v' for $k")))
              case e => bad(s"malformed entry '$e'")
            }.toMap
          if (m.nonEmpty) Some(m) else None
        }
      }
    val baseline: Map[String, Double] =
      (sys.env.get("SPARK_GRAFT_BENCH_BASELINE").map(java.nio.file.Paths.get(_)).toSeq ++
        Seq(java.nio.file.Paths.get("BENCH_LOCAL.json"),
          java.nio.file.Paths.get("target/bench_queries.json")))
        .iterator.flatMap(parseSnapshot(_)).nextOption().getOrElse(Map.empty)
    val spark = Harness.session(s"local[$cpus]", cpus.toInt)
    // warm-up: session init, codegen, file listing
    Tables.lineitem(spark, sfDir).count()
    val names = SparkEntry.queries.keys.toSeq.sorted
    // A query that THROWS must not be reported as a (fast) time — round-6's loader
    // break produced 78 bogus 0.05s "times" that made a broken bench look healthy.
    // Errors are tracked PER PASS: a pass-1 failure that succeeds in pass 2 is a
    // flake, not an error — only queries with ZERO successful passes report in
    // n_errors/errors, and failed passes' (fast time-to-fail) elapsed times never
    // enter the best-of-passes min (a never-succeeding query contributes 0 to the
    // total rather than understating it with its time-to-fail).
    val lastError = scala.collection.mutable.LinkedHashMap[String, String]()
    def onePass(): Map[String, Double] = names.map { name =>
      val t0 = System.nanoTime()
      val ok =
        try { Harness.consume(SparkEntry.queries(name)(spark, sfDir)); true }
        catch { case e: Throwable =>
          lastError(name) =
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          false
        }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
    }.toMap
    val best = (1 to passes).map(_ => onePass())
      .reduce((a, b) => a.map { case (k, v) => k -> math.min(v, b(k)) })
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    names.foreach { k =>
      if (best(k).isInfinity) errors(k) = lastError.getOrElse(k, "failed")
    }
    val qs = names.map(k =>
        "\"" + k + "\":" + (if (best(k).isInfinity) "null" else best(k).toString))
      .mkString("{", ",", "}")
    val total = best.values.filterNot(_.isInfinity).sum
    // Host-speed normalization: two runs of the SAME code can differ by a
    // uniform 10-30% (VM steal, cache state), which would flag dozens of
    // phantom regressions. Scale the baseline by the common-query total
    // ratio first, so only queries that regressed RELATIVE to the rest of
    // the suite flag.
    val common = names.filter(k => baseline.contains(k) && !best(k).isInfinity)
    val scale =
      if (common.isEmpty || common.map(baseline).sum == 0.0) 1.0
      else common.map(best).sum / common.map(baseline).sum
    def regressed(k: String, t: Double): Boolean = {
      val base = baseline(k) * scale
      t > base * 1.3 && t - base > 0.15
    }
    // Suspects get a delayed re-measure (2 extra passes at the end of the
    // run): a real regression is still slow minutes later; a transient host
    // stall isn't. Same-code back-to-back runs showed ~2% of sub-second
    // queries landing 30-50% slow in BOTH main passes purely from correlated
    // host noise — the decorrelated retest is what makes a clean run
    // actually report clean.
    val retested = scala.collection.mutable.Map[String, Double]()
    common.filter(k => regressed(k, best(k))).foreach { k =>
      // A retest pass that THROWS must not contribute its (fast) time-to-fail:
      // that would clear a genuine regression with a near-zero elapsed. Failed
      // retest passes are dropped; if every retest pass fails, best(k) stands.
      // Sub-second queries get a DOUBLED retest round (round 15, VERDICT r14
      // ask #1): their times are scheduler-constant-dominated, so jitter is
      // proportionally largest there — the r14 driver run's two
      // retest-surviving flags (graph_bfs_hops, sketch_set_intersection_est,
      // both sub-1s floors) did not reproduce at the same source state, and
      // 2 consecutive retest passes inside the same noisy host window are
      // still correlated. 4 spaced passes make a phantom flag on a ~0.5-1s
      // query need FOUR bad draws instead of two.
      val passes = if (baseline(k) * scale < 1.5) 4 else 2
      val ts = (1 to passes).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { Harness.consume(SparkEntry.queries(k)(spark, sfDir)); true }
          catch { case _: Throwable => false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      retested(k) = math.min(best(k), if (ts.nonEmpty) ts.min else best(k))
    }
    val perQueryRegressions = common.filter(k =>
      regressed(k, retested.getOrElse(k, best(k))))
    // Top-10 aggregate budget (VERDICT r10 ask #6): per-query floors alone
    // don't stop the expensive tail from creeping — individually sub-30%
    // increases across the top of the bench compound unnoticed as operators
    // are added. Gate Σ(top-10) of this run against Σ(top-10) of the
    // host-scaled baseline floors, over COMMON queries only (a legitimately
    // expensive NEW query is set drift, not creep; it enters the floor file
    // on the next clean refresh). Flags as the pseudo-regression
    // `_top10_aggregate`, which also blocks the baseline refresh below.
    val topN = 10
    val runTop = common.map(k => retested.getOrElse(k, best(k)))
      .sorted.takeRight(topN).sum
    val baseTop = common.map(k => baseline(k) * scale).sorted.takeRight(topN).sum
    val top10Regressed =
      common.size >= topN && runTop > baseTop * 1.3 && runTop - baseTop > 1.5
    val regressions = perQueryRegressions ++
      (if (top10Regressed) Seq("_top10_aggregate") else Nil)
    val regJson = regressions.map {
        case "_top10_aggregate" => "\"_top10_aggregate\":[" + baseTop + "," + runTop + "]"
        case k => "\"" + k + "\":[" + baseline(k) + "," + retested.getOrElse(k, best(k)) + "]"
      }.mkString("{", ",", "}")
    perQueryRegressions.foreach(k =>
      System.err.println(f"[bench] REGRESSION $k: ${baseline(k)}%.3f -> " +
        f"${retested.getOrElse(k, best(k))}%.3f s (host-scale ${scale}%.2f)"))
    if (top10Regressed)
      System.err.println(f"[bench] REGRESSION top-10 aggregate: " +
        f"$baseTop%.2f -> $runTop%.2f s (host-scale ${scale}%.2f)")
    // Full per-query map: to a file (+ one stdout line for humans). The FINAL stdout
    // line is a short total-only JSON so a tail-capture can never truncate it mid-line.
    def jq(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val errJson = errors.map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
      .mkString("{", ",", "}")
    errors.foreach { case (k, v) => System.err.println(s"[bench] FAILED $k: $v") }
    val full = s"""{"metric":"total","value":$total,"unit":"sec","n_errors":${errors.size},"errors":$errJson,"n_regressions":${regressions.size},"regressions":$regJson,"top10_sec":$runTop,"top10_base_sec":$baseTop,"scale":$scale,"queries":$qs,"sf":"$sfDir","passes":$passes}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.write(java.nio.file.Paths.get("target/bench_queries.json"),
      full.getBytes("UTF-8"))
    // Durable round-over-round baseline (committed): only the canonical
    // driver configuration updates it, so ad-hoc local runs at other SFs
    // or pass counts can't poison the comparison base. Two further guards:
    // (1) only REGRESSION-FREE runs advance the base — otherwise a real
    //     regression is reported once and then becomes its own baseline,
    //     self-resetting the gate; (2) the refresh MIN-MERGES per query
    //     against the prior committed floor (same best-of-passes philosophy
    //     as the in-run min) — a wholesale overwrite would let one noisy
    //     host window inflate a query's floor 2-3x and blind the >30% gate
    //     for it in every later round. Dropped queries leave the file;
    //     comparison skips one-sided names anyway.
    // Ratchet-leak guard (VERDICT r12 ask #2): the regression gate above
    // host-normalizes by `scale`, so a UNIFORM slowdown never flags — and
    // without this guard it would silently refresh into BENCH_LOCAL (new
    // queries would enter the floor file at inflated times). BENCH_LOCAL's
    // min-merged floors ARE the pinned epoch: `scale` vs them is exactly
    // the cumulative drift since the all-time-best run, so a cumulative
    // factor > 1.3x blocks the refresh (warn loudly; existing floors are
    // min-merge-protected regardless, this keeps inflated NEW entries out
    // and makes sustained drift visible in every run's "scale" field).
    val scaleDriftBlocked = scale > 1.3
    if (scaleDriftBlocked)
      System.err.println(f"[bench] HOST-SCALE DRIFT $scale%.2fx vs committed " +
        "floors exceeds 1.3x — BENCH_LOCAL refresh BLOCKED (uniform slowdown " +
        "is invisible to the per-query gate by construction; investigate " +
        "before refreshing the baseline)")
    if (sfDir == "/root/testdata/sf0.1" && passes >= 2 && errors.isEmpty
        && regressions.isEmpty && !scaleDriftBlocked) {
      val prior = parseSnapshot(java.nio.file.Paths.get("BENCH_LOCAL.json"))
        .getOrElse(Map.empty)
      val merged = names.filterNot(k => best(k).isInfinity).map { k =>
        k -> math.min(best(k), prior.getOrElse(k, Double.PositiveInfinity))
      }
      val mq = merged.map { case (k, v) => "\"" + k + "\":" + v.toString }
        .mkString("{", ",", "}")
      val mtotal = merged.map(_._2).sum
      val mjson = s"""{"metric":"total","value":$mtotal,"unit":"sec","n_errors":0,"errors":{},"n_regressions":0,"regressions":{},"queries":$mq,"sf":"$sfDir","passes":$passes}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        mjson.getBytes("UTF-8"))
    }
    println(full)
    // The driver parses the LAST JSON line from a small tail-capture window,
    // so this stays short (the full per-query map would blow the window and
    // break the parse) — round_gate.sh commits the full map as
    // BENCH_FULL.json, giving per-query history durable git provenance.
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${names.size},"n_errors":${errors.size},"n_regressions":${regressions.size},"top10_sec":$runTop,"top10_base_sec":$baseTop,"scale":$scale,"sf":"$sfDir","passes":$passes,"queries_file":"target/bench_queries.json"}""")
    spark.stop()
  }
}
