package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming micro-benchmark: per-stateful-operator throughput probe.
  *
  * The streaming operators are CORRECTNESS-tested via batch equivalence
  * (StreamingSpec + the stream_*_batch oracle rows), but a state-store
  * regression — state growing per batch, per-key overhead, timer storms —
  * only shows up under sustained batches. This tool drives each stateful
  * operator with synthetic keyed events through a MemoryStream (deterministic,
  * no wall-clock coupling like the rate source), processes a fixed number of
  * batches, and prints one JSON line per operator with rows/sec. Diff across
  * rounds like PLANS.md; an order-of-magnitude drop on one operator is a
  * state-store regression the batch path cannot see.
  *
  * Run: runMain graft.tools.StreamBench [rowsPerBatch] [nBatches]
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val rowsPerBatch = args.lift(0).flatMap(_.toIntOption).getOrElse(50000)
    val nBatches = args.lift(1).flatMap(_.toIntOption).getOrElse(4)
    // optional: restrict to named ops (comma list) — the moved-shape
    // robustness leg (round 15, VERDICT r14 ask #6) drives one stateful
    // shape under SPARK_GRAFT_SHUFFLE_PARTITIONS=200 / SPARK_DRIVER_MEM=2g
    // without paying for the full battery
    val opFilter: Option[Set[String]] =
      args.lift(2).map(_.split(",").toSet)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    val spark = graft.Harness.session("local[8]", parts.toInt)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val types = Array("click", "view", "purchase", "scroll")
    // one batch of synthetic keyed events: monotonic event-time (seconds apart,
    // so watermarks advance and windows/sessions close as batches progress)
    def batch(b: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
      (0 until rowsPerBatch).map { i =>
        val id = b.toLong * rowsPerBatch + i
        (id, new java.sql.Timestamp(1577836800000L + id * 1000L),
          id % 997, types((id % 4).toInt), (id % 100).toDouble / 4.0)
      }

    var gateFailures = 0

    // Per-batch state-store size (StateOperatorProgress.numRowsTotal, summed
    // over the query's state operators): throughput catches slow, this catches
    // LEAKING. Every watermarked/key-bounded processor must reach steady state
    // — state growing batch-over-batch, not rows/sec, is the real 100-TB
    // streaming killer (the store eventually evicts to disk or OOMs).
    def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(0L)

    /** Flat = the final batch's state is within 1.5x of the mid-run state.
      * Bounded processors sit near 1.0 (eviction keeps pace with arrival);
      * a per-row leak grows state linearly, putting last/mid at ~(n+1)/(n/2+1)
      * ≈ 1.7 for the 4-batch default — reliably over the line. */
    def flat(series: Seq[Long]): Boolean = {
      // max(0) guards nBatches=1 (mid index would be -1).
      val mid = series((series.length / 2 - 1).max(0)).max(1L)
      series.last.toDouble / mid <= 1.5
    }

    def probe(op: String, mode: OutputMode = OutputMode.Update(),
        expectBounded: Boolean = true)(mk: DataFrame => DataFrame): Unit = {
      if (opFilter.exists(!_.contains(op))) return
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val events = in.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val name = s"sb_$op"
      val q = mk(events).writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
      try {
        in.addData(batch(0)) // warm-up batch: codegen + state-store init
        q.processAllAvailable()
        val t0 = System.nanoTime()
        val states = (1 to nBatches).map { b =>
          in.addData(batch(b))
          q.processAllAvailable()
          stateRows(q)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = rowsPerBatch.toLong * nBatches
        val isFlat = flat(states)
        if (isFlat != expectBounded) {
          gateFailures += 1
          val what = if (expectBounded) "STATE-GROWTH (leak?)"
            else "UNBOUNDED PROBE CAME OUT FLAT (gate can't trip?)"
          System.err.println(s"[streambench] FAIL $op: $what state=" +
            states.mkString(","))
        }
        println(f"""{"op":"$op","rows":$rows,"batches":$nBatches,""" +
          f""""sec":$sec%.3f,"rows_per_sec":${rows / sec}%.0f,""" +
          s""""state_rows":${states.mkString("[", ",", "]")},""" +
          s""""state_flat":$isFlat,"expect_bounded":$expectBounded}""")
      } finally q.stop()
    }

    // foreachBatch sink probe: same MemoryStream drive, but the sink is a
    // foreachBatch handler (df.count() forces each micro-batch end-to-end) —
    // the operational upsert/multi-sink path, which has no memory-sink plan.
    def probeForeachBatch(op: String, mode: OutputMode = OutputMode.Update())(
        mk: DataFrame => DataFrame): Unit = {
      if (opFilter.exists(!_.contains(op))) return
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val events = in.toDF()
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      var sunk = 0L
      val q = mk(events).writeStream.outputMode(mode)
        .foreachBatch((df: DataFrame, _: Long) => { sunk += df.count() })
        .start()
      try {
        in.addData(batch(0))
        q.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nBatches).foreach { b =>
          in.addData(batch(b))
          q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = rowsPerBatch.toLong * nBatches
        println(f"""{"op":"$op","rows":$rows,"batches":$nBatches,""" +
          f""""sec":$sec%.3f,"rows_per_sec":${rows / sec}%.0f,"sunk":$sunk}""")
      } finally q.stop()
    }

    import graft.streaming.Streaming
    probe("tumbling_agg")(Streaming.tumblingCounts(_, "10 minutes", "30 minutes"))
    probe("sliding_agg")(Streaming.slidingCounts(_, "10 minutes", "5 minutes",
      "30 minutes"))
    probe("session_window", OutputMode.Append())(
      Streaming.sessionAgg(_, "5 minutes", "30 minutes"))
    probe("dedup_watermark", OutputMode.Append())(
      Streaming.dedupWithinWatermark(_, "30 minutes"))
    probe("stream_stream_join", OutputMode.Append())(
      Streaming.streamStreamClickBuy(_, "10 minutes", "30 minutes"))
    probe("stream_stream_outer_join", OutputMode.Append())(
      Streaming.streamStreamClickBuyOuter(_, "10 minutes", "30 minutes"))
    probe("chained_join_then_window", OutputMode.Append())(
      Streaming.chainedClickBuyWindowCounts(_, "10 minutes", "30 minutes",
        "15 minutes"))
    probe("mapGroupsWithState")(Streaming.runningUserTotals(spark, _).toDF())
    probe("flatMapGroupsWithState", OutputMode.Append())(
      Streaming.userHighWaterMarks(spark, _).toDF())
    probe("transformWithState_value")(Streaming.runningUserPeaks(spark, _).toDF())
    probe("transformWithState_list_map")(
      Streaming.runningUserTopTypes(spark, _).toDF())
    probe("transformWithState_evt_timers", OutputMode.Append())(
      Streaming.timerSessions(spark, _, 300000L, "30 minutes").toDF())
    probeForeachBatch("foreachbatch_sink")(
      Streaming.tumblingCounts(_, "10 minutes", "30 minutes"))
    // Deliberately UNBOUNDED control probe: per-event_id running aggregation
    // with no watermark — every row mints a new state key, so state grows
    // linearly with input. Proves the flatness assertion can trip; if this
    // ever reports flat, the state-growth gate itself is broken.
    probe("unbounded_control", expectBounded = false)(df =>
      df.groupBy(org.apache.spark.sql.functions.col("event_id"))
        .count())
    if (gateFailures > 0) {
      System.err.println(s"[streambench] $gateFailures state-growth gate failure(s)")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
