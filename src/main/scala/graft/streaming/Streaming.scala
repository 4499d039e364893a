package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Structured Streaming surface (SURVEY.md §2b "Streaming"): the same windowing /
  * dedup / join expressions as the batch queries in graft.queries.EventsQ, wired as
  * incremental streams — watermarks bound state, so these run indefinitely on an
  * unbounded events feed at any scale; parallelism follows the shuffle partitioning
  * on the group keys exactly like batch.
  *
  * Local testing drives a parquet-backed stream through a memory sink
  * (`processAllAvailable`), asserting stream == batch on the same data. */
object Streaming {

  /** readStream over the events parquet, with the footer schema and the
    * ts→TimestampType(µs) normalization of graft.Tables.events. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    // streaming file sources need a directory: scan the sf dir, globbed to events
    graft.Tables.eventsTs(spark.readStream.schema(graft.Tables.eventsSchema(spark, dir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))

  /** Tumbling-window counts with watermark-bounded state. */
  def tumblingCounts(events: DataFrame, width: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total"))

  /** Sliding-window counts. */
  def slidingCounts(events: DataFrame, width: String, slide: String,
      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"))

  /** Session windows (gap-based) per user. */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n"), col("total"))

  /** Stateful dedup, state bounded by the watermark. */
  def dedupWithinWatermark(events: DataFrame, watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Stream-static join: unbounded events against a bounded dimension. */
  def streamStaticJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"))

  /** Stream-stream join: click → purchase conversion within `window` per user.
    * Both sides carry a watermark and the join condition time-bounds buy_ts relative
    * to click_ts, so Spark can expire join state — the REQUIRED shape for an
    * unbounded stream-stream inner join (without the bound, state grows forever).
    * Batch-equivalent oracle: `stream_stream_join_batch` in queries.Headline. */
  def streamStreamClickBuy(events: DataFrame, window: String,
      watermark: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", watermark)
    clicks.join(buys,
      col("user_id") === col("b_user") &&
      col("buy_ts") >= col("click_ts") &&
      col("buy_ts") <= col("click_ts") + expr(s"interval $window"))
      .select(col("user_id"), col("click_id"), col("buy_id"))
  }

  /** LEFT-OUTER stream-stream join: clicks with no purchase inside `window` emit a
    * NULL buy — but only once the watermark passes click_ts + window, i.e. when the
    * engine can PROVE no match is still coming (that proof is what the mandatory
    * time bound + watermark buy). The null row arrives on state eviction, typically
    * in a later (possibly data-less) micro-batch — the semantic difference from the
    * inner variant above. Clicks younger than the final watermark horizon stay in
    * state and never emit in a finite run; StreamingSpec compares against batch on
    * the mature region only. */
  def streamStreamClickBuyOuter(events: DataFrame, window: String,
      watermark: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", watermark)
    clicks.join(buys,
      col("user_id") === col("b_user") &&
      col("buy_ts") >= col("click_ts") &&
      col("buy_ts") <= col("click_ts") + expr(s"interval $window"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("click_ts"), col("buy_id"))
  }

  /** CHAINED stateful operators in ONE streaming query (the multiple-stateful-
    * operator support added in Spark 3.5): the watermarked stream-stream
    * click→buy join feeds a DOWNSTREAM tumbling-window conversion count — two
    * stateful exec nodes (join state, then window state) in a single append-mode
    * plan. Both stages key-partition (user_id, then window), so state and
    * parallelism scale exactly like the standalone join/agg. In a finite run only
    * windows whose end the final global watermark passed emit; StreamingSpec
    * compares that mature region against the batch equivalent
    * (`stream_chained_agg_batch` in queries.EventsQ). */
  def chainedClickBuyWindowCounts(events: DataFrame, joinWindow: String,
      watermark: String, aggWindow: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
        col("ts").as("buy_ts"))
      .withWatermark("buy_ts", watermark)
    clicks.join(buys,
        col("user_id") === col("b_user") &&
        col("buy_ts") >= col("click_ts") &&
        col("buy_ts") <= col("click_ts") + expr(s"interval $joinWindow"))
      .groupBy(window(col("click_ts"), aggWindow).as("w"))
      .agg(count(lit(1)).as("n_conv"))
      .select(col("w.start").as("wstart"), col("n_conv"))
  }

  /** foreachBatch sink with IDEMPOTENT batch writes — the exactly-once recipe
    * for sinks without transactional commit: each micro-batch lands in a
    * `batch=<id>` directory with mode=overwrite, so a replayed batch (failure
    * between sink write and offset commit) overwrites its own previous attempt
    * instead of duplicating rows. Union-of-directories == the input exactly
    * once; StreamingSpec asserts it against the batch frame. */
  def foreachBatchIdempotent(events: DataFrame, outDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }

  final case class UserTotal(user_id: Long, n: Long, total: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user totals (update
    * mode). State is one small record per key — bounded, spillable, scalable. */
  def runningUserTotals(spark: SparkSession, events: DataFrame): Dataset[UserTotal] = {
    import spark.implicits._
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserTotal](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Double)]) =>
          val (pn, pt) = state.getOption.getOrElse((0L, 0.0))
          var n = pn; var t = pt
          rows.foreach { case (_, v) => n += 1; t += v }
          state.update((n, t))
          UserTotal(uid, n, t)
      }
  }

  final case class HighWater(user_id: Long, event_id: Long, value: Double)

  /** flatMapGroupsWithState — the zero-to-MANY keyed-state API (mapGroupsWithState
    * is locked to exactly one output per key per batch): a per-user high-water-mark
    * stream, emitting only the events that raise the key's running max. State is a
    * single double per key, bounded forever. Rows are folded in event_id (arrival)
    * order within each batch so emission is deterministic under any shuffle
    * partitioning; the batch equivalent is a running-max window filter
    * (StreamingSpec asserts equality). */
  def userHighWaterMarks(spark: SparkSession, events: DataFrame): Dataset[HighWater] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_id"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Double, HighWater](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[Double]) =>
          var hwm = state.getOption.getOrElse(Double.NegativeInfinity)
          val out = rows.toSeq.sortBy(_._2).flatMap { case (_, eid, v) =>
            if (v > hwm) { hwm = v; Some(HighWater(uid, eid, v)) } else None
          }
          state.update(hwm)
          out.iterator
      }
  }

  final case class UserPeak(user_id: Long, n: Long, peak: Double)

  /** Arbitrary keyed state via the Spark 4 `transformWithState` API: per-user event
    * count + running peak held in two explicit `ValueState` cells on the RocksDB
    * state store. Unlike mapGroupsWithState, state cells are typed/named/TTL-capable
    * and the processor can emit any number of rows per input batch — the long-term
    * replacement API for custom streaming state. */
  class UserPeakProcessor extends StatefulProcessor[Long, (Long, Double), UserPeak] {
    @transient private var nState: ValueState[Long] = _
    @transient private var peakState: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      peakState =
        getHandle.getValueState[Double]("peak", Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: TimerValues): Iterator[UserPeak] = {
      var n = if (nState.exists()) nState.get() else 0L
      var peak = if (peakState.exists()) peakState.get() else Double.NegativeInfinity
      rows.foreach { case (_, v) => n += 1; if (v > peak) peak = v }
      nState.update(n)
      peakState.update(peak)
      Iterator.single(UserPeak(key, n, peak))
    }
  }

  final case class UserTopTypes(user_id: Long, top3: String, n_types: Long,
    ver: Long)

  /** ListState + MapState legs of the transformWithState API: a BOUNDED top-3
    * value list per user (the "recent best" pattern — the put() rewrite keeps state
    * O(k) per key regardless of stream length) and a per-event-type running count
    * map (sparse keyed sub-state without one state row per (user,type) key
    * upstream). Both cells live on the RocksDB store like the ValueState ones.
    * Top-3 is kept ORDER-INSENSITIVELY (a max-k set, not last-k), so results don't
    * depend on intra-batch row order. */
  class UserTopTypesProcessor
      extends StatefulProcessor[Long, (Long, Double, String), UserTopTypes] {
    @transient private var topState: ListState[Double] = _
    @transient private var typeCounts: MapState[String, Long] = _
    @transient private var version: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      topState =
        getHandle.getListState[Double]("top3", Encoders.scalaDouble, TTLConfig.NONE)
      typeCounts = getHandle.getMapState[String, Long]("typeCounts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
      // per-key update counter: consumers can pick the LATEST emitted row
      // deterministically (n_types alone plateaus while top3 may still change)
      version =
        getHandle.getValueState[Long]("ver", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double, String)],
        timerValues: TimerValues): Iterator[UserTopTypes] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
      topState.get().foreach(buf += _)
      rows.foreach { case (_, v, tpe) =>
        buf += v
        val cur = if (typeCounts.containsKey(tpe)) typeCounts.getValue(tpe) else 0L
        typeCounts.updateValue(tpe, cur + 1L)
      }
      val top3 = buf.sorted(Ordering[Double].reverse).take(3).toArray
      topState.put(top3)
      var nTypes = 0L
      typeCounts.keys().foreach(_ => nTypes += 1)
      val ver = (if (version.exists()) version.get() else 0L) + 1L
      version.update(ver)
      Iterator.single(UserTopTypes(key,
        top3.map(v => f"$v%.3f").mkString("|"), nTypes, ver))
    }
  }

  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n: Long)

  /** EVENT-TIME TIMERS on transformWithState — the streaming-native gap
    * sessionization. A session is only FINAL once the watermark passes its
    * `end + gap`: any earlier emission could be invalidated by a late-but-legal
    * event (≥ watermark) that extends, splits, or bridges it. So the processor
    * keeps each key's not-yet-final event times in a `ListState`, re-sessionizes
    * them with every batch's arrivals (sorted — intra-batch order is
    * irrelevant), emits exactly the sessions whose `end + gap ≤ watermark`,
    * retains the rest, and keeps ONE timer at the earliest retained session's
    * `end + gap` so `handleExpiredTimer` finalizes state when the watermark
    * crosses it even if no further events arrive. State is bounded: an event is
    * retained only while its session can still change, i.e. while `end + gap`
    * is ahead of the watermark — the watermark evicts everything older. */
  class UserSessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp), SessionOut] {
    @transient private var pending: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      pending =
        getHandle.getListState[Long]("pending", Encoders.scalaLong, TTLConfig.NONE)
    }

    /** Sessionize sorted times; emit final sessions, retain + re-arm the rest.
      * `expiring` is the timer being handled, which Spark deletes itself. */
    private def flush(key: Long, ts: Array[Long], watermarkMs: Long,
        expiring: Option[Long] = None): Iterator[SessionOut] = {
      getHandle.listTimers().filterNot(expiring.contains).foreach(getHandle.deleteTimer)
      if (ts.isEmpty) { pending.clear(); return Iterator.empty }
      val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var start = ts(0); var last = ts(0); var n = 0L
      ts.foreach { t =>
        if (n > 0L && t - last > gapMs) { sessions += ((start, last, n)); start = t; n = 0L }
        last = t; n += 1L
      }
      sessions += ((start, last, n))
      val (fin, open) = sessions.partition { case (_, end, _) => end + gapMs <= watermarkMs }
      if (open.isEmpty) pending.clear()
      else {
        pending.put(ts.filter(_ >= open.head._1))
        getHandle.registerTimer(open.head._2 + gapMs)
      }
      fin.iterator.map { case (s0, e0, n0) => SessionOut(key, s0, e0, n0) }
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val merged = (pending.get() ++ rows.map(_._2.getTime)).toArray.sorted
      flush(key, merged, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      flush(key, pending.get().toArray.sorted,
        timerValues.getCurrentWatermarkInMs(), Some(expiredTimerInfo.getExpiryTimeInMs()))
    }
  }

  /** transformWithState with event-time timers (see [[UserSessionProcessor]]). */
  def timerSessions(spark: SparkSession, events: DataFrame, gapMs: Long,
      watermark: String): Dataset[SessionOut] = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new UserSessionProcessor(gapMs), TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** transformWithState over ListState/MapState (see [[UserTopTypesProcessor]]). */
  def runningUserTopTypes(spark: SparkSession, events: DataFrame)
      : Dataset[UserTopTypes] = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    events.select(col("user_id"), col("value"), col("event_type"))
      .as[(Long, Double, String)]
      .groupByKey(_._1)
      .transformWithState(new UserTopTypesProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** transformWithState wiring. NOTE: transformWithState requires the RocksDB state
    * store provider, and the conf set here is session-wide — every stateful query
    * started afterwards also runs on RocksDB. That is safe (RocksDB is a fully
    * supported provider for all stateful operators, rocksdbjni ships with Spark) but
    * callers who need the HDFS-backed default elsewhere should use a separate
    * session (`spark.newSession()`). */
  def runningUserPeaks(spark: SparkSession, events: DataFrame): Dataset[UserPeak] = {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    events.select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserPeakProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Drive any streaming frame to a memory sink until the source is drained; returns
    * the sink contents. */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  /** Parquet sink variant (append mode) — checkpointed, restart-safe. */
  def runToParquet(df: DataFrame, path: String, checkpoint: String): Unit = {
    val q = df.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .format("parquet").option("path", path).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** foreachBatch sink with Trigger.AvailableNow: the operational pattern for
    * streaming upserts — each micro-batch arrives as an ordinary DataFrame plus a
    * batch id, and the handler applies any batch write Spark itself doesn't offer
    * (MERGE into a table, multi-sink fan-out, JDBC). AvailableNow drains whatever
    * the source currently holds in rate-limited batches, then stops — the
    * catch-up/backfill trigger. The batch id makes redelivery after a restart
    * idempotent (handlers keying on it dedupe replays). */
  def runForeachBatch(df: DataFrame, mode: OutputMode)
      (handler: (DataFrame, Long) => Unit): Unit = {
    val q = df.writeStream.outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(handler)
      .start()
    try q.awaitTermination() finally q.stop()
  }
}
