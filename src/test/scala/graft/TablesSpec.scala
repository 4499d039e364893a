package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver has regenerated /root/testdata with different physical parquet types
  * for `events.ts` across rounds (int64 nanos → TIMESTAMP_MICROS isAdjustedToUTC=false
  * → potentially UTC TIMESTAMP_MICROS). Tables.events must normalize all three to
  * TimestampType with identical instants, so a regeneration never breaks the events
  * query family again (round-6 postmortem). */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // one known instant: 2024-03-01T12:34:56.789012 UTC
  private val micros = 1709296496789012L

  private def writeEvents(dir: String, tsExpr: org.apache.spark.sql.Column): Unit = {
    import spark.implicits._
    Seq((1L, micros, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsExpr)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def assertNormalized(tag: String, dir: String): Unit = {
    val got = Tables.events(spark, dir)
    assert(got.schema("ts").dataType === TimestampType, s"[$tag] normalized type")
    val row = got.select(unix_micros(col("ts"))).head()
    assert(row.getLong(0) === micros, s"[$tag] instant preserved")
  }

  private def roundtrip(tag: String)(write: String => Unit): Unit = {
    val dir = Files.createTempDirectory(s"tables_$tag").toString
    write(dir)
    assertNormalized(tag, dir)
  }

  /** Spark jobs started by `body`, counted by job group. */
  private def jobsFiredBy(body: => Unit): Int =
    graft.tools.PlanLint.capture(spark)(body).jobs

  test("events loader adapts: int64 ts (nanos-as-long read shape)") {
    // int64 column named ts: exactly what the nanosAsLong conf yields for
    // TIMESTAMP(NANOS) footers (Spark cannot author a NANOS footer directly)
    roundtrip("longns")(dir => writeEvents(dir, expr(s"${micros}L * 1000")))
  }

  test("events loader adapts: TIMESTAMP_NTZ ts (current testdata generation)") {
    // TIMESTAMP→NTZ cast keeps the wall clock; under the UTC session zone that
    // is the same instant, matching how the driver's generator wrote the file
    roundtrip("ntz")(dir =>
      writeEvents(dir, timestamp_micros(lit(micros)).cast(TimestampNTZType)))
  }

  test("events loader adapts: UTC TIMESTAMP ts") {
    roundtrip("ltz")(dir => writeEvents(dir, timestamp_micros(lit(micros))))
  }

  test("streaming events loader matches the batch loader on the live testdata") {
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.events(spark, dir)
    val stream = graft.streaming.Streaming.eventsStream(spark, dir)
    assert(stream.schema === batch.schema)
  }

  test("a repeated Tables read of the same table fires no Spark job") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_jobs").toString
    Seq((1L, "a"), (2L, "b")).toDF("o_orderkey", "o_comment")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    writeEvents(dir, timestamp_micros(lit(micros)).cast(TimestampNTZType))
    // the counter sees the schema job Spark's own inference fires ...
    assert(jobsFiredBy(spark.read.parquet(s"$dir/orders.parquet")) === 1)
    // ... and the first Tables read of each table, which reads the footer on
    // the driver, fires none; nor do the cached reads after it
    assert(jobsFiredBy(Tables(spark, dir, "orders")) === 0)
    assert(jobsFiredBy(Tables(spark, dir, "events")) === 0)
    assert(jobsFiredBy {
      Tables(spark, dir, "orders"); Tables(spark, dir, "events")
    } === 0)
    assert(Tables(spark, dir, "orders").count() === 2)
  }

  test("the driver-side footer schema is the schema Spark's inference reads") {
    def same(path: String): Unit =
      assert(FooterSchema.infer(spark, path) === Some(spark.read.parquet(path).schema), path)
    Tables.all.foreach(t => same(s"/root/testdata/sf0.001/$t.parquet"))
    // the three events ts encodings
    Seq(expr(s"${micros}L * 1000"),
        timestamp_micros(lit(micros)).cast(TimestampNTZType),
        timestamp_micros(lit(micros))).foreach { ts =>
      val dir = Files.createTempDirectory("tables_footer_ts").toString
      writeEvents(dir, ts)
      same(s"$dir/events.parquet")
    }
    // Spark-written directories: several part files and _SUCCESS; then a
    // partition column that only the directory names carry
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_footer_dir").toString
    val rows = (0 until 40).map(n => (n.toLong, s"d$n", n % 3)).toDF("id", "name", "part")
    rows.repartition(4).write.parquet(s"$dir/flat")
    same(s"$dir/flat")
    rows.repartition(4).write.partitionBy("part").parquet(s"$dir/parted")
    for (t <- Seq("flat", "parted")) {
      assert(jobsFiredBy(Tables.parquet(spark, s"$dir/$t")) === 0)
      assert(Tables.parquet(spark, s"$dir/$t").schema ===
        spark.read.parquet(s"$dir/$t").schema, t)
    }
  }

  test("a self-join of two Tables reads resolves with distinct attribute IDs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tables_selfjoin").toString
    val rows = (0 until 6).map(n => (n.toLong, (n % 3).toLong))
    rows.toDF("n_nationkey", "n_regionkey")
      .coalesce(1).write.parquet(s"$dir/nation.parquet")
    val a = Tables(spark, dir, "nation")
    val b = Tables(spark, dir, "nation")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val got = a.join(b, a("n_regionkey") === b("n_regionkey"))
      .select(a("n_nationkey"), b("n_nationkey")).as[(Long, Long)].collect().toSet
    val want = for ((x, rx) <- rows; (y, ry) <- rows if rx == ry) yield (x, y)
    assert(got === want.toSet)
  }

  test("an events table rewritten in place with a new ts type is re-inferred") {
    val dir = Files.createTempDirectory("tables_rewrite").toString
    writeEvents(dir, expr(s"${micros}L * 1000"))
    assertNormalized("longns", dir)
    assert(Tables.eventsSchema(spark, dir)("ts").dataType === LongType)
    writeEvents(dir, timestamp_micros(lit(micros)).cast(TimestampNTZType))
    assertNormalized("ntz", dir)
    assert(Tables.eventsSchema(spark, dir)("ts").dataType === TimestampNTZType)
    writeEvents(dir, timestamp_micros(lit(micros)))
    assertNormalized("ltz", dir)
    assert(Tables.eventsSchema(spark, dir)("ts").dataType === TimestampType)
  }
}
