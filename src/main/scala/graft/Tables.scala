package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated synthetic tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Tables form a TPC-H-ish star schema plus `events` (stream table with JSON props),
  * `documents` and `embeddings` (LLM-pipeline tables). All queries take the scale-factor
  * directory as a parameter so the same plan runs at sf0.001 (smoke), sf0.01 (oracle)
  * and sf0.1+ (bench) — and, unchanged, on a real cluster at any scale: nothing below
  * hard-codes partition counts or collects to the driver.
  *
  * Schema cache. `spark.read.parquet` infers the footer schema in a Spark job
  * (~0.1 s) on every call; the corpus makes ~690 such calls. So each table's
  * footer schema is read once per (session, path) on the driver, with Spark's
  * own footer reader and from the file Spark's inference would pick
  * (`FooterSchema`, no job), and every read passes it back via
  * `spark.read.schema(footer).parquet(path)`, which fires no job either.
  *  - Key: the session is held weakly (a stopped, unreferenced session's entries
  *    go with it); within a session, the table's root path.
  *  - Invalidation: each hit is checked against the root path's modification time
  *    (one `FileSystem.getFileStatus`, not a Spark job). A table rewritten in place
  *    — a Spark overwrite recreates the directory, a file copy restamps the file —
  *    is inferred again.
  *  - Still per call: file listing (files added to a table directory are seen) and
  *    a fresh relation, so self-joins of two reads get distinct attribute IDs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any realistic scale factor. */
  val broadcastDims: Set[String] = Set("region", "nation", "supplier")

  private final case class Footer(mtime: Long, schema: StructType)

  private val footers = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Footer]]())

  /** The footer schema of the parquet file or directory at `path`, inferred at
    * most once per (session, path, modification time). Concurrent first reads
    * may both infer; they agree, so the last write wins harmlessly. A path with
    * no status (a glob, or nothing there) is left to Spark, which resolves it
    * or reports it in its own words. */
  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    scala.util.Try(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime).toOption match {
      case None => spark.read.parquet(path).schema
      case Some(mtime) =>
        val bySession =
          footers.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Footer]())
        val hit = bySession.get(path)
        if (hit != null && hit.mtime == mtime) hit.schema
        else {
          val schema = FooterSchema.infer(spark, path)
            .getOrElse(spark.read.parquet(path).schema)
          bySession.put(path, Footer(mtime, schema))
          schema
        }
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  /** The parquet file or directory at `path`, read with its cached footer
    * schema: what `spark.read.parquet(path)` returns, without its schema job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** `events.ts` has shipped with three physical parquet types across testdata
    * generations: TIMESTAMP(NANOS) (reads as long ns under the legacy conf),
    * TIMESTAMP_MICROS with isAdjustedToUTC=false (reads as TIMESTAMP_NTZ), and
    * plain UTC TIMESTAMP_MICROS. The loaders adapt off the footer schema so a
    * regenerated dataset never breaks the 100+ queries built on this table.
    * Returns the raw (footer) schema of `dir/events.parquet`; the batch and the
    * streaming loader both read with it and normalize with [[eventsTs]]. */
  private[graft] def eventsSchema(spark: SparkSession, dir: String): StructType = {
    // no-op unless the footer really is TIMESTAMP(NANOS); set before the first
    // inference and kept for every later read with the inferred LongType
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    footerSchema(spark, s"$dir/events.parquet")
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsTs(spark.read.schema(eventsSchema(spark, dir)).parquet(s"$dir/events.parquet"))
  /** Normalizes a raw events frame's `ts` to TimestampType (µs). */
  private[graft] def eventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      // `div` = integral division: ns epochs (~1.7e18) exceed double's 2^53 exact
      // range, so float division here would corrupt the low microseconds.
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // NTZ wall-clock reinterpreted in the (always-UTC) session zone: bit-exact
      // with what DuckDB reads from the same footer.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")

  /** Register every table as a temp view (named-source parity with the reference's
    * named-command references, SURVEY.md §2a R6). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
