package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Shared plumbing for the t2 oracle query corpus.
  *
  * Determinism rules (BASELINE.md): the driver hashes the Spark result against DuckDB
  * running `oracle` on the same parquet tables, so every hashed query must be
  * bit-reproducible across engines AND across partitionings:
  *
  *  - every query ends in a total ORDER BY (ties broken down to a unique key);
  *  - double aggregations go through exact DECIMAL sums ([[QueryDSL.dsum]]): cast each
  *    value to DECIMAL (exact, ties vanishingly unlikely on random doubles), sum
  *    exactly (associative — partitioning-independent, unlike double sums), cast back
  *    to DOUBLE. Both engines then produce identical bits;
  *  - top-level output columns are scalars only (arrays are joined to strings);
  *  - approximate operators (HLL, percentile_approx, LSH) are BENCH-only, never hashed;
  *  - the double→decimal cast inside [[dsum]] is engine-divergent at rounding
  *    boundaries (Spark rounds the double's SHORTEST-STRING form, DuckDB its exact
  *    binary expansion). The divergence only materializes when the decimal grid is
  *    finer than the double's ulp — i.e. |value| ≳ 1e8 at scale 8 — which is why
  *    plain sums and ~1e5-magnitude revenue products are safe but large SQUARES are
  *    not. For moments of large-magnitude expressions, cast the (few-decimal)
  *    inputs to DECIMAL first and multiply in decimal so no product is ever
  *    double-rounded (see agg_stats_exact / agg_corr_exact).
  */
object QueryDSL {
  /** (session, scale-factor dir) => result */
  type QFn = (SparkSession, String) => DataFrame

  final case class Q(name: String, fn: QFn, oracle: Option[String])

  /** Order-insensitive exact sum of a double expression. */
  def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(DataTypes.createDecimalType(30, scale))).cast("double")

  /** Order-insensitive exact mean: exact decimal sum / count, single double division. */
  def davg(c: Column, scale: Int = 4): Column = dsum(c, scale) / count(lit(1))

  /** DuckDB-side equivalent of [[dsum]]. */
  def sqlDsum(e: String, scale: Int = 4): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(30,$scale))) AS DOUBLE)"

  /** DuckDB-side equivalent of [[davg]]. */
  def sqlDavg(e: String, scale: Int = 4): String = s"${sqlDsum(e, scale)} / COUNT(*)"

  /** DuckDB: integer value of `len` hex nibbles of a hex-string expression starting
    * at 1-based `start` — the oracle mirror of Spark's
    * `conv(substring(hex, start, len), 16, 10)`. DuckDB has no hex-string→integer
    * cast, so the nibbles are summed positionally. Keep len ≤ 15 (fits BIGINT). */
  def sqlHexInt(hex: String, start: Int, len: Int): String =
    (0 until len).map { i =>
      val place = math.pow(16, len - 1 - i).toLong
      s"(instr('0123456789abcdef', substring($hex, ${start + i}, 1)) - 1) * CAST($place AS BIGINT)"
    }.mkString("(", " + ", ")")

  def t(s: SparkSession, dir: String, name: String): DataFrame = graft.Tables(s, dir, name)

  /** Spread a frame whose scan is serial over the cores before heavy per-row
    * work: `repartition(defaultParallelism, keys*)` (round-robin with no keys)
    * when `df`'s file-scan leaves hold fewer than defaultParallelism files,
    * else `df` unchanged: a scan with at least that many files already runs
    * at least as many tasks as the exchange would create.
    *
    * Why: split assignment is row-group aligned, and each testdata table is
    * one parquet file with one row group, so its scan — and every narrow
    * operator above it (decimal casts, exact dots, hashing, tokenizing) — runs
    * as ONE task. A table written as many files already scans in parallel;
    * there the exchange would be a pure extra full shuffle. The file count
    * comes from the relation's file index (`inputFiles`, no Spark job), so the
    * decision is made while the frame is built. A frame with no file scan
    * (a checkpoint, a local relation) counts zero files and is spread.
    *
    * Only for frames that stay spread across files: a small fixed subset
    * (`id < 150`) sits in a few files on a multi-file table, and a keyed
    * repartition whose partitioning later operators reuse is not a spread —
    * both keep an explicit `repartition`. */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val para = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length >= para) df
    else if (keys.isEmpty) df.repartition(para)
    else df.repartition(para, keys: _*)
  }

  /** Distributed global row_number over a TOTAL order, without the classic
    * `row_number() OVER (ORDER BY ...)` single-reducer sort — the
    * scan_global_row_ids two-level pattern packaged for reuse:
    *
    *  1. bucket every row by `bucket`, a MONOTONE function of the leading order
    *     key (so bucket order refines to row order and ties never span buckets);
    *  2. count rows per bucket and prefix-sum offsets on the tiny bucket frame
    *     (the only single-partition window ever run is over |buckets| rows);
    *  3. rank within each bucket in parallel (hash-partitioned by bucket) and
    *     add the broadcast offset.
    *
    * Appends `rankCol` (1-based LONG global row number under `order`) and
    * `totalCol` (LONG frame row count — the N that NTILE math needs). `order`
    * must be a total order for the rank to be deterministic. */
  def bandedRowNumber(df: DataFrame, bucket: Column, order: Seq[Column],
      rankCol: String, totalCol: String, bandPartitions: Int = 0): DataFrame = {
    // bandPartitions > 0 (round 16, §2.5 — the spearman window-sizing class):
    // hash-repartition on the band key FIRST, so (a) the within-band rank
    // window sorts core-parallel instead of on the 1-2 byte-sized partitions
    // AQE leaves for it, and (b) the band-count groupBy and the window share
    // that ONE exchange (same key — ReuseExchange dedups the repartition
    // subtree, where the default shape pays two separate exchanges over the
    // same input). Opt-in: for tiny frames the extra task-count constants
    // cost more than the parallel sort saves.
    val b0 = df.withColumn("__band", bucket)
    val b = if (bandPartitions > 0) b0.repartition(bandPartitions, col("__band"))
            else b0
    val offs = b.groupBy(col("__band")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(sum(col("__cnt")).over(
          Window.orderBy(col("__band"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn(totalCol, sum(col("__cnt")).over(
        Window.orderBy(col("__band")).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__band").as("__jband"), col("__off"), col(totalCol))
    // null-safe: a NULL bucket expression still forms a (correctly counted)
    // band — plain === would silently drop those rows vs the window semantics
    b.join(broadcast(offs), col("__band") <=> col("__jband"))
      .withColumn(rankCol,
        (col("__off") + row_number().over(
          Window.partitionBy(col("__band")).orderBy(order: _*))).cast("long"))
      .drop("__band", "__jband", "__off")
  }

  /** Exact NTILE(k) reconstructed from a 1-based global rank + total row count
    * (integer-only: the first `total mod k` tiles carry `⌈total/k⌉` rows, the
    * rest `⌊total/k⌋` — the ANSI definition). Composed with [[bandedRowNumber]]
    * this replaces `ntile(k) OVER (ORDER BY ...)` — which moves the WHOLE frame
    * through one reducer — with a fully parallel plan. Returns INT like
    * Spark's native ntile. */
  def ntileFromRank(rank: Column, total: Column, k: Int): Column = {
    val q = floor(total / lit(k)).cast("long")    // base tile size
    val rem = total % lit(k)                      // tiles carrying one extra row
    val cut = rem * (q + 1)                       // rows covered by the big tiles
    when(rank <= cut, floor((rank - 1) / (q + 1)) + 1)
      .otherwise(rem + floor((rank - lit(1) - cut) / q) + 1)
      .cast("int")
  }
}
