package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryDSL._

/** Grouping sets, argmax, exact stats, collected lists, exact percentiles —
  * SURVEY.md §2b "Aggregations" (second half). Variance/stddev/covariance are computed
  * from exact decimal moments (n, Σx, Σx²) with one double formula evaluation at the
  * end — reproducible across engines and partitionings, unlike streaming variance. */
object AggregatesExt {

  val queries: Seq[Q] = Seq(
    // Pivot with an explicit value list (no extra distinct-values pass — at scale
    // the implicit-values form needs one full scan just to enumerate columns).
    Q("agg_pivot",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_linestatus")
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(dsum($"l_quantity"))
          .select($"l_linestatus", $"A".as("qty_a"), $"N".as("qty_n"),
            $"R".as("qty_r"))
          .orderBy($"l_linestatus")
      },
      Some(s"""SELECT l_linestatus,
              |  ${sqlDsum("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS qty_a,
              |  ${sqlDsum("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS qty_n,
              |  ${sqlDsum("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS qty_r
              |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // Pivot with MULTIPLE measures per cell (count + decimal-exact amount): Spark
    // suffixes the agg aliases onto the pivot values; both measures compute in the
    // SAME grouped pass (one shuffle, cells as conditional aggregates — no
    // re-scan per measure). Absent cells: count coalesces to 0, amount stays NULL
    // — mirroring the conditional-aggregate oracle exactly.
    Q("agg_pivot_multi",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderstatus")
          .pivot("o_orderpriority", Seq("1-URGENT", "5-LOW"))
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("amt"))
          .select($"o_orderstatus",
            coalesce(col("1-URGENT_n"), lit(0L)).as("urgent_n"),
            col("1-URGENT_amt").as("urgent_amt"),
            coalesce(col("5-LOW_n"), lit(0L)).as("low_n"),
            col("5-LOW_amt").as("low_amt"))
          .orderBy($"o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus,
              |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS urgent_n,
              |  ${sqlDsum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")}
              |    AS urgent_amt,
              |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS low_n,
              |  ${sqlDsum("CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END")}
              |    AS low_amt
              |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ABC (Pareto) classification of parts by revenue WITHOUT a global single-
    // reducer window over the part frame: fixed revenue bands give a coarse
    // global order, per-band totals prefix-sum into offsets on the tiny band
    // frame, and the fine cumulative sum runs within each band in parallel —
    // the scan_global_row_ids scheme, descending. Cumulative sums stay DECIMAL
    // until the final share division; the A/B/C boundary compares the ROUNDED
    // share so the class is engine-exact.
    Q("agg_abc_classification",
      (s, dir) => {
        import s.implicits._
        // Round 16: a §2.5 repartition-on-the-groupBy-key (basket_assoc
        // precedent) was tried and REVERTED — replacing the scan stage's
        // map-side combine (600k rows → 20k partial sums before the
        // exchange) with a raw-row shuffle read 1.40-2.35 s vs the 1.15 s
        // bench floor; the combine is worth more than the extra cores here,
        // and shuffling fewer bytes is also the 100 TB-correct shape.
        val rev = t(s, dir, "lineitem")
          .groupBy($"l_partkey")
          .agg(sum($"l_extendedprice".cast("decimal(30,4)")).as("revd"))
          .withColumn("band", floor($"revd" / 10000).cast("long"))
        val offs = rev.groupBy($"band").agg(sum($"revd").as("band_sum"))
          .withColumn("boffset",
            coalesce(sum($"band_sum").over(
              Window.orderBy($"band".desc)
                .rowsBetween(Window.unboundedPreceding, -1)),
              lit(BigDecimal(0)).cast("decimal(38,4)")))
          .select($"band", $"boffset")
        val tot = rev.agg(sum($"revd").as("totd"))
        val wIn = Window.partitionBy($"band")
          .orderBy($"revd".desc, $"l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val share = round(
          (($"boffset" + sum($"revd").over(wIn)).cast("double")) /
            $"totd".cast("double"), 9)
        rev.join(broadcast(offs), Seq("band"))
          .crossJoin(broadcast(tot))
          .select($"l_partkey", $"revd".cast("double").as("revenue"),
            share.as("cum_share"))
          .withColumn("abc_class",
            when($"cum_share" <= 0.5, "A")
              .when($"cum_share" <= 0.8, "B").otherwise("C"))
          .orderBy($"revenue".desc, $"l_partkey")
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey,
             |    SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS revd
             |  FROM lineitem GROUP BY l_partkey),
             |t AS (SELECT SUM(revd) AS totd FROM rev),
             |c AS (
             |  SELECT l_partkey, revd,
             |    SUM(revd) OVER (ORDER BY revd DESC, l_partkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM rev)
             |SELECT l_partkey, CAST(revd AS DOUBLE) AS revenue,
             |  round(CAST(cum AS DOUBLE) / CAST(totd AS DOUBLE), 9) AS cum_share,
             |  CASE
             |    WHEN round(CAST(cum AS DOUBLE) / CAST(totd AS DOUBLE), 9) <= 0.5 THEN 'A'
             |    WHEN round(CAST(cum AS DOUBLE) / CAST(totd AS DOUBLE), 9) <= 0.8 THEN 'B'
             |    ELSE 'C' END AS abc_class
             |FROM c CROSS JOIN t
             |ORDER BY revenue DESC, l_partkey""".stripMargin)),

    // Unpivot/melt (wide → long): ids stay, value columns become (metric, val) rows.
    Q("unpivot_melt",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_orderkey" < 100)
          .unpivot(
            Array($"l_orderkey", $"l_linenumber"),
            Array($"l_quantity", $"l_extendedprice", $"l_discount"),
            "metric", "val")
          .orderBy($"l_orderkey", $"l_linenumber", $"metric")
      },
      Some("""SELECT l_orderkey, l_linenumber, metric, val FROM (
             |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val
             |  FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
             |  FROM lineitem WHERE l_orderkey < 100
             |  UNION ALL
             |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             |  FROM lineitem WHERE l_orderkey < 100)
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    Q("agg_cube",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .cube($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("qty"),
            (grouping($"l_returnflag") * 2 + grouping($"l_linestatus")).as("gid"))
          .orderBy($"gid", $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
      },
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${sqlDsum("l_quantity")} AS qty,
              |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
              |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
              |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    Q("agg_rollup",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .rollup($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"),
            (grouping($"o_orderstatus") * 2 + grouping($"o_orderpriority")).as("gid"))
          .orderBy($"gid", $"o_orderstatus".asc_nulls_first,
            $"o_orderpriority".asc_nulls_first)
      },
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |  ${sqlDsum("o_totalprice")} AS total,
              |  GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid
              |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
              |ORDER BY gid, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    Q("agg_grouping_sets",
      (s, dir) => {
        graft.Tables.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
                |FROM lineitem
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |  GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Deterministic argmax per group via windowed pick (composite max_by isn't
    // portable); one shuffle on the group key.
    Q("agg_argmax",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_nationkey")
          .orderBy($"c_acctbal".desc, $"c_custkey")
        t(s, dir, "customer")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"c_nationkey", $"c_custkey".as("top_custkey"),
            $"c_name".as("top_name"), $"c_acctbal".as("top_bal"))
          .orderBy($"c_nationkey")
      },
      Some("""SELECT c_nationkey, c_custkey AS top_custkey, c_name AS top_name,
             |  c_acctbal AS top_bal
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_nationkey
             |        ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer)
             |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin)),

    // Two-pass centered moments: means first (exact decimal sum → one double
    // division), then exact decimal sums of centered products. No end-stage
    // cancellation, so the result is reproducible to the last bit.
    // Exact ONE-PASS variance/stddev/covariance: accumulate decimal-exact raw
    // moments (Σx, Σx², Σy, Σxy) in a single grouped aggregation, then finish with
    // the moment identities in double. The inputs are cast to DECIMAL(18,2) FIRST
    // (both columns carry ≤2 decimals, so the cast is unambiguous) and the products
    // are decimal×decimal — EXACT, never a double→decimal rounding of a long binary
    // expansion, which Spark (shortest-string HALF_UP) and DuckDB (exact-binary)
    // round differently at boundary values. Every sum is associative decimal —
    // partitioning-independent — and the double finish applies identical IEEE ops
    // to identical inputs in both engines, so the hash is exact WITHOUT the
    // two-pass mean-centering join (one scan + one shuffle). Values are shifted by
    // a constant near each mean so the x²-vs-(Σx)²/n subtraction keeps ample double
    // precision (shift identity: Var(x-K) = Var(x)).
    // Skewness and excess kurtosis from EXACT raw decimal moments — the 3rd/4th-
    // moment extension of agg_stats_exact. Each power is recast to a tight exact
    // decimal between multiplies (the products are exact rationals, so the casts
    // never round — they just keep precision within DECIMAL(38) while the sums
    // stay associative); the double finish uses one shared expression tree.
    Q("agg_skew_kurtosis",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(9,2)")
        val x2 = (xd * xd).cast("decimal(9,4)")
        val x3 = (x2 * xd).cast("decimal(12,6)")
        val x4 = x2 * x2
        val mean = $"s1" / $"n"
        val m2 = $"s2" / $"n" - mean * mean
        val m3 = $"s3" / $"n" - lit(3.0) * mean * ($"s2" / $"n") +
          lit(2.0) * mean * mean * mean
        val m4 = $"s4" / $"n" - lit(4.0) * mean * ($"s3" / $"n") +
          lit(6.0) * mean * mean * ($"s2" / $"n") -
          lit(3.0) * mean * mean * mean * mean
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(xd).cast("double").as("s1"),
            sum(x2).cast("double").as("s2"),
            sum(x3).cast("double").as("s3"),
            sum(x4).cast("double").as("s4"))
          .select($"l_returnflag", $"n",
            round(m3 / (m2 * sqrt(m2)), 9).as("skewness"),
            round(m4 / (m2 * m2) - lit(3.0), 9).as("kurtosis_excess"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |    CAST(l_quantity - 25.0 AS DECIMAL(9,2)) AS xd
             |  FROM lineitem),
             |p AS (
             |  SELECT l_returnflag, xd,
             |    CAST(xd * xd AS DECIMAL(9,4)) AS x2
             |  FROM v),
             |q AS (
             |  SELECT l_returnflag, xd, x2,
             |    CAST(x2 * xd AS DECIMAL(12,6)) AS x3,
             |    x2 * x2 AS x4
             |  FROM p),
             |c AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(xd) AS DOUBLE) AS s1, CAST(SUM(x2) AS DOUBLE) AS s2,
             |    CAST(SUM(x3) AS DOUBLE) AS s3, CAST(SUM(x4) AS DOUBLE) AS s4
             |  FROM q GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  round((s3 / n - 3.0 * (s1 / n) * (s2 / n) +
             |         2.0 * (s1 / n) * (s1 / n) * (s1 / n)) /
             |    ((s2 / n - (s1 / n) * (s1 / n)) *
             |     sqrt(s2 / n - (s1 / n) * (s1 / n))), 9) AS skewness,
             |  round((s4 / n - 4.0 * (s1 / n) * (s3 / n) +
             |         6.0 * (s1 / n) * (s1 / n) * (s2 / n) -
             |         3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) /
             |    ((s2 / n - (s1 / n) * (s1 / n)) *
             |     (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 9) AS kurtosis_excess
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Exact WEIGHTED percentile (weighted median of quantity by revenue weight):
    // collapse to the (group, value) grain with decimal weight sums, cumulate
    // over the per-group sorted value frame, and pick the first value whose
    // cumulative weight clears half the total — all comparisons in DECIMAL
    // (doubled, to avoid a division at the boundary). Windows run over the
    // AGGREGATED frame, never the fact.
    Q("agg_weighted_median",
      (s, dir) => {
        import s.implicits._
        val g = t(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_quantity")
          .agg(sum($"l_extendedprice".cast("decimal(30,4)")).as("wsum"))
        val wOrd = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy($"l_returnflag")
        g.withColumn("cum", sum($"wsum").over(wOrd))
          .withColumn("tot", sum($"wsum").over(wAll))
          .filter($"cum" * 2 >= $"tot")
          .groupBy($"l_returnflag")
          .agg(min($"l_quantity").as("weighted_median"),
            max($"tot").cast("double").as("total_weight"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH g AS (
             |  SELECT l_returnflag, l_quantity,
             |    SUM(CAST(l_extendedprice AS DECIMAL(30,4))) AS wsum
             |  FROM lineitem GROUP BY 1, 2),
             |c AS (
             |  SELECT l_returnflag, l_quantity,
             |    SUM(wsum) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    SUM(wsum) OVER (PARTITION BY l_returnflag) AS tot
             |  FROM g)
             |SELECT l_returnflag, MIN(l_quantity) AS weighted_median,
             |  CAST(MAX(tot) AS DOUBLE) AS total_weight
             |FROM c WHERE cum * 2 >= tot
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Geometric and harmonic means: both need a transcendental or reciprocal per
    // row, so each per-row term is cast to DECIMAL before the sum — the sums are
    // then associative/partitioning-independent, and the single exp()/division
    // finish matches across engines (ln/exp precedent: tf-idf), pinned by the
    // 6-digit rounding.
    Q("agg_geo_harmonic_mean",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(log($"o_totalprice").cast("decimal(30,12)")).cast("double").as("sl"),
            sum((lit(1.0) / $"o_totalprice").cast("decimal(30,12)"))
              .cast("double").as("sr"))
          .select($"o_orderstatus", $"n",
            round(exp($"sl" / $"n"), 6).as("geo_mean"),
            round($"n" / $"sr", 6).as("harmonic_mean"))
          .orderBy($"o_orderstatus")
      },
      Some("""WITH c AS (
             |  SELECT o_orderstatus, COUNT(*) AS n,
             |    CAST(SUM(CAST(ln(o_totalprice) AS DECIMAL(30,12))) AS DOUBLE) AS sl,
             |    CAST(SUM(CAST(1.0 / o_totalprice AS DECIMAL(30,12))) AS DOUBLE) AS sr
             |  FROM orders GROUP BY o_orderstatus)
             |SELECT o_orderstatus, n,
             |  round(exp(sl / n), 6) AS geo_mean,
             |  round(n / sr, 6) AS harmonic_mean
             |FROM c ORDER BY o_orderstatus""".stripMargin)),

    Q("agg_stats_exact",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(18,2)")
        val yd = ($"l_extendedprice" - 40000.0d).cast("decimal(18,2)")
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(xd).cast("double").as("sx"),
            sum(xd * xd).cast("double").as("sxx"),
            sum(yd).cast("double").as("sy"),
            sum(xd * yd).cast("double").as("sxy"))
          .select($"l_returnflag", $"n",
            (($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("var_samp_qty"),
            sqrt(($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("stddev_samp_qty"),
            (($"sxy" - $"sx" * $"sy" / $"n") / ($"n" - 1)).as("covar_samp"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |    CAST(l_quantity - 25.0 AS DECIMAL(18,2)) AS xd,
             |    CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)) AS yd
             |  FROM lineitem),
             |c AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(xd) AS DOUBLE) AS sx,
             |    CAST(SUM(xd * xd) AS DOUBLE) AS sxx,
             |    CAST(SUM(yd) AS DOUBLE) AS sy,
             |    CAST(SUM(xd * yd) AS DOUBLE) AS sxy
             |  FROM v GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  (sxx - sx * sx / n) / (n - 1) AS var_samp_qty,
             |  sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_samp_qty,
             |  (sxy - sx * sy / n) / (n - 1) AS covar_samp
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    Q("agg_collect_sorted",
      (s, dir) => {
        import s.implicits._
        // Per-customer (not per-status): every status sees all 5 priorities,
        // so the collected list would be one constant string. A customer's
        // ~10 orders cover 1-5 distinct priorities, so the lists vary.
        t(s, dir, "orders").filter($"o_custkey" < 200)
          .groupBy($"o_custkey")
          .agg(
            concat_ws(",", array_sort(collect_set($"o_orderpriority"))).as("priorities"),
            count(lit(1)).as("n"))
          .orderBy($"o_custkey")
      },
      Some("""SELECT o_custkey,
             |  array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS priorities,
             |  COUNT(*) AS n
             |FROM orders WHERE o_custkey < 200
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // Exact median via positional pick — deterministic in both engines (interpolating
    // percentile implementations differ in fp detail; approximate ones are BENCH-only).
    Q("agg_median_positional",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity", $"l_orderkey",
          $"l_linenumber")
        t(s, dir, "lineitem")
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"l_returnflag")))
          .filter($"rn" === floor(($"cnt" + 1) / 2).cast("long"))
          .select($"l_returnflag", $"l_quantity".as("median_low"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, l_quantity AS median_low FROM (
             |  SELECT l_returnflag, l_quantity,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
             |  FROM lineitem)
             |WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT) ORDER BY l_returnflag""".stripMargin)),

    // Exact interpolated percentiles (percentile_cont semantics): Spark's exact
    // `percentile` vs DuckDB's `quantile_cont`. l_quantity is integer-valued, so the
    // linear interpolation lands on exact .0/.25/.5/.75 doubles — bit-identical in
    // both engines regardless of each engine's interpolation formula associativity.
    Q("agg_percentile_cont",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qs"),
            count(lit(1)).as("n"))
          .select($"l_returnflag",
            element_at($"qs", 1).as("q25"),
            element_at($"qs", 2).as("q50"),
            element_at($"qs", 3).as("q75"),
            $"n")
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_quantity, 0.25) AS q25,
             |  quantile_cont(l_quantity, 0.50) AS q50,
             |  quantile_cont(l_quantity, 0.75) AS q75,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Deterministic mode (most frequent value per group): built-in mode() leaves
    // tie-breaking engine-defined, so this uses the explicit count + row_number
    // formulation with a total tie order (count desc, then value asc) — same rows in
    // any engine and under any partitioning. Two key-partitioned shuffles: the
    // (group, value) count, then a window over the small per-group value set.
    Q("agg_mode_deterministic",
      (s, dir) => {
        import s.implicits._
        val cnt = t(s, dir, "orders")
          .groupBy($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"o_orderstatus")
          .orderBy($"n".desc, $"o_orderpriority")
        cnt.withColumn("rn", row_number().over(w))
          .filter($"rn" === 1)
          .select($"o_orderstatus", $"o_orderpriority".as("mode_pri"), $"n")
          .orderBy($"o_orderstatus")
      },
      Some("""WITH c AS (
             |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
             |  FROM orders GROUP BY 1, 2),
             |r AS (
             |  SELECT *, row_number() OVER (PARTITION BY o_orderstatus
             |    ORDER BY n DESC, o_orderpriority) AS rn FROM c)
             |SELECT o_orderstatus, o_orderpriority AS mode_pri, n
             |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),

    // Exact Pearson correlation, same one-pass decimal-raw-moments scheme as
    // agg_stats_exact (DECIMAL(18,2) inputs → exact decimal products and sums →
    // double finish): corr = cov / sqrt(varx · vary). One scan, one shuffle,
    // bit-exact across engines and partitionings — what corr() can't promise (its
    // double accumulation is order-dependent).
    Q("agg_corr_exact",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(18,2)")
        val yd = ($"l_extendedprice" - 40000.0d).cast("decimal(18,2)")
        // Decimal sums are partitioning-independent; the groupBy output is
        // 3 rows.
        spread(t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice"),
          $"l_extendedprice")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(xd).cast("double").as("sx"),
            sum(xd * xd).cast("double").as("sxx"),
            sum(yd).cast("double").as("sy"),
            sum(yd * yd).cast("double").as("syy"),
            sum(xd * yd).cast("double").as("sxy"))
          .select($"l_returnflag", $"n",
            (($"sxy" - $"sx" * $"sy" / $"n") /
              sqrt(($"sxx" - $"sx" * $"sx" / $"n") *
                   ($"syy" - $"sy" * $"sy" / $"n"))).as("corr_qty_price"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |    CAST(l_quantity - 25.0 AS DECIMAL(18,2)) AS xd,
             |    CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)) AS yd
             |  FROM lineitem),
             |c AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(xd) AS DOUBLE) AS sx,
             |    CAST(SUM(xd * xd) AS DOUBLE) AS sxx,
             |    CAST(SUM(yd) AS DOUBLE) AS sy,
             |    CAST(SUM(yd * yd) AS DOUBLE) AS syy,
             |    CAST(SUM(xd * yd) AS DOUBLE) AS sxy
             |  FROM v GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  (sxy - sx * sy / n) /
             |    sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_qty_price
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Equi-width histogram (feature binning): map-only bucket assignment + one
    // grouped count — the output is |buckets| rows regardless of input size, and
    // the bucket arithmetic stays in whole-stage codegen. The top bucket is capped
    // (least) so outliers don't mint unbounded bucket ids.
    Q("agg_histogram_equiwidth",
      (s, dir) => {
        import s.implicits._
        val width = 10000.0d
        t(s, dir, "orders")
          .select(least(floor($"o_totalprice" / width), lit(19L)).as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
          .select($"bucket", ($"bucket" * width).as("lo"),
            (($"bucket" + 1L) * width).as("hi"), $"n")
          .orderBy($"bucket")
      },
      Some("""WITH b AS (
             |  SELECT LEAST(CAST(floor(o_totalprice / 10000) AS BIGINT), 19)
             |    AS bucket
             |  FROM orders)
             |SELECT bucket, bucket * 10000.0 AS lo, (bucket + 1) * 10000.0 AS hi,
             |  COUNT(*) AS n
             |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Spearman rank correlation: average-rank transform (rank + (ties-1)/2 — the
    // standard tie treatment, equivalently #smaller + (ties+1)/2) composed with
    // the exact decimal-moment Pearson of agg_corr_exact. Ranks carry at most one
    // decimal (.5 from tie averaging), so DECIMAL(18,1) inputs keep every product
    // exact. NO full-fact rank window on the 3-value group key (that plan sorts
    // the whole fact through 3 reducers): quantity is ~50 discrete values, so its
    // average ranks come straight off the per-(flag,quantity) HISTOGRAM
    // (prefix-sum over ≤50 rows per flag, broadcast-joined back — the agg_mad
    // value-histogram pattern); near-continuous price gets the two-level BANDED
    // rank (per-(flag,price-band) counts → broadcast offsets → within-band rank,
    // hash-parallel across ~100 bands per flag — the agg_histogram_equidepth
    // range-bucket pattern). Tie counts ride the same banded sort via the
    // peers-only RANGE frame, so price needs ONE exchange total.
    Q("agg_spearman_corr",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice")
        // quantity: avg rank per DISTINCT value = #smaller + (cnt+1)/2
        val qr = li.groupBy($"l_returnflag".as("qf"), $"l_quantity".as("qv"))
          .agg(count(lit(1)).as("qc"))
          .withColumn("qlt", coalesce(sum($"qc").over(
            Window.partitionBy($"qf").orderBy($"qv")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"qf", $"qv",
            ($"qlt" + ($"qc" + 1) / 2.0).cast("decimal(18,1)").as("rx"))
        // price: banded global rank within each flag
        // The within-band rank window is the query's dominant stage, and AQE
        // coalesces its input to a few byte-sized partitions; an explicit
        // repartition on the window's own key sizes that sort to the cores
        // (the band-count groupBy and the window then add NO further
        // exchange — same key).
        val banded = li.withColumn("pband",
          floor($"l_extendedprice" / 1000).cast("long"))
          .repartition(s.sparkContext.defaultParallelism,
            $"l_returnflag", $"pband")
        val poff = banded.groupBy($"l_returnflag".as("pf"), $"pband".as("pb"))
          .agg(count(lit(1)).as("pc"))
          .withColumn("poff", coalesce(sum($"pc").over(
            Window.partitionBy($"pf").orderBy($"pb")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"pf", $"pb", $"poff")
        val wRank = Window.partitionBy($"l_returnflag", $"pband")
          .orderBy($"l_extendedprice")
        val wTies = wRank.rangeBetween(Window.currentRow, Window.currentRow)
        val ranked = banded
          .join(broadcast(qr), $"l_returnflag" === $"qf" && $"l_quantity" === $"qv")
          .join(broadcast(poff), $"l_returnflag" === $"pf" && $"pband" === $"pb")
          .withColumn("ry",
            ($"poff" + rank().over(wRank) +
              (count(lit(1)).over(wTies) - 1) / 2.0).cast("decimal(18,1)"))
        ranked.groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum($"rx").cast("double").as("sx"),
            sum($"rx" * $"rx").cast("double").as("sxx"),
            sum($"ry").cast("double").as("sy"),
            sum($"ry" * $"ry").cast("double").as("syy"),
            sum($"rx" * $"ry").cast("double").as("sxy"))
          .select($"l_returnflag", $"n",
            (($"sxy" - $"sx" * $"sy" / $"n") /
              sqrt(($"sxx" - $"sx" * $"sx" / $"n") *
                   ($"syy" - $"sy" * $"sy" / $"n"))).as("spearman_qty_price"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH r AS (
             |  SELECT l_returnflag,
             |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
             |      + (COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)
             |        / 2.0 AS DECIMAL(18,1)) AS rx,
             |    CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
             |      + (COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)
             |        / 2.0 AS DECIMAL(18,1)) AS ry
             |  FROM lineitem),
             |c AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(rx) AS DOUBLE) AS sx,
             |    CAST(SUM(rx * rx) AS DOUBLE) AS sxx,
             |    CAST(SUM(ry) AS DOUBLE) AS sy,
             |    CAST(SUM(ry * ry) AS DOUBLE) AS syy,
             |    CAST(SUM(rx * ry) AS DOUBLE) AS sxy
             |  FROM r GROUP BY l_returnflag)
             |SELECT l_returnflag, n,
             |  (sxy - sx * sy / n) /
             |    sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
             |    AS spearman_qty_price
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Exact weighted average (quantity-weighted unit price): inputs cast to
    // DECIMAL FIRST and multiplied in decimal (the QueryDSL boundary rule — a
    // double product decimalized afterwards rounds engine-divergently), both sums
    // exact, ONE double division at the end — the weighted-mean primitive behind
    // blended rates and weighted quality scores, immune to partitioning and float
    // accumulation order.
    Q("agg_weighted_avg",
      (s, dir) => {
        import s.implicits._
        val pd = $"l_extendedprice".cast("decimal(18,2)")
        val qd = $"l_quantity".cast("decimal(18,2)")
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            (sum(pd * qd).cast("double") / sum(qd).cast("double"))
              .as("wavg_price"),
            count(lit(1)).as("n"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
             |           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) /
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS wavg_price,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // min_by / max_by aggregates — "value of X at the extreme of Y" in ONE grouped
    // pass (the window-free spelling of agg_argmax). The ordering key is a struct
    // with the id as tiebreak, so the picked row is total-order deterministic;
    // the oracle mirrors with ROW_NUMBER because composite arg_max keys are not
    // portable SQL.
    Q("agg_min_max_by",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(
            max_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("priciest_order"),
            min_by($"o_orderkey", struct($"o_totalprice", $"o_orderkey"))
              .as("cheapest_order"),
            count(lit(1)).as("n"))
          .orderBy($"o_orderpriority")
      },
      Some("""WITH r AS (
             |  SELECT o_orderpriority, o_orderkey,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rx,
             |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
             |  FROM orders)
             |SELECT o_orderpriority,
             |  MAX(CASE WHEN rx = 1 THEN o_orderkey END) AS priciest_order,
             |  MAX(CASE WHEN rn = 1 THEN o_orderkey END) AS cheapest_order,
             |  COUNT(*) AS n
             |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Boolean aggregates: bool_and / bool_or / every / count_if — the predicate
    // rollups behind data-quality assertions ("ALL rows in the group satisfy X",
    // "ANY row violates Y") without materializing violating rows. Partial-aggregable
    // like any min/max, so map-side combine keeps the shuffle one row per group.
    Q("agg_boolean",
      (s, dir) => {
        import s.implicits._
        // Bucketed by customer hash so each boolean genuinely varies across
        // groups (by priority, all three were constant — green even with the
        // aggregates stubbed to literals). The third is a FILTERed every():
        // null inputs (rows outside the date tail) are ignored by bool_and
        // on both engines.
        t(s, dir, "orders")
          .groupBy(($"o_custkey" % 16).as("cust_bucket"))
          .agg(
            bool_and($"o_totalprice" > 2000.0).as("all_over_2k"),
            bool_or($"o_totalprice" > 498000.0).as("any_jumbo"),
            every(when($"o_orderdate" >= "2001-07-20",
              $"o_totalprice" > 100000.0)).as("tail_all_over_100k"),
            count_if($"o_totalprice" > 200000.0).as("n_big"))
          .orderBy($"cust_bucket")
      },
      Some("""SELECT o_custkey % 16 AS cust_bucket,
             |  bool_and(o_totalprice > 2000.0) AS all_over_2k,
             |  bool_or(o_totalprice > 498000.0) AS any_jumbo,
             |  bool_and(o_totalprice > 100000.0)
             |    FILTER (o_orderdate >= TIMESTAMP '2001-07-20')
             |    AS tail_all_over_100k,
             |  CAST(SUM(CASE WHEN o_totalprice > 200000.0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_big
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
