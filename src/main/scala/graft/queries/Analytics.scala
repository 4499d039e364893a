package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryDSL._
import graft.llm.{TextFunctions => TF}

/** Statistical / graph / experimentation analytics — the operator families an
  * analytics engine needs beyond the relational core: closed-form regression,
  * distribution diagnostics, graph motifs, marketing attribution, and A/B
  * evaluation. Every query follows the determinism rules in [[QueryDSL]]
  * (decimal-exact moments, identical double expression trees on both engines,
  * total ORDER BY).
  *
  * Reference anchor: the reference's task archetypes end at opaque subprocess
  * transforms (`/root/reference/xetl/models/task.py:319-328`); these are the
  * engine-native analyses users would otherwise shell out for.
  */
object Analytics {

  val queries: Seq[Q] = Seq(

    // Group-wise OLS regression (closed-form): slope/intercept/r² of price on
    // quantity per return flag, from ONE grouped pass of decimal-exact moments —
    // the agg_corr_exact machinery extended to the full regression readout. At
    // 100 TB this is a single map-side-combined shuffle on the group key; no
    // second pass, no driver math. Moments are centered decimals (exact,
    // associative, partitioning-independent); slope/intercept/r² are identical
    // IEEE double expression trees on both engines.
    Q("agg_regression_ols",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(18,2)")
        val yd = ($"l_extendedprice" - 40000.0d).cast("decimal(18,2)")
        val slope = ($"sxy" - $"sx" * $"sy" / $"n") /
          ($"sxx" - $"sx" * $"sx" / $"n")
        // Decimal sums are partitioning-independent.
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
            slope.as("slope"),
            ((lit(40000.0d) + $"sy" / $"n") -
              slope * (lit(25.0d) + $"sx" / $"n")).as("intercept"),
            ((($"sxy" - $"sx" * $"sy" / $"n") * ($"sxy" - $"sx" * $"sy" / $"n")) /
              (($"sxx" - $"sx" * $"sx" / $"n") *
               ($"syy" - $"sy" * $"sy" / $"n"))).as("r2"))
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
             |  (sxy - sx * sy / n) / (sxx - sx * sx / n) AS slope,
             |  (40000.0 + sy / n) -
             |    ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * (25.0 + sx / n)
             |    AS intercept,
             |  ((sxy - sx * sy / n) * (sxy - sx * sy / n)) /
             |    ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS r2
             |FROM c ORDER BY l_returnflag""".stripMargin)),

    // Equi-depth histogram WITHOUT a global row-number over the raw table: the
    // scalable formulation first collapses to the value histogram (one grouped
    // count — at 100 TB the only full-data pass), then computes the cumulative
    // distribution with a TWO-LEVEL prefix sum — range-bucket the values, window
    // only within each range bucket, and carry cross-bucket offsets on the tiny
    // per-bucket frame (the text_token_budget_pack pattern). No stage ever sorts
    // more than one range-bucket's distinct values on one reducer. Each value's
    // equi-depth bucket then derives from its cumulative start position with
    // pure integer arithmetic (`div` — no doubles, no engine-specific rounding);
    // duplicates of a value share a start position, so values never split across
    // buckets — partitioning- and engine-independent.
    Q("agg_histogram_equidepth",
      (s, dir) => {
        import s.implicits._
        // range bucket: any deterministic ORDER-PRESERVING coarsening works
        // (Spark-side only — the oracle computes the same cum another way)
        val h = t(s, dir, "lineitem")
          .groupBy($"l_extendedprice".as("v")).agg(count(lit(1)).as("c"))
          .withColumn("rb", floor($"v" / 1000.0d))
        val offsets = h.groupBy($"rb").agg(sum($"c").as("rb_c"))
          .withColumn("offset", coalesce(
            sum($"rb_c").over(Window.orderBy($"rb")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum($"rb_c").over(Window.partitionBy()))
          .select($"rb", $"offset", $"n")
        h.join(broadcast(offsets), Seq("rb"))
          .withColumn("cum", $"offset" + sum($"c").over(
            Window.partitionBy($"rb").orderBy($"v")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("bucket", expr("(((cum - c) * 8) div n) + 1"))
          .groupBy($"bucket")
          .agg(sum($"c").cast("bigint").as("cnt"),
            min($"v").as("lo"), max($"v").as("hi"))
          .orderBy($"bucket")
      },
      Some("""WITH h AS (
             |  SELECT l_extendedprice AS v, COUNT(*) AS c
             |  FROM lineitem GROUP BY 1),
             |cd AS (
             |  SELECT v, c,
             |    CAST(SUM(c) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum,
             |    CAST(SUM(c) OVER () AS BIGINT) AS n
             |  FROM h)
             |SELECT (((cum - c) * 8) // n) + 1 AS bucket,
             |  CAST(SUM(c) AS BIGINT) AS cnt, MIN(v) AS lo, MAX(v) AS hi
             |FROM cd GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Median absolute deviation per group (robust spread): positional low-median
    // of |x − median|, computed from the VALUE HISTOGRAM rather than row-level
    // windows — quantity has ~50 distinct values, so after one grouped count the
    // median and MAD both come from cumulative sums over tiny per-group frames
    // (the positional median at floor((n+1)/2) is the smallest value whose
    // cumulative count reaches that position — identical to the oracle's
    // row_number formulation, at a fraction of the sort). The full-table work is
    // ONE map-side-combined count; everything after runs on |groups|·|values|
    // rows.
    Q("agg_mad",
      (s, dir) => {
        import s.implicits._
        def posMedian(h: org.apache.spark.sql.DataFrame, valueCol: String) = {
          // h: (l_returnflag, <valueCol>, c) → (l_returnflag, median of value)
          val cw = Window.partitionBy($"l_returnflag").orderBy(col(valueCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          h.withColumn("cum", sum($"c").over(cw))
            .withColumn("tot", sum($"c").over(Window.partitionBy($"l_returnflag")))
            .filter($"cum" >= floor(($"tot" + 1) / 2).cast("long"))
            .groupBy($"l_returnflag")
            .agg(min(col(valueCol)).as("m"))
        }
        val h = t(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_quantity").agg(count(lit(1)).as("c"))
        val med = posMedian(h, "l_quantity")
          .select($"l_returnflag".as("mf"), $"m".as("med"))
        val devH = h.join(broadcast(med), $"l_returnflag" === $"mf")
          .withColumn("dev", abs($"l_quantity" - $"med"))
          .groupBy($"l_returnflag", $"med", $"dev").agg(sum($"c").as("c"))
        val mad = posMedian(devH.drop("med"), "dev")
        med.join(mad, $"mf" === $"l_returnflag")
          .select($"l_returnflag", $"med".as("median_low"), $"m".as("mad_low"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH med AS (
             |  SELECT l_returnflag AS mf, l_quantity AS med FROM (
             |    SELECT l_returnflag, l_quantity,
             |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |        ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
             |      COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
             |    FROM lineitem)
             |  WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)),
             |dev AS (
             |  SELECT l_returnflag, med, abs(l_quantity - med) AS dev,
             |    l_orderkey, l_linenumber
             |  FROM lineitem JOIN med ON l_returnflag = mf)
             |SELECT l_returnflag, med AS median_low, dev AS mad_low FROM (
             |  SELECT l_returnflag, med, dev,
             |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
             |      ORDER BY dev, l_orderkey, l_linenumber) AS rn,
             |    COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
             |  FROM dev)
             |WHERE rn = CAST(floor((cnt + 1) / 2) AS BIGINT)
             |ORDER BY l_returnflag""".stripMargin)),

    // Triangle counting on the nation-level trade graph. The undirected edge set
    // is stored ORIENTED (src < dst), so each triangle is counted exactly once by
    // the canonical a<b<c wedge-close join — the standard trick that bounds the
    // join fan-out by the smaller-degree endpoint instead of counting every
    // triangle 6×. All three legs are equi-joins (hash-partitionable at any
    // scale); the graph itself is the output of one grouped fact pass.
    Q("graph_triangle_count",
      (s, dir) => {
        import s.implicits._
        val raw = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .select($"c_nationkey".as("x"), $"s_nationkey".as("y"))
          .filter($"x" =!= $"y")
        val ue = raw.select(least($"x", $"y").as("a"), greatest($"x", $"y").as("b"))
          .distinct()
        val e1 = ue.select($"a".as("a1"), $"b".as("b1"))
        val e2 = ue.select($"a".as("a2"), $"b".as("b2"))
        val e3 = ue.select($"a".as("a3"), $"b".as("b3"))
        e1.join(e2, $"b1" === $"a2")
          .join(e3, $"a1" === $"a3" && $"b2" === $"b3")
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some("""WITH raw AS (
             |  SELECT c_nationkey AS x, s_nationkey AS y
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  WHERE c_nationkey <> s_nationkey),
             |ue AS (
             |  SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b FROM raw)
             |SELECT COUNT(*) AS n_triangles
             |FROM ue e1 JOIN ue e2 ON e1.b = e2.a
             |  JOIN ue e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin)),

    // BFS hop counts from nation 0 over the DIRECTED trade graph: four rounds of
    // frontier-expand (equi-join) + min-hop collapse — Pregel-by-joins, like
    // graph_pagerank but for reachability. Each round shuffles only the frontier
    // (≤ |V| rows after the distinct), never the fact table. The oracle is the
    // textbook bounded recursive CTE.
    Q("graph_bfs_hops",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .select($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .filter($"src" =!= $"dst")
          .distinct()
          .localCheckpoint() // small edge list; cut the 4-join lineage once
        var frontier = e.filter($"src" === 0)
          .select($"src".as("node")).distinct()
          .withColumn("hops", lit(0))
        var reached = frontier
        for (h <- 1 to 4) {
          frontier = frontier.join(e, $"node" === $"src")
            .select($"dst".as("node")).distinct()
            .withColumn("hops", lit(h))
          reached = reached.union(frontier)
        }
        reached.groupBy($"node").agg(min($"hops").as("hops")).orderBy($"node")
      },
      Some("""WITH RECURSIVE e AS (
             |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  WHERE c_nationkey <> s_nationkey),
             |r AS (
             |  SELECT DISTINCT src AS node, 0 AS hops FROM e WHERE src = 0
             |  UNION ALL
             |  SELECT e.dst, r.hops + 1 FROM r JOIN e ON e.src = r.node
             |  WHERE r.hops < 4)
             |SELECT node, MIN(hops) AS hops FROM r GROUP BY node
             |ORDER BY node""".stripMargin)),

    // Last-touch marketing attribution: each purchase is credited to the user's
    // most recent preceding click/view ('direct' when none). One key-partitioned
    // window (last over a 1-preceding frame, ignoreNulls) carries the touch
    // forward — the classic "attach latest qualifying prior event" shape, done
    // with zero self-joins; then one grouped rollup of count + exact revenue.
    Q("events_attribution_last_touch",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, dir, "events")
          .withColumn("last_touch",
            last(when($"event_type".isin("click", "view"), $"event_type"),
              ignoreNulls = true).over(w))
          .filter($"event_type" === "purchase")
          .groupBy(coalesce($"last_touch", lit("direct")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"), dsum($"value").as("revenue"))
          .orderBy($"channel")
      },
      Some(s"""WITH t AS (
              |  SELECT event_type, value,
              |    last_value(CASE WHEN event_type IN ('click','view')
              |                    THEN event_type END IGNORE NULLS)
              |      OVER (PARTITION BY user_id ORDER BY ts, event_id
              |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS last_touch
              |  FROM events)
              |SELECT COALESCE(last_touch, 'direct') AS channel,
              |  COUNT(*) AS n_purchases, ${sqlDsum("value")} AS revenue
              |FROM t WHERE event_type = 'purchase'
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Join-key skew diagnostic: the distribution of per-key group sizes
    // (max / positional p50 / positional p99 / mean / skew ratio) in one pass
    // over the COMPRESSED key histogram — the report that decides between a
    // plain shuffle join and the salted variant (join_skew_salted /
    // agg_skew_twolevel) before burning a 100 TB shuffle. The global window runs
    // over |distinct keys| rows, not the fact table; positional percentiles use
    // pure integer positions (no interpolation, engine-independent).
    Q("dq_skew_report",
      (s, dir) => {
        import s.implicits._
        val sizes = t(s, dir, "lineitem")
          .groupBy($"l_suppkey").agg(count(lit(1)).as("sz"))
        sizes
          .withColumn("rn", row_number().over(Window.orderBy($"sz", $"l_suppkey")))
          .withColumn("k", count(lit(1)).over(Window.partitionBy()))
          .agg(
            count(lit(1)).as("n_keys"),
            sum($"sz").cast("bigint").as("n_rows"),
            max($"sz").as("max_sz"),
            min(when($"rn" === floor(($"k" + 1) / 2).cast("long"), $"sz"))
              .as("p50_sz"),
            min(when($"rn" === expr("(99 * k + 99) div 100"), $"sz"))
              .as("p99_sz"))
          .select($"n_keys", $"n_rows", $"max_sz", $"p50_sz", $"p99_sz",
            ($"n_rows".cast("double") / $"n_keys").as("avg_sz"),
            ($"max_sz" / ($"n_rows".cast("double") / $"n_keys")).as("skew_ratio"))
      },
      Some("""WITH sizes AS (
             |  SELECT l_suppkey, COUNT(*) AS sz FROM lineitem GROUP BY 1),
             |r AS (
             |  SELECT sz,
             |    ROW_NUMBER() OVER (ORDER BY sz, l_suppkey) AS rn,
             |    COUNT(*) OVER () AS k
             |  FROM sizes),
             |a AS (
             |  SELECT COUNT(*) AS n_keys,
             |    CAST(SUM(sz) AS BIGINT) AS n_rows,
             |    MAX(sz) AS max_sz,
             |    MIN(CASE WHEN rn = CAST(floor((k + 1) / 2) AS BIGINT)
             |             THEN sz END) AS p50_sz,
             |    MIN(CASE WHEN rn = (99 * k + 99) // 100 THEN sz END) AS p99_sz
             |  FROM r)
             |SELECT n_keys, n_rows, max_sz, p50_sz, p99_sz,
             |  CAST(n_rows AS DOUBLE) / n_keys AS avg_sz,
             |  max_sz / (CAST(n_rows AS DOUBLE) / n_keys) AS skew_ratio
             |FROM a""".stripMargin)),

    // Quantile-rank feature normalization: percent_rank of account balance
    // WITHIN nation plus an integer decile — the rank-based transform that makes
    // heavy-tailed features comparable across segments. percent_rank is
    // (rank−1)/(n−1) in both engines (ties share a rank, so the value is
    // determined by the data alone); the decile derives from the same two
    // integers, floored after exact small-integer double division.
    Q("feat_quantile_rank",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal")
        t(s, dir, "customer")
          .select($"c_custkey", $"c_nationkey", $"c_acctbal",
            percent_rank().over(w).as("pr"),
            (least(lit(9L),
              floor((rank().over(w) - 1) * 10 /
                greatest(count(lit(1)).over(Window.partitionBy($"c_nationkey")) - 1,
                  lit(1L)))
                .cast("long")) + 1).as("decile"))
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_nationkey, c_acctbal,
             |  percent_rank() OVER w AS pr,
             |  least(9, CAST(floor(
             |    (rank() OVER w - 1) * 10 /
             |    greatest(COUNT(*) OVER (PARTITION BY c_nationkey) - 1, 1))
             |    AS BIGINT)) + 1 AS decile
             |FROM customer
             |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
             |ORDER BY c_custkey""".stripMargin)),

    // Calendar date-dimension generation: a sequence generator (not a driver
    // loop) spans the fact table's own [min, max] date range; every attribute is
    // a pure column function. The ISO weekday is spelled out arithmetically on
    // the Spark side ((dayofweek+5) % 7 + 1) to pin the Monday=1 convention the
    // oracle's isodow uses — cross-engine weekday numbering is convention, not
    // math, so the query declares it.
    Q("gen_date_dim",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .agg(min(to_date($"o_orderdate")).as("d0"),
            max(to_date($"o_orderdate")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
          .select($"d",
            year($"d").as("y"), quarter($"d").as("q"),
            month($"d").as("m"), dayofmonth($"d").as("dom"),
            (((dayofweek($"d") + 5) % 7) + 1).as("isodow"),
            ($"d" === last_day($"d")).as("is_month_end"),
            (((dayofweek($"d") + 5) % 7) + 1 >= 6).as("is_weekend"))
          .orderBy($"d")
      },
      Some("""WITH span AS (
             |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
             |    CAST(MAX(o_orderdate) AS DATE) AS d1
             |  FROM orders),
             |spine AS (
             |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
             |    AS d
             |  FROM span)
             |SELECT d, year(d) AS y, quarter(d) AS q, month(d) AS m,
             |  dayofmonth(d) AS dom, isodow(d) AS isodow,
             |  d = last_day(d) AS is_month_end,
             |  isodow(d) >= 6 AS is_weekend
             |FROM spine ORDER BY d""".stripMargin)),

    // A/B experiment readout with Welch's t statistic: deterministic arm
    // assignment from an md5 nibble of the user id (the sample_stratified_hash
    // bucketing — portable across engines, stable across reruns), then ONE
    // global aggregate of conditional decimal-exact moments for both arms, and
    // the t statistic as an identical double expression tree. No per-arm
    // subqueries, no second pass — the 100 TB shape is a single map-side-combined
    // reduction to one row.
    Q("events_ab_welch",
      (s, dir) => {
        import s.implicits._
        val nibble =
          conv(substring(md5($"user_id".cast("string")), 1, 1), 16, 10).cast("int")
        val vd = ($"value" - 100.0d).cast("decimal(18,4)")
        t(s, dir, "events")
          .withColumn("in_a", nibble < 8)
          .agg(
            sum(when($"in_a", 1L).otherwise(0L)).as("n_a"),
            sum(when(!$"in_a", 1L).otherwise(0L)).as("n_b"),
            sum(when($"in_a", vd)).cast("double").as("sa"),
            sum(when($"in_a", vd * vd)).cast("double").as("saa"),
            sum(when(!$"in_a", vd)).cast("double").as("sb"),
            sum(when(!$"in_a", vd * vd)).cast("double").as("sbb"))
          .select($"n_a", $"n_b",
            (lit(100.0d) + $"sa" / $"n_a").as("mean_a"),
            (lit(100.0d) + $"sb" / $"n_b").as("mean_b"),
            ($"sa" / $"n_a" - $"sb" / $"n_b").as("lift"),
            (($"sa" / $"n_a" - $"sb" / $"n_b") /
              sqrt((($"saa" - $"sa" * $"sa" / $"n_a") / ($"n_a" - 1)) / $"n_a" +
                   (($"sbb" - $"sb" * $"sb" / $"n_b") / ($"n_b" - 1)) / $"n_b"))
              .as("t_welch"))
      },
      Some("""WITH v AS (
             |  SELECT
             |    instr('0123456789abcdef',
             |          substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1 < 8
             |      AS in_a,
             |    CAST(value - 100.0 AS DECIMAL(18,4)) AS vd
             |  FROM events),
             |c AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |    CAST(SUM(CASE WHEN in_a THEN vd END) AS DOUBLE) AS sa,
             |    CAST(SUM(CASE WHEN in_a THEN vd * vd END) AS DOUBLE) AS saa,
             |    CAST(SUM(CASE WHEN NOT in_a THEN vd END) AS DOUBLE) AS sb,
             |    CAST(SUM(CASE WHEN NOT in_a THEN vd * vd END) AS DOUBLE) AS sbb
             |  FROM v)
             |SELECT n_a, n_b,
             |  100.0 + sa / n_a AS mean_a,
             |  100.0 + sb / n_b AS mean_b,
             |  sa / n_a - sb / n_b AS lift,
             |  (sa / n_a - sb / n_b) /
             |    sqrt(((saa - sa * sa / n_a) / (n_a - 1)) / n_a +
             |         ((sbb - sb * sb / n_b) / (n_b - 1)) / n_b) AS t_welch
             |FROM c""".stripMargin)),

    // Lexical rarity scoring: each document's mean corpus-frequency rank of its
    // tokens — the rank-based cousin of perplexity filtering that needs NO
    // transcendental math (log-probabilities don't hash across engines; integer
    // ranks do). Vocab ranks come from the banded two-level rank over the
    // compressed token histogram; the per-doc score is one equi-join + one
    // grouped exact sum.
    Q("text_rarity_score",
      (s, dir) => {
        import s.implicits._
        // banded global rank over the token histogram: no |vocab|-row
        // single-reducer sort (bucket = −n, ties broken by token)
        val vocab = bandedRowNumber(
          t(s, dir, "documents")
            .select(explode(TF.tokens($"text")).as("token"))
            .groupBy($"token").agg(count(lit(1)).as("n")),
          -$"n", Seq($"n".desc, $"token"), "r", "r_n")
          .select($"token".as("vt"), $"r")
        t(s, dir, "documents").filter($"doc_id" < 300)
          .select($"doc_id", explode(TF.tokens($"text")).as("token"))
          .join(vocab, $"token" === $"vt")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum($"r").cast("bigint").as("rank_sum"))
          .select($"doc_id", $"n_tok", $"rank_sum",
            ($"rank_sum".cast("double") / $"n_tok").as("avg_rank"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH tok AS (
              |  SELECT unnest(${duckToks("text")}) AS token FROM documents),
              |vocab AS (
              |  SELECT token AS vt,
              |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS BIGINT)
              |      AS r
              |  FROM tok GROUP BY token),
              |d AS (
              |  SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents WHERE doc_id < 300)
              |SELECT doc_id, COUNT(*) AS n_tok,
              |  CAST(SUM(r) AS BIGINT) AS rank_sum,
              |  CAST(SUM(r) AS DOUBLE) / COUNT(*) AS avg_rank
              |FROM d JOIN vocab ON token = vt
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Incremental SCD2 maintenance: yesterday's history (built from the old
    // partition) + today's changeset, WITHOUT rebuilding — close each key's open
    // version at the key's first new change date, append the changeset's own
    // intervals. The oracle is the FULL-table rebuild: the query asserts the
    // warehouse invariant incremental-apply ≡ rebuild, which is what makes the
    // daily O(Δ) merge trustworthy at a 100 TB history the full rebuild couldn't
    // touch. Shapes: two partitioned window passes + one broadcast-size join of
    // per-key first-new dates.
    Q("scd2_incremental_apply",
      (s, dir) => {
        import s.implicits._
        val split = lit("1998-01-01 00:00:00").cast("timestamp")
        val o = t(s, dir, "orders")
        val old = o.filter($"o_orderdate" < split)
        val nw = o.filter($"o_orderdate" >= split)
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        val oldh = old
          .select($"o_custkey", $"o_orderkey", $"o_orderstatus",
            $"o_orderdate".as("valid_from"),
            lead($"o_orderdate", 1).over(w).as("vt_old"))
        val firstNew = nw.groupBy($"o_custkey".as("fk"))
          .agg(min($"o_orderdate").as("first_new"))
        val closed = oldh.join(firstNew, $"o_custkey" === $"fk", "left")
          .select($"o_custkey", $"o_orderkey", $"o_orderstatus", $"valid_from",
            coalesce($"vt_old", $"first_new").as("valid_to"),
            ($"vt_old".isNull && $"first_new".isNull).as("is_current"))
        val newh = nw
          .select($"o_custkey", $"o_orderkey", $"o_orderstatus",
            $"o_orderdate".as("valid_from"),
            lead($"o_orderdate", 1).over(w).as("valid_to"))
          .withColumn("is_current", $"valid_to".isNull)
        closed.unionByName(newh).orderBy($"o_custkey", $"o_orderkey")
      },
      // oracle = the full-history rebuild; equality IS the invariant under test
      Some("""WITH h AS (
             |  SELECT o_custkey, o_orderkey, o_orderstatus,
             |    o_orderdate AS valid_from,
             |    lead(o_orderdate) OVER (PARTITION BY o_custkey
             |      ORDER BY o_orderdate, o_orderkey) AS next_from
             |  FROM orders)
             |SELECT o_custkey, o_orderkey, o_orderstatus, valid_from,
             |  next_from AS valid_to,
             |  next_from IS NULL AS is_current
             |FROM h ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Snapshot reconciliation audit: classify every key across two table versions
    // as added / removed / changed / unchanged in ONE full-outer equi-join — the
    // nightly "what moved" report that replaces per-row lookups with a single
    // key-partitioned pass. The two versions are derived deterministically from
    // the same table (drop-mod-97 simulates late rows, drop-mod-89 simulates
    // deletions, the mod-100 price bump simulates updates).
    Q("dq_table_diff",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
        val prev = o.filter($"o_orderkey" % 89 =!= 7)
          .select($"o_orderkey".as("pk"),
            when($"o_orderkey" % 100 === 0, $"o_totalprice" - 1.0d)
              .otherwise($"o_totalprice").as("pprice"))
        val cur = o.filter($"o_orderkey" % 97 =!= 3)
          .select($"o_orderkey".as("ck"), $"o_totalprice".as("cprice"))
        prev.join(cur, $"pk" === $"ck", "full_outer")
          .agg(
            sum(when($"pk".isNull, 1L).otherwise(0L)).as("n_added"),
            sum(when($"ck".isNull, 1L).otherwise(0L)).as("n_removed"),
            sum(when($"pk".isNotNull && $"ck".isNotNull &&
              !($"pprice" === $"cprice"), 1L).otherwise(0L)).as("n_changed"),
            sum(when($"pk".isNotNull && $"ck".isNotNull &&
              ($"pprice" === $"cprice"), 1L).otherwise(0L)).as("n_unchanged"))
      },
      Some("""WITH prev AS (
             |  SELECT o_orderkey AS pk,
             |    CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice - 1.0
             |         ELSE o_totalprice END AS pprice
             |  FROM orders WHERE o_orderkey % 89 <> 7),
             |cur AS (
             |  SELECT o_orderkey AS ck, o_totalprice AS cprice
             |  FROM orders WHERE o_orderkey % 97 <> 3)
             |SELECT
             |  CAST(SUM(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_added,
             |  CAST(SUM(CASE WHEN ck IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed,
             |  CAST(SUM(CASE WHEN pk IS NOT NULL AND ck IS NOT NULL
             |    AND pprice <> cprice THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(SUM(CASE WHEN pk IS NOT NULL AND ck IS NOT NULL
             |    AND pprice = cprice THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
             |FROM prev FULL OUTER JOIN cur ON pk = ck""".stripMargin)),

    // Gini concentration of order value per priority class: the inequality
    // readout (revenue concentration, usage skew) via the rank formulation
    // G = (2·Σ rᵢxᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ). Σ rᵢxᵢ is invariant under
    // permuting equal values, so the unique (value, orderkey) tie order makes it
    // engine-independent; sums stay decimal-exact and both operands are rounded
    // to integer decimals BEFORE the one double division (large-decimal → double
    // casts are the known cross-engine rounding hazard).
    Q("agg_gini_concentration",
      (s, dir) => {
        import s.implicits._
        val xd = $"o_totalprice".cast("decimal(18,2)")
        val w = Window.partitionBy($"o_orderpriority")
          .orderBy($"o_totalprice", $"o_orderkey")
        t(s, dir, "orders")
          .select($"o_orderpriority", xd.as("xd"),
            row_number().over(w).cast("long").as("rn"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"xd").as("sd"),
            sum($"rn" * $"xd").as("wd"))
          .select($"o_orderpriority", $"n",
            (round(lit(2) * $"wd" - ($"n" + 1) * $"sd", 0).cast("double") /
              round($"n" * $"sd", 0).cast("double")).as("gini"))
          .orderBy($"o_orderpriority")
      },
      Some("""WITH r AS (
             |  SELECT o_orderpriority,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS xd,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
             |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn
             |  FROM orders),
             |c AS (
             |  SELECT o_orderpriority, COUNT(*) AS n,
             |    SUM(xd) AS sd, SUM(rn * xd) AS wd
             |  FROM r GROUP BY o_orderpriority)
             |SELECT o_orderpriority, n,
             |  CAST(ROUND(2 * wd - (n + 1) * sd, 0) AS DOUBLE) /
             |    CAST(ROUND(n * sd, 0) AS DOUBLE) AS gini
             |FROM c ORDER BY o_orderpriority""".stripMargin)),

    // 7-day rolling distinct users — EXACT, via fixed-width bitmaps as WINDOW
    // aggregates: per (day, bucket) bitmaps from one grouped pass (the only
    // full-data shuffle), then bitmap_or_agg over a 6-preceding RANGE frame per
    // bucket and a per-day sum of bucket counts. The window state is 7 bitmaps
    // of 4 KB per bucket — constant memory regardless of user count — where the
    // naive rolling COUNT(DISTINCT) re-expands every event 7×. The oracle IS
    // that naive 7× range join, which is exactly the plan this operator replaces
    // at scale. Ids are shifted +1: bitmap_bit_position is 1-based, so id 0 would
    // collide with id 1 (found as an off-by-one undercount against the oracle).
    Q("events_rolling_distinct_users",
      (s, dir) => {
        t(s, dir, "events").createOrReplaceTempView("ev_rolling")
        s.sql(rollingDistinctSql("ev_rolling"))
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
             |SELECT d.day, COUNT(DISTINCT e.user_id) AS users_7d
             |FROM days d JOIN events e
             |  ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
             |GROUP BY d.day ORDER BY d.day""".stripMargin)),

    // Hashing-trick featurization: tokens hashed into 64 buckets via two md5
    // nibbles (portable across engines — never xxhash/murmur, whose seeds are
    // Spark-internal), per-doc sparse counts rendered as a sorted "bucket:count"
    // string. Map-side explode + one (doc, bucket) count shuffle; the vocabulary
    // never materializes anywhere — the point of the hashing trick at corpus
    // scale.
    Q("feat_hashing_trick",
      (s, dir) => {
        import s.implicits._
        val bucket = (
          (conv(substring(md5($"token"), 1, 1), 16, 10).cast("int") * 16) +
            conv(substring(md5($"token"), 2, 1), 16, 10).cast("int")) % 64
        t(s, dir, "documents").filter($"doc_id" < 300)
          .select($"doc_id", explode(TF.tokens($"text")).as("token"))
          .select($"doc_id", bucket.as("bucket"))
          .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("c"))
          .groupBy($"doc_id")
          .agg(sum($"c").cast("bigint").as("n_tok"),
            concat_ws(" ",
              transform(sort_array(collect_list(struct($"bucket", $"c"))),
                s0 => concat(s0("bucket").cast("string"), lit(":"),
                  s0("c").cast("string")))).as("features"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, unnest(${duckToks("text")}) AS token
              |  FROM documents WHERE doc_id < 300),
              |b AS (
              |  SELECT doc_id,
              |    ((instr('0123456789abcdef', substring(md5(token), 1, 1)) - 1)
              |      * 16
              |     + instr('0123456789abcdef', substring(md5(token), 2, 1)) - 1)
              |      % 64 AS bucket
              |  FROM tok),
              |c AS (
              |  SELECT doc_id, bucket, COUNT(*) AS c FROM b GROUP BY 1, 2)
              |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
              |  string_agg(bucket || ':' || c, ' ' ORDER BY bucket) AS features
              |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )


  /** The rolling-distinct SQL over any view with (ts TIMESTAMP, user_id BIGINT).
    *
    * The window frame only evaluates at EXISTING (bkt, day) rows, so a bucket
    * with no events on day d would silently drop its earlier-in-window users
    * from d's total (latent locally where all ids share one 32768-wide bucket;
    * guaranteed wrong at scale). Densify to the full (bucket × active-day) grid
    * first: an explicit CROSS JOIN of the two tiny AGGREGATED frames —
    * |days| × |user-space/32768| rows, exactly the frame the window evaluates
    * anyway (PLANS.md sanctions this bounded densification cross). bitmap_or_agg
    * skips the grid's null bitmaps. Spec-covered with multi-bucket ids in
    * RollingDistinctSpec. */
  def rollingDistinctSql(view: String): String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    datediff(CAST(ts AS DATE), DATE '1995-01-01') AS dnum,
       |    bitmap_bucket_number(user_id + 1) AS bkt,
       |    bitmap_construct_agg(bitmap_bit_position(user_id + 1)) AS b
       |  FROM $view GROUP BY 1, 2, 3),
       |grid AS (
       |  SELECT d.day, d.dnum, k.bkt FROM
       |    (SELECT DISTINCT day, dnum FROM daily) d
       |    CROSS JOIN (SELECT DISTINCT bkt FROM daily) k),
       |dense AS (
       |  SELECT g.day, g.dnum, g.bkt, daily.b
       |  FROM grid g LEFT JOIN daily
       |    ON g.day = daily.day AND g.bkt = daily.bkt),
       |rolled AS (
       |  SELECT day, bitmap_count(
       |    bitmap_or_agg(b) OVER (PARTITION BY bkt ORDER BY dnum
       |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) AS c
       |  FROM dense)
       |SELECT day, CAST(SUM(c) AS BIGINT) AS users_7d
       |FROM rolled GROUP BY day ORDER BY day""".stripMargin

  /** DuckDB tokenizer mirror of [[TF.tokens]] (same regex class, same filter).
    * Shared with [[Analyticsb]] (the round-11 file split). */
  private[queries] def duckToks(textExpr: String) =
    s"list_filter(regexp_split_to_array(lower($textExpr), '[^\\p{L}\\p{N}]+'), x -> x <> '')"
}
