package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryDSL._

/** Analytics wave 14 — association, linkage, and curve-shaped evaluation:
  * the classic "mining" readouts a data platform is asked for that the
  * corpus did not yet cover.
  *
  *  - market-basket association rules (support / confidence / lift) over
  *    order→brand baskets — the apriori-style pair readout
  *  - item-item collaborative-filtering cosine over user×event_type
  *    implicit ratings — the co-occurrence recommender primitive
  *  - ROC curve points (TPR/FPR/precision per threshold) — the curve the
  *    scalar AUC (stats_auc_mannwhitney) integrates
  *  - Nelson–Aalen cumulative hazard — the counting-process companion to
  *    events_survival_km on the identical censoring frame
  *  - Hoover (Robin Hood) index — the transfer-share inequality readout
  *  - Theil T inequality index — the decomposable entropy complement to
  *    agg_gini_coefficient
  *  - sorted-neighborhood record linkage — the third classic blocking
  *    method next to dedup_blocking_audit (standard blocking) and
  *    dedup_minhash_lsh (signature blocking)
  *
  * Scale posture: every pair generator is key-local (within-order,
  * within-user, rank-adjacent) — never all-pairs; bounded frames
  * (brands², event_types², thresholds, digits, durations) are the only
  * things that leave the keyed aggregations. Determinism: counts are
  * exact; divisions of pinned doubles are IEEE; per-row ln/log10/exp run
  * on engine-identical inputs with outputs quantized (the Analytics12 ln
  * rule); cumulative hazard is summed on a 9-decimal grid in DECIMAL so
  * window-association order cannot flip a bit.
  */
object Analytics14 {

  private val DEC = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)

  val queries: Seq[Q] = Seq(

    // Market-basket association rules over (order → distinct brand) baskets.
    // Pairs come from a WITHIN-ORDER self-equi-join (baskets are ≤7 lines, so
    // per-key fanout is a constant ~49 — linear at 100 TB, never all-pairs);
    // the brand² pair frame (≤300 rows) then joins the tiny per-brand margin
    // counts by broadcast. support = P(a,b), confidence = P(b|a), and
    // lift = P(a,b)/(P(a)P(b)) are exact count rationals: double products of
    // counts stay under 2^53, so every arithmetic step is IEEE-pinned.
    Q("agg_basket_assoc_rules",
      (s, dir) => {
        import s.implicits._
        // One shuffle to per-order sorted brand sets, then MAP-SIDE pair
        // expansion via nested HOFs — no basket self-join at all (the naive
        // (ok,brand)⋈(ok,brand) plan reshuffled the fact-sized basket twice
        // and cost 4x at sf0.1). Baskets are ≤7 lines ⇒ ≤21 pairs per order,
        // a constant fan-out at any scale. localCheckpoint because the
        // grouped frame feeds three consumers (pairs, margins, totals).
        // The explicit repartition is the groupBy's own shuffle (same key:
        // still exactly one fact shuffle, with the broadcast probe after it),
        // and it lands the checkpointed frame at defaultParallelism
        // partitions instead of an AQE-coalesced handful (checkpoints are
        // outside AQE reach).
        val grouped = t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey")
          .repartition(s.sparkContext.defaultParallelism, $"l_orderkey")
          .join(t(s, dir, "part").select($"p_partkey", $"p_brand"),
            $"l_partkey" === $"p_partkey")
          .groupBy($"l_orderkey".as("ok"))
          .agg(sort_array(collect_set($"p_brand")).as("arr"))
          .localCheckpoint()
        val pairsArr = flatten(transform($"arr", (x, i) =>
          transform(slice($"arr", i + 2, size($"arr")), y =>
            struct(x.as("brand_a"), y.as("brand_b")))))
        val pairs = grouped.select(explode(pairsArr).as("p"))
          .groupBy($"p.brand_a".as("brand_a"), $"p.brand_b".as("brand_b"))
          .agg(count(lit(1)).as("pair_cnt"))
        val margins = grouped.select(explode($"arr").as("b"))
          .groupBy($"b").agg(count(lit(1)).as("cb"))
        val totals = grouped.agg(count(lit(1)).as("n_orders"))
          .withColumn("__k", lit(1))
        val res = pairs
          .join(broadcast(margins.select($"b".as("brand_a"), $"cb".as("ca"))),
            "brand_a")
          .join(broadcast(margins.select($"b".as("brand_b"), $"cb".as("cbb"))),
            "brand_b")
          .withColumn("__k", lit(1))
          .join(broadcast(totals), "__k")
          .select($"brand_a", $"brand_b", $"pair_cnt",
            round($"pair_cnt".cast("double") / $"n_orders".cast("double"), 9)
              .as("support"),
            round($"pair_cnt".cast("double") / $"ca".cast("double"), 9)
              .as("confidence"),
            round(($"pair_cnt".cast("double") * $"n_orders".cast("double")) /
              ($"ca".cast("double") * $"cbb".cast("double")), 9).as("lift"))
          .orderBy($"brand_a", $"brand_b")
        res
      },
      Some("""WITH basket AS (
             |  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |margins AS (SELECT b, COUNT(*) AS cb FROM basket GROUP BY 1),
             |totals AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM basket),
             |pairs AS (
             |  SELECT a.b AS brand_a, z.b AS brand_b, COUNT(*) AS pair_cnt
             |  FROM basket a JOIN basket z ON z.ok = a.ok AND a.b < z.b
             |  GROUP BY 1, 2)
             |SELECT brand_a, brand_b, pair_cnt,
             |  round(CAST(pair_cnt AS DOUBLE) / CAST(n_orders AS DOUBLE), 9)
             |    AS support,
             |  round(CAST(pair_cnt AS DOUBLE) / CAST(ca.cb AS DOUBLE), 9)
             |    AS confidence,
             |  round((CAST(pair_cnt AS DOUBLE) * CAST(n_orders AS DOUBLE)) /
             |        (CAST(ca.cb AS DOUBLE) * CAST(cz.cb AS DOUBLE)), 9)
             |    AS lift
             |FROM pairs
             |JOIN margins ca ON ca.b = pairs.brand_a
             |JOIN margins cz ON cz.b = pairs.brand_b
             |CROSS JOIN totals
             |ORDER BY brand_a, brand_b""".stripMargin)),

    // Item-item collaborative filtering: cosine over the implicit-rating
    // matrix r[user, event_type] = interaction count. Dot products reduce
    // over a WITHIN-USER self-equi-join (fanout = |types|² = 25 per user —
    // linear in users at any scale); norms are exact integer sums of squares
    // (≤2^53), so cosine = dot / (√ssa·√ssb) multiplies two correctly-rounded
    // sqrts — bit-pinned in both engines.
    Q("sim_item_cf_cosine",
      (s, dir) => {
        import s.implicits._
        val r = graft.Tables.events(s, dir)
          .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val norms = r.groupBy($"event_type")
          .agg(sum($"c" * $"c").as("ss"), count(lit(1)).as("n_users"))
        val dots = r.select($"user_id", $"event_type".as("type_a"), $"c".as("ca"))
          .join(r.select($"user_id", $"event_type".as("type_b"), $"c".as("cb")),
            "user_id")
          .filter($"type_a" < $"type_b")
          .groupBy($"type_a", $"type_b")
          .agg(sum($"ca" * $"cb").as("dot"), count(lit(1)).as("n_co_users"))
        val res = dots
          .join(broadcast(norms.select($"event_type".as("type_a"),
            $"ss".as("ssa"))), "type_a")
          .join(broadcast(norms.select($"event_type".as("type_b"),
            $"ss".as("ssb"))), "type_b")
          .select($"type_a", $"type_b", $"n_co_users", $"dot",
            round($"dot".cast("double") /
              (sqrt($"ssa".cast("double")) * sqrt($"ssb".cast("double"))), 9)
              .as("cosine"))
          .orderBy($"type_a", $"type_b")
        r.unpersist()
        res
      },
      Some("""WITH r AS (
             |  SELECT user_id, event_type, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |norms AS (
             |  SELECT event_type, CAST(SUM(c * c) AS BIGINT) AS ss
             |  FROM r GROUP BY 1),
             |dots AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
             |    COUNT(*) AS n_co_users
             |  FROM r a JOIN r b
             |    ON b.user_id = a.user_id AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT type_a, type_b, n_co_users, dot,
             |  round(CAST(dot AS DOUBLE) /
             |    (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE))), 9)
             |    AS cosine
             |FROM dots
             |JOIN norms na ON na.event_type = dots.type_a
             |JOIN norms nb ON nb.event_type = dots.type_b
             |ORDER BY type_a, type_b""".stripMargin)),

    // ROC curve points for score = value, positive = 'purchase', at 20 fixed
    // thresholds (25-wide value buckets). The cumulative-from-above counts
    // are built WITHOUT a global window or non-equi join: each (bucket,label)
    // count row explodes to the ≤20 thresholds it clears (sequence+explode —
    // an equi-shaped ≤800-row frame), then re-aggregates per threshold.
    // TPR/FPR/precision are exact count rationals, rounded at 9.
    Q("events_roc_points",
      (s, dir) => {
        import s.implicits._
        val cnt = graft.Tables.events(s, dir)
          .select(least(floor($"value" / 25.0d), lit(19.0d)).cast("int")
            .as("bkt"), ($"event_type" === "purchase").as("pos"))
          .groupBy($"bkt", $"pos").agg(count(lit(1)).as("c"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val totals = cnt.agg(
            sum(when($"pos", $"c").otherwise(0L)).as("p_total"),
            sum(when(!$"pos", $"c").otherwise(0L)).as("n_total"))
          .withColumn("__k", lit(1))
        val res = cnt
          .select($"pos", $"c", explode(sequence(lit(0), $"bkt")).as("thr"))
          .groupBy($"thr")
          .agg(sum(when($"pos", $"c").otherwise(0L)).as("tp"),
            sum(when(!$"pos", $"c").otherwise(0L)).as("fp"))
          .withColumn("__k", lit(1))
          .join(broadcast(totals), "__k")
          .select($"thr", $"tp", $"fp",
            round($"tp".cast("double") / $"p_total".cast("double"), 9)
              .as("tpr"),
            round($"fp".cast("double") / $"n_total".cast("double"), 9)
              .as("fpr"),
            round($"tp".cast("double") / ($"tp" + $"fp").cast("double"), 9)
              .as("prec"))
          .orderBy($"thr")
        cnt.unpersist()
        res
      },
      Some("""WITH cnt AS (
             |  SELECT CAST(least(floor(value / 25.0), 19.0) AS INT) AS bkt,
             |    event_type = 'purchase' AS pos, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |totals AS (
             |  SELECT CAST(SUM(CASE WHEN pos THEN c ELSE 0 END) AS BIGINT)
             |      AS p_total,
             |    CAST(SUM(CASE WHEN NOT pos THEN c ELSE 0 END) AS BIGINT)
             |      AS n_total
             |  FROM cnt),
             |exploded AS (
             |  SELECT pos, c, CAST(unnest(range(0, bkt + 1)) AS INT) AS thr
             |  FROM cnt),
             |agg AS (
             |  SELECT thr,
             |    CAST(SUM(CASE WHEN pos THEN c ELSE 0 END) AS BIGINT) AS tp,
             |    CAST(SUM(CASE WHEN NOT pos THEN c ELSE 0 END) AS BIGINT)
             |      AS fp
             |  FROM exploded GROUP BY 1)
             |SELECT thr, tp, fp,
             |  round(CAST(tp AS DOUBLE) / CAST(p_total AS DOUBLE), 9) AS tpr,
             |  round(CAST(fp AS DOUBLE) / CAST(n_total AS DOUBLE), 9) AS fpr,
             |  round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 9)
             |    AS prec
             |FROM agg CROSS JOIN totals
             |ORDER BY thr""".stripMargin)),

    // Nelson–Aalen cumulative hazard on events_survival_km's exact censoring
    // frame (first event → first purchase, 3-day administrative horizon).
    // H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ. Lifetimes reduce per-user; the hazard fold runs
    // over the BOUNDED duration frame (≤4 rows) as a typed single-group fold
    // (the sanctioned KM shape). Each increment is quantized to the 9-decimal
    // grid and accumulated in exact decimal, so the cumulative sum is
    // association-order-proof; the Fleming–Harrington survival exp(−H) runs
    // libm on that quantized input and is itself rounded (the BLEU exp rule).
    Q("events_survival_nelson_aalen",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
        val firsts = ev.groupBy($"user_id").agg(min($"ts").as("first_ts"))
        val conv = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"ts").as("p_ts"))
        val per = firsts.join(conv, Seq("user_id"), "left")
          .select($"user_id",
            datediff(to_date($"p_ts"), to_date($"first_ts")).as("t_p"))
          .select(
            when($"t_p".isNotNull && $"t_p" <= 3, $"t_p").otherwise(lit(3))
              .as("dur"),
            (!($"t_p".isNotNull && $"t_p" <= 3)).as("censored"))
        val byDur = per.groupBy($"dur")
          .agg(count(lit(1)).as("n_total"),
            sum(when(!$"censored", 1L).otherwise(0L)).as("d"))
          .select($"dur".as[Int], $"n_total".as[Long], $"d".as[Long])
        byDur.groupByKey(_ => 0)
          .flatMapGroups { (_, it) =>
            val rows = it.toArray.sortBy(_._1)
            var atRisk = rows.map(_._2).sum
            var hCum = BigDecimal(0)
            rows.iterator.flatMap { case (dur, nTotal, d) =>
              val nI = atRisk
              atRisk -= nTotal
              if (d > 0) {
                val hInc = BigDecimal(d.toDouble / nI.toDouble)
                  .setScale(9, BigDecimal.RoundingMode.HALF_UP)
                hCum += hInc
                Iterator.single((dur.toLong, nI, d, hInc.toDouble,
                  hCum.toDouble,
                  BigDecimal(math.exp(-hCum.toDouble))
                    .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble))
              } else Iterator.empty
            }
          }
          .toDF("duration_days", "n_at_risk", "n_deaths", "h_inc", "h_cum",
            "na_survival")
          .orderBy($"duration_days")
      },
      Some("""WITH f AS (
             |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
             |c AS (
             |  SELECT user_id, min(ts) AS p_ts FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |per AS (
             |  SELECT CASE WHEN t_p IS NOT NULL AND t_p <= 3 THEN t_p
             |              ELSE 3 END AS dur,
             |    NOT (t_p IS NOT NULL AND t_p <= 3) AS censored
             |  FROM (SELECT f.user_id,
             |          date_diff('day', CAST(f.first_ts AS DATE),
             |            CAST(c.p_ts AS DATE)) AS t_p
             |        FROM f LEFT JOIN c USING (user_id))),
             |byd AS (
             |  SELECT dur, COUNT(*) AS n_total,
             |    SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d
             |  FROM per GROUP BY 1),
             |ord AS (
             |  SELECT dur, n_total, d,
             |    (SELECT COUNT(*) FROM per) -
             |      COALESCE(CAST(SUM(n_total) OVER (ORDER BY dur
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS at_risk
             |  FROM byd),
             |haz AS (
             |  SELECT dur, at_risk, d,
             |    round(CAST(d AS DOUBLE) / CAST(at_risk AS DOUBLE), 9)
             |      AS h_inc
             |  FROM ord WHERE d > 0),
             |cum AS (
             |  SELECT dur, at_risk, d, h_inc,
             |    CAST(SUM(CAST(h_inc AS DECIMAL(30,12))) OVER (ORDER BY dur
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS DOUBLE) AS h_cum
             |  FROM haz)
             |SELECT CAST(dur AS BIGINT) AS duration_days,
             |  at_risk AS n_at_risk, CAST(d AS BIGINT) AS n_deaths,
             |  h_inc, h_cum, round(exp(-h_cum), 9) AS na_survival
             |FROM cum ORDER BY duration_days""".stripMargin)),

    // Hoover (Robin Hood) inequality index per order priority: the share of
    // total value that would have to move to equalize — H = Σ|xᵢ−μ| / (2nμ).
    // The third inequality readout next to agg_gini_coefficient (rank-based)
    // and agg_theil_inequality (entropy-based), and the cheapest: two keyed
    // passes, no ranking, no logs. μ is an exact decimal mean; |x−μ| is one
    // IEEE subtract on pinned doubles, summed decimal-exact.
    Q("agg_hoover_index",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").select($"o_orderpriority", $"o_totalprice")
        val g = o.groupBy($"o_orderpriority")
          .agg(dsum($"o_totalprice", 4).as("ts"), count(lit(1)).as("n"))
          .withColumn("mu", $"ts" / $"n".cast("double"))
        o.join(broadcast(g), "o_orderpriority")
          .groupBy($"o_orderpriority")
          .agg(first($"n").as("n"), first($"mu").as("mu_raw"),
            sum(abs($"o_totalprice" - $"mu").cast(DEC)).cast("double")
              .as("absdev"))
          .select($"o_orderpriority", $"n", round($"mu_raw", 6).as("mu"),
            round($"absdev" /
              (lit(2.0d) * $"n".cast("double") * $"mu_raw"), 9)
              .as("hoover"))
          .orderBy($"o_orderpriority")
      },
      Some(s"""WITH g AS (
              |  SELECT o_orderpriority, ${sqlDsum("o_totalprice", 4)} AS ts,
              |    COUNT(*) AS n
              |  FROM orders GROUP BY 1),
              |m AS (SELECT o_orderpriority, n,
              |        ts / CAST(n AS DOUBLE) AS mu FROM g),
              |d AS (
              |  SELECT o.o_orderpriority, m.n, m.mu,
              |    CAST(SUM(CAST(abs(o.o_totalprice - m.mu)
              |      AS DECIMAL(30,12))) AS DOUBLE) AS absdev
              |  FROM orders o JOIN m USING (o_orderpriority)
              |  GROUP BY 1, 2, 3)
              |SELECT o_orderpriority, n, round(mu, 6) AS mu,
              |  round(absdev / (2.0 * CAST(n AS DOUBLE) * mu), 9) AS hoover
              |FROM d ORDER BY o_orderpriority""".stripMargin)),

    // Theil T inequality index per order priority — the entropy-based,
    // subgroup-decomposable complement to agg_gini_coefficient. Group means
    // are exact decimal sums; each row contributes (x/μ)·ln(x/μ) with the
    // per-row ln on engine-identical IEEE quotients, summed decimal-exact
    // (the stats_mutual_information shape) — one shuffle to the group frame,
    // one broadcast back, linear at any scale.
    Q("agg_theil_inequality",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders").select($"o_orderpriority", $"o_totalprice")
        val g = o.groupBy($"o_orderpriority")
          .agg(dsum($"o_totalprice", 4).as("ts"), count(lit(1)).as("n"))
          .withColumn("mu", $"ts" / $"n".cast("double"))
        val term = ($"o_totalprice" / $"mu") * log($"o_totalprice" / $"mu")
        o.join(broadcast(g), "o_orderpriority")
          .groupBy($"o_orderpriority")
          .agg(first($"n").as("n"), first($"mu").as("mu_raw"),
            sum(term.cast(DEC)).cast("double").as("tsum"))
          .select($"o_orderpriority", $"n", round($"mu_raw", 6).as("mu"),
            round($"tsum" / $"n".cast("double"), 6).as("theil_t"))
          .orderBy($"o_orderpriority")
      },
      Some(s"""WITH g AS (
              |  SELECT o_orderpriority, ${sqlDsum("o_totalprice", 4)} AS ts,
              |    COUNT(*) AS n
              |  FROM orders GROUP BY 1),
              |m AS (SELECT o_orderpriority, ts, n,
              |        ts / CAST(n AS DOUBLE) AS mu FROM g),
              |terms AS (
              |  SELECT o.o_orderpriority, m.n, m.mu,
              |    CAST(SUM(CAST((o.o_totalprice / m.mu) *
              |      ln(o.o_totalprice / m.mu) AS DECIMAL(30,12)))
              |      AS DOUBLE) AS tsum
              |  FROM orders o JOIN m USING (o_orderpriority)
              |  GROUP BY 1, 2, 3)
              |SELECT o_orderpriority, n, round(mu, 6) AS mu,
              |  round(tsum / CAST(n AS DOUBLE), 6) AS theil_t
              |FROM terms ORDER BY o_orderpriority""".stripMargin)),

    // Sorted-neighborhood record linkage: rank customers by name with the
    // banded (never single-partition) global row number, pair each record
    // with its +1/+2 neighbors by EQUI-join on rank, and histogram the
    // neighbor edit distances — the classic SNM blocking audit. Comparisons
    // are O(n·w) with w=2 regardless of scale; levenshtein runs on ≤25-char
    // names (integer-exact in both engines).
    Q("dedup_sorted_neighborhood",
      (s, dir) => {
        import s.implicits._
        val ranked = bandedRowNumber(
          t(s, dir, "customer").select($"c_custkey", $"c_name"),
          substring($"c_name", 10, 6), Seq($"c_name"), "rk", "__n")
          .select($"c_name", $"rk")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val res = ranked.select($"c_name".as("name_a"), $"rk",
            explode(array(lit(1), lit(2))).as("delta"))
          .withColumn("nbr", $"rk" + $"delta")
          .join(ranked.select($"c_name".as("name_b"), $"rk".as("nbr")), "nbr")
          .select($"delta",
            levenshtein($"name_a", $"name_b").as("edit_dist"))
          .groupBy($"delta", $"edit_dist").agg(count(lit(1)).as("n_pairs"))
          .orderBy($"delta", $"edit_dist")
        ranked.unpersist()
        res
      },
      Some("""WITH ranked AS (
             |  SELECT c_name, row_number() OVER (ORDER BY c_name) AS rk
             |  FROM customer),
             |pairs AS (
             |  SELECT d.delta, a.c_name AS name_a, b.c_name AS name_b
             |  FROM ranked a
             |  CROSS JOIN (SELECT unnest([1, 2]) AS delta) d
             |  JOIN ranked b ON b.rk = a.rk + d.delta)
             |SELECT delta, levenshtein(name_a, name_b) AS edit_dist,
             |  COUNT(*) AS n_pairs
             |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
