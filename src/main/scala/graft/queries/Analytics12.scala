package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.{TextFunctions => TF}
import QueryDSL._

/** Analytics wave 12 — the variance-diagnostics / drift / information-theory
  * gaps left after waves 1–11: Bartlett's homogeneity-of-variance test,
  * Grubbs max-deviation outlier readout, Page–Hinkley sequential drift
  * detection, token-stream entropy rate, mutual information with
  * normalizations, and the Breusch–Pagan heteroscedasticity LM test.
  *
  * Same determinism contract as every wave (QueryDSL rules): exact decimal
  * moments for anything order-sensitive, IEEE double readouts in pinned
  * parenthesization mirrored by the oracle, total ORDER BY, scalar frames
  * attached via sanctioned bounded crosses (the stats_theil_u pattern).
  */
object Analytics12 {

  val queries: Seq[Q] = Seq(

    // Bartlett's test of equal variances across the 3 return-flag groups —
    // the precondition check before pooling variances in an ANOVA or a
    // pooled-t experiment readout. Group variances come from ONE grouped
    // pass of decimal-exact moments (sum, sum-of-squares at scale 4: |x|
    // ≤ ~1e5 so x² ≤ 1e10, grid 1e-4 coarser than ulp(1e10) ≈ 2e-6 — wait,
    // ulp(1e10) ≈ 1.9e-6, still finer than the 1e-4 grid, safe per the
    // QueryDSL boundary rule); the k-group fold is a 3-row aggregate. The
    // chi-square statistic and Bartlett's small-sample correction are pinned
    // IEEE expressions identical in the oracle. Every ln() output is
    // quantized to 9 decimals BEFORE further arithmetic: ln is libm, and the
    // JVM and DuckDB can disagree in the last bit — unquantized, that 1-ulp
    // input difference surfaced as a round-boundary flip at sf0.001
    // (0.171708 vs 0.171709, caught by the cross-scale gate r12). The k-row
    // fold sums decimal(30,6) (grid far coarser than ulp(1e4) addends, per
    // the QueryDSL boundary rule); 1/(n−1) folds at scale 10 to keep its
    // 5e-4 magnitude precise.
    Q("stats_bartlett_variance",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(18,2)")
        val g = t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(xd).cast("double").as("sx"),
            sum(xd * xd).cast("double").as("sxx"))
          .select($"n",
            (($"sxx" - $"sx" * $"sx" / $"n") / ($"n" - 1)).as("s2"))
        g.agg(count(lit(1)).as("k"),
            sum($"n").cast("long").as("n_total"),
            sum((($"n" - 1) * round(log($"s2"), 9)).cast("decimal(30,6)"))
              .cast("double").as("sum_ln"),
            sum((($"n" - 1) * $"s2").cast("decimal(30,6)"))
              .cast("double").as("ss_pooled"),
            sum((lit(1.0d) / ($"n" - 1)).cast("decimal(30,10)"))
              .cast("double").as("sum_inv"))
          .select($"k", $"n_total",
            round(
              ((($"n_total" - $"k").cast("double") *
                round(log($"ss_pooled" / ($"n_total" - $"k").cast("double")), 9)) -
                $"sum_ln") /
              (lit(1.0d) + ($"sum_inv" - lit(1.0d) /
                ($"n_total" - $"k").cast("double")) /
                (lit(3.0d) * ($"k" - 1).cast("double"))), 6)
              .as("bartlett_chi2"),
            ($"k" - 1).cast("long").as("df"))
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |    CAST(l_quantity - 25.0 AS DECIMAL(18,2)) AS xd
             |  FROM lineitem),
             |g AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(xd) AS DOUBLE) AS sx,
             |    CAST(SUM(xd * xd) AS DOUBLE) AS sxx
             |  FROM v GROUP BY 1),
             |s2 AS (
             |  SELECT n, (sxx - sx * sx / n) / (n - 1) AS s2 FROM g),
             |f AS (
             |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS n_total,
             |    CAST(SUM(CAST((n - 1) * round(ln(s2), 9) AS DECIMAL(30,6)))
             |      AS DOUBLE) AS sum_ln,
             |    CAST(SUM(CAST((n - 1) * s2 AS DECIMAL(30,6)))
             |      AS DOUBLE) AS ss_pooled,
             |    CAST(SUM(CAST(1.0 / (n - 1) AS DECIMAL(30,10)))
             |      AS DOUBLE) AS sum_inv
             |  FROM s2)
             |SELECT k, n_total,
             |  round(
             |    ((CAST(n_total - k AS DOUBLE) *
             |      round(ln(ss_pooled / CAST(n_total - k AS DOUBLE)), 9))
             |      - sum_ln) /
             |    (1.0 + (sum_inv - 1.0 / CAST(n_total - k AS DOUBLE)) /
             |      (3.0 * CAST(k - 1 AS DOUBLE))), 6) AS bartlett_chi2,
             |  CAST(k - 1 AS BIGINT) AS df
             |FROM f""".stripMargin)),

    // Grubbs max-deviation outlier readout per group: G = max|x − x̄|/s and
    // the value attaining it — the single-outlier screen run before robust
    // stats are invoked. Mean/s from decimal-exact moments (one grouped
    // pass); the argmax is a broadcast join of the 3-row stats frame back to
    // the fact followed by max(struct(dev, x)) — ties break to the larger
    // value, mirrored by the oracle's ORDER BY dev DESC, x DESC pick.
    Q("stats_grubbs_outlier",
      (s, dir) => {
        import s.implicits._
        val yd = ($"l_extendedprice" - 40000.0d).cast("decimal(18,2)")
        // `li` feeds both the moment pass and the argmax probe; a spread
        // exchange is read by both (ReuseExchange — identical subtree).
        // Decimal moments and the max(struct) argmax are
        // partitioning-independent.
        val li = spread(t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_extendedprice"), $"l_extendedprice")
        val stats = li
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(yd).cast("double").as("sy"),
            sum(yd * yd).cast("double").as("syy"))
          .select($"l_returnflag", $"n",
            (lit(40000.0d) + $"sy" / $"n").as("mean"),
            sqrt(($"syy" - $"sy" * $"sy" / $"n") / ($"n" - 1)).as("s"))
        li.join(broadcast(stats), "l_returnflag")
          .select($"l_returnflag", $"n", $"s",
            abs($"l_extendedprice" - $"mean").as("dev"),
            $"l_extendedprice")
          .groupBy($"l_returnflag")
          .agg(first($"n").as("n"),
            max(struct($"dev", $"l_extendedprice")).as("m"),
            first($"s").as("s"))
          .select($"l_returnflag", $"n",
            round($"m.dev" / $"s", 6).as("grubbs_g"),
            $"m.l_extendedprice".as("outlier_value"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH stats AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    40000.0 + CAST(SUM(CAST(l_extendedprice - 40000.0
             |      AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean,
             |    sqrt((CAST(SUM(CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2))
             |        * CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)))
             |        AS DOUBLE) -
             |      CAST(SUM(CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)))
             |        AS DOUBLE) *
             |      CAST(SUM(CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)))
             |        AS DOUBLE) / COUNT(*)) / (COUNT(*) - 1)) AS s
             |  FROM lineitem GROUP BY 1),
             |dev AS (
             |  SELECT li.l_returnflag, st.n, st.s,
             |    abs(li.l_extendedprice - st.mean) AS dev, li.l_extendedprice,
             |    ROW_NUMBER() OVER (PARTITION BY li.l_returnflag
             |      ORDER BY abs(li.l_extendedprice - st.mean) DESC,
             |               li.l_extendedprice DESC) AS rn
             |  FROM lineitem li JOIN stats st USING (l_returnflag))
             |SELECT l_returnflag, n, round(dev / s, 6) AS grubbs_g,
             |  l_extendedprice AS outlier_value
             |FROM dev WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)),

    // Page–Hinkley sequential drift detector over the daily event-count
    // series (δ = 0, λ = 25 chosen from the measured PH distribution so the
    // alarm column genuinely varies): m_t = Σ(x_i − x̄_i), PH_t = m_t −
    // min m. The full-data pass is ONE date-grain rollup; every window runs
    // on the ≤31-row daily frame (sanctioned bounded-rollup global windows —
    // the calendar-grain class), and the cumulative double sums evaluate in
    // the same sequential order on both engines, so the readout is
    // bit-stable.
    Q("drift_page_hinkley",
      (s, dir) => {
        import s.implicits._
        val w = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        graft.Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("cum_mean",
            sum($"c").over(w).cast("double") /
              count(lit(1)).over(w).cast("double"))
          .withColumn("m", sum($"c".cast("double") - $"cum_mean").over(w))
          .withColumn("ph", $"m" - least(min($"m").over(w), lit(0.0d)))
          .select($"day", $"c".cast("long").as("n_events"),
            round($"ph", 6).as("ph"), ($"ph" > 25.0d).as("alarm"))
          .orderBy($"day")
      },
      Some("""WITH d AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |  FROM events GROUP BY 1),
             |ph AS (
             |  SELECT day, c,
             |    SUM(CAST(c AS DOUBLE) - cum_mean) OVER w AS m
             |  FROM (
             |    SELECT day, c,
             |      CAST(SUM(c) OVER w AS DOUBLE) /
             |        CAST(COUNT(*) OVER w AS DOUBLE) AS cum_mean
             |    FROM d
             |    WINDOW w AS (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |  WINDOW w AS (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |SELECT day, CAST(c AS BIGINT) AS n_events,
             |  round(m - least(MIN(m) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6)
             |    AS ph,
             |  (m - least(MIN(m) OVER (ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0))
             |    > 25.0 AS alarm
             |FROM ph ORDER BY day""".stripMargin)),

    // Token-stream entropy rate: conditional bigram entropy H(w2|w1) vs the
    // unigram entropy H(w) — how predictable the corpus is one token deep
    // (the LM-difficulty diagnostic next to surprisal; ratio → 1 means
    // bigram context buys nothing). Bigrams from the per-doc lead window
    // (no self-join); entropies are p·ln p decimal-exact sums over the
    // count frames; corpus scalars attach via sanctioned single-row crosses
    // (the stats_theil_u shape).
    Q("text_entropy_rate",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents")
          .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("pos", "w")))
        val big = toks
          .withColumn("w2",
            lead($"w", 1).over(Window.partitionBy($"doc_id").orderBy($"pos")))
          .filter($"w2".isNotNull)
          .select($"w".as("w1"), $"w2")
          .groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val nrow = big.agg(sum($"c").cast("long").as("n"))
        val w1m = big.groupBy($"w1").agg(sum($"c").cast("long").as("c1"))
        val huni = w1m.crossJoin(broadcast(nrow))
          .agg(sum((($"c1".cast("double") / $"n".cast("double")) *
            log($"c1".cast("double") / $"n".cast("double")))
            .cast("decimal(30,12)")).cast("double").as("neg_h_uni"))
        val hcond = big.join(w1m, "w1").crossJoin(broadcast(nrow))
          .agg(sum((($"c".cast("double") / $"n".cast("double")) *
            log($"c".cast("double") / $"c1".cast("double")))
            .cast("decimal(30,12)")).cast("double").as("neg_h_cond"))
        huni.crossJoin(broadcast(hcond)).crossJoin(broadcast(nrow))
          .select($"n".as("n_bigrams"),
            round(-$"neg_h_uni", 6).as("h_unigram"),
            round(-$"neg_h_cond", 6).as("h_cond_bigram"),
            round($"neg_h_cond" / $"neg_h_uni", 6).as("entropy_rate_ratio"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(${Llm.duckToks("text")}) AS w,
              |    generate_subscripts(${Llm.duckToks("text")}, 1) AS pos
              |  FROM documents),
              |big AS (
              |  SELECT w1, w2, COUNT(*) AS c FROM (
              |    SELECT w AS w1,
              |      lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              |    FROM toks QUALIFY w2 IS NOT NULL)
              |  GROUP BY 1, 2),
              |nrow AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM big),
              |w1m AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1
              |        FROM big GROUP BY 1),
              |huni AS (
              |  SELECT CAST(SUM(CAST((CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE)) *
              |      ln(CAST(c1 AS DOUBLE) / CAST(n AS DOUBLE))
              |      AS DECIMAL(30,12))) AS DOUBLE) AS neg_h_uni
              |  FROM w1m CROSS JOIN nrow),
              |hcond AS (
              |  SELECT CAST(SUM(CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
              |      ln(CAST(c AS DOUBLE) / CAST(c1 AS DOUBLE))
              |      AS DECIMAL(30,12))) AS DOUBLE) AS neg_h_cond
              |  FROM big JOIN w1m USING (w1) CROSS JOIN nrow)
              |SELECT n AS n_bigrams,
              |  round(-neg_h_uni, 6) AS h_unigram,
              |  round(-neg_h_cond, 6) AS h_cond_bigram,
              |  round(neg_h_cond / neg_h_uni, 6) AS entropy_rate_ratio
              |FROM huni CROSS JOIN hcond CROSS JOIN nrow""".stripMargin)),

    // Mutual information I(event_type; weekday) with both normalizations
    // (NMI by min/joint entropy) — the symmetric companion to stats_theil_u
    // (same joint frame, different readout; U answers "% of H(type)
    // explained", MI/NMI answer "how many nats shared, on what scale").
    // Weekday is the engine-neutral integer datediff % 7. I = H(t) + H(d)
    // − H(t,d), each a p·ln p decimal-exact sum over a bounded frame.
    Q("stats_mutual_information",
      (s, dir) => {
        import s.implicits._
        val joint = graft.Tables.events(s, dir)
          .select((datediff(to_date($"ts"), lit("2024-01-01").cast("date")) % 7)
            .as("dow"), $"event_type")
          .groupBy($"dow", $"event_type").agg(count(lit(1)).as("c"))
          .localCheckpoint()
        val nrow = joint.agg(sum($"c").cast("long").as("n"))
        def negH(df: org.apache.spark.sql.DataFrame, cnt: String,
            as: String) =
          df.crossJoin(broadcast(nrow))
            .agg(sum(((col(cnt).cast("double") / $"n".cast("double")) *
              log(col(cnt).cast("double") / $"n".cast("double")))
              .cast("decimal(30,12)")).cast("double").as(as))
        val ht = negH(joint.groupBy($"event_type")
          .agg(sum($"c").cast("long").as("ct")), "ct", "neg_ht")
        val hd = negH(joint.groupBy($"dow")
          .agg(sum($"c").cast("long").as("cd")), "cd", "neg_hd")
        val hj = negH(joint, "c", "neg_hj")
        ht.crossJoin(broadcast(hd)).crossJoin(broadcast(hj))
          .crossJoin(broadcast(nrow))
          .select($"n".as("n_events"),
            round(-$"neg_ht", 6).as("h_type"),
            round(-$"neg_hd", 6).as("h_dow"),
            round(-$"neg_hj", 6).as("h_joint"),
            round($"neg_hj" - $"neg_ht" - $"neg_hd", 6).as("mi"),
            round(($"neg_hj" - $"neg_ht" - $"neg_hd") /
              greatest($"neg_ht", $"neg_hd").unary_-, 6).as("nmi_min"))
      },
      Some("""WITH joint AS (
             |  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
             |      AS dow, event_type, COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |nrow AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint),
             |ht AS (
             |  SELECT CAST(SUM(CAST((CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      ln(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             |      AS DECIMAL(30,12))) AS DOUBLE) AS neg_ht
             |  FROM (SELECT event_type, CAST(SUM(c) AS BIGINT) AS ct
             |        FROM joint GROUP BY 1) CROSS JOIN nrow),
             |hd AS (
             |  SELECT CAST(SUM(CAST((CAST(cd AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      ln(CAST(cd AS DOUBLE) / CAST(n AS DOUBLE))
             |      AS DECIMAL(30,12))) AS DOUBLE) AS neg_hd
             |  FROM (SELECT dow, CAST(SUM(c) AS BIGINT) AS cd
             |        FROM joint GROUP BY 1) CROSS JOIN nrow),
             |hj AS (
             |  SELECT CAST(SUM(CAST((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |      AS DECIMAL(30,12))) AS DOUBLE) AS neg_hj
             |  FROM joint CROSS JOIN nrow)
             |SELECT n AS n_events,
             |  round(-neg_ht, 6) AS h_type,
             |  round(-neg_hd, 6) AS h_dow,
             |  round(-neg_hj, 6) AS h_joint,
             |  round(neg_hj - neg_ht - neg_hd, 6) AS mi,
             |  round((neg_hj - neg_ht - neg_hd) /
             |    (-greatest(neg_ht, neg_hd)), 6) AS nmi_min
             |FROM ht CROSS JOIN hd CROSS JOIN hj CROSS JOIN nrow""".stripMargin)),

    // Breusch–Pagan heteroscedasticity LM test on the price~quantity OLS:
    // does residual variance grow with the regressor? (On this synthetic
    // slice it barely does — LM ≈ 0.22, an honest near-homoscedastic
    // readout; the statistic itself is what the operator ships.)
    // Pass 1: one grouped-moments pass
    // → (a, b) closed form; pass 2: join the 1-row coefficient frame
    // (sanctioned scalar cross), form e², and take the auxiliary e²~x OLS
    // moments in one aggregate; LM = n·R²_aux. e² ≤ ~2.5e9 at scale 4 —
    // the decimal grid (1e-4) stays coarser than ulp(2.5e9) ≈ 4.8e-7... the
    // SUM is exact either way; the per-value cast grid bounds the rounding
    // divergence risk per the QueryDSL boundary rule.
    Q("stats_breusch_pagan",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(18,2)")
        val yd = ($"l_extendedprice" - 40000.0d).cast("decimal(18,2)")
        // Both OLS passes do heavy per-row decimal(30/38,*) cast+sum work; a
        // spread exchange is read by both (ReuseExchange — identical
        // subtree). Decimal sums are partitioning-independent.
        val li = spread(t(s, dir, "lineitem")
          .select($"l_quantity", $"l_extendedprice"), $"l_extendedprice")
        val m1 = li.agg(count(lit(1)).as("n"),
            sum(xd).cast("double").as("sx"),
            sum(xd * xd).cast("double").as("sxx"),
            sum(yd).cast("double").as("sy"),
            sum(xd * yd).cast("double").as("sxy"))
          .select($"n",
            (($"sxy" - $"sx" * $"sy" / $"n") /
              ($"sxx" - $"sx" * $"sx" / $"n")).as("b"),
            ($"sy" / $"n").as("ybar_d"), ($"sx" / $"n").as("xbar_d"))
        val aux = li.crossJoin(broadcast(m1))
          .select($"l_quantity",
            (($"l_extendedprice" - 40000.0d - $"ybar_d") -
              $"b" * ($"l_quantity" - 25.0d - $"xbar_d")).as("e"))
          .select((($"l_quantity" - 25.0d)).as("x"), ($"e" * $"e").as("e2"))
        aux.agg(count(lit(1)).as("n"),
            sum($"x".cast("decimal(18,2)")).cast("double").as("sx"),
            sum(($"x" * $"x").cast("decimal(18,2)")).cast("double").as("sxx"),
            sum($"e2".cast("decimal(30,4)")).cast("double").as("se"),
            sum(($"e2" * $"e2").cast("decimal(38,4)")).cast("double").as("see"),
            sum(($"x" * $"e2").cast("decimal(30,4)")).cast("double").as("sxe"))
          .select($"n".cast("long").as("n"),
            round($"n".cast("double") *
              ((($"sxe" - $"sx" * $"se" / $"n") * ($"sxe" - $"sx" * $"se" / $"n")) /
                (($"sxx" - $"sx" * $"sx" / $"n") *
                  ($"see" - $"se" * $"se" / $"n"))), 6).as("bp_lm"),
            lit(1L).as("df"))
      },
      Some("""WITH m1 AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(18,2)))
             |      AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(18,2)) *
             |      CAST(l_quantity - 25.0 AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)))
             |      AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(18,2)) *
             |      CAST(l_extendedprice - 40000.0 AS DECIMAL(18,2)))
             |      AS DOUBLE) AS sxy
             |  FROM lineitem),
             |co AS (
             |  SELECT n, (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
             |    sy / n AS ybar_d, sx / n AS xbar_d FROM m1),
             |aux AS (
             |  SELECT l_quantity - 25.0 AS x,
             |    ((l_extendedprice - 40000.0 - co.ybar_d) -
             |      co.b * (l_quantity - 25.0 - co.xbar_d)) *
             |    ((l_extendedprice - 40000.0 - co.ybar_d) -
             |      co.b * (l_quantity - 25.0 - co.xbar_d)) AS e2
             |  FROM lineitem CROSS JOIN co),
             |m2 AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(x * x AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(e2 AS DECIMAL(30,4))) AS DOUBLE) AS se,
             |    CAST(SUM(CAST(e2 * e2 AS DECIMAL(38,4))) AS DOUBLE) AS see,
             |    CAST(SUM(CAST(x * e2 AS DECIMAL(30,4))) AS DOUBLE) AS sxe
             |  FROM aux)
             |SELECT CAST(n AS BIGINT) AS n,
             |  round(CAST(n AS DOUBLE) *
             |    (((sxe - sx * se / n) * (sxe - sx * se / n)) /
             |      ((sxx - sx * sx / n) * (see - se * se / n))), 6) AS bp_lm,
             |  CAST(1 AS BIGINT) AS df
             |FROM m2""".stripMargin))
  )
}
