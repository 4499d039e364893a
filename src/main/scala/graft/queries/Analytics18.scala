package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryDSL._

/** Analytics wave 18 — resampling, competing risks, and stylometry:
  *
  *  - delete-1 jackknife standard error of the daily mean — the
  *    deterministic resampling companion to agg_poisson_bootstrap_se
  *  - competing-risks cumulative incidence (Aalen–Johansen estimator for
  *    purchase vs error as competing first events) — the third survival
  *    readout after events_survival_km and events_survival_nelson_aalen,
  *    on the same censoring frame
  *  - Burrows' Delta authorship/stylometry distance over top-30 function
  *    words — the digital-humanities classic the text family lacked
  *
  * Scale posture: jackknife and the competing-risks fold run on bounded
  * frames (≤31 days / ≤4 durations); Delta is keyed token algebra with a
  * single-row top-word-array cross (the geo_nearest_center sanction
  * shape) and a deterministic (even, even+1) pair join — never all-pairs.
  * Determinism: counts exact; f/z chains pinned IEEE with decimal-exact
  * sums; CIF increments accumulate on the 9-decimal grid in DECIMAL (the
  * Nelson–Aalen rule); the survival recursion multiplies pinned factors in
  * duration order exactly as the oracle's recursive CTE.
  */
object Analytics18 {

  private val DEC = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)

  val queries: Seq[Q] = Seq(

    // Delete-1 jackknife SE of the mean daily event count: μ₋ᵢ = (S−cᵢ)/(n−1),
    // SE² = (n−1)/n · Σ(μ₋ᵢ − μ̄)². With μ̄ = mean of μ₋ᵢ equal to the overall
    // mean for the delete-1 mean statistic, every term is a pinned-IEEE
    // rational of exact integers; the ≤31-term square sum accumulates in
    // DECIMAL. One daily rollup, whole-frame scalars via the sanctioned
    // calendar-frame window.
    Q("stats_jackknife_daily",
      (s, dir) => {
        import s.implicits._
        val wAll = Window.orderBy($"day")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        graft.Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("sc", sum($"c").over(wAll))
          .withColumn("mu", $"sc".cast("double") / $"n".cast("double"))
          .withColumn("mu_i",
            ($"sc" - $"c").cast("double") / ($"n" - 1).cast("double"))
          .groupBy($"n", $"mu")
          .agg(sum((($"mu_i" - $"mu") * ($"mu_i" - $"mu")).cast(DEC))
            .cast("double").as("ssq"))
          .select($"n".as("n_days"), round($"mu", 6).as("mean_daily"),
            round(sqrt(($"n" - 1).cast("double") / $"n".cast("double") *
              $"ssq"), 6).as("jackknife_se"))
      },
      Some("""WITH d AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |  FROM events GROUP BY 1),
             |f AS (
             |  SELECT c, COUNT(*) OVER () AS n, SUM(c) OVER () AS sc
             |  FROM d),
             |j AS (
             |  SELECT n,
             |    CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             |    CAST(sc - c AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mu_i
             |  FROM f)
             |SELECT n AS n_days, round(mu, 6) AS mean_daily,
             |  round(sqrt(CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE) *
             |    CAST(SUM(CAST((mu_i - mu) * (mu_i - mu)
             |      AS DECIMAL(30,12))) AS DOUBLE)), 6) AS jackknife_se
             |FROM j GROUP BY n, mu""".stripMargin)),

    // Aalen–Johansen cumulative incidence under competing risks: purchase
    // vs error as competing FIRST events from each user's first activity,
    // 3-day administrative horizon (the events_survival_km censoring
    // frame). CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s) with S the all-cause KM
    // survival. Lifetimes reduce per-user; the estimator folds over the
    // ≤4-row duration frame in pinned order — survival factors multiply
    // exactly as the oracle's recursive CTE, and each CIF increment is
    // quantized to the 9-decimal grid and accumulated in exact decimal
    // (the Nelson–Aalen association-order rule).
    Q("events_competing_risks_cif",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
        val firsts = ev.groupBy($"user_id").agg(min($"ts").as("f_ts"))
        def firstOf(kind: String, as: String) =
          ev.filter($"event_type" === kind).groupBy($"user_id")
            .agg(min($"ts").as(as))
        val per = firsts
          .join(firstOf("purchase", "p_ts"), Seq("user_id"), "left")
          .join(firstOf("error", "e_ts"), Seq("user_id"), "left")
          .select(
            coalesce(datediff(to_date($"p_ts"), to_date($"f_ts")), lit(999))
              .as("tp"),
            coalesce(datediff(to_date($"e_ts"), to_date($"f_ts")), lit(999))
              .as("te"))
          .select(least($"tp", $"te").as("tmin"), $"tp", $"te")
          .select(least($"tmin", lit(3)).as("dur"),
            when($"tmin" > 3, "censored")
              .when($"tp" <= $"te", "purchase").otherwise("error")
              .as("cause"))
        val byDur = per.groupBy($"dur")
          .agg(count(lit(1)).as("n_total"),
            sum(when($"cause" === "purchase", 1L).otherwise(0L)).as("dp"),
            sum(when($"cause" === "error", 1L).otherwise(0L)).as("de"))
          .select($"dur".as[Int], $"n_total".as[Long], $"dp".as[Long],
            $"de".as[Long])
        byDur.groupByKey(_ => 0)
          .flatMapGroups { (_, it) =>
            val rows = it.toArray.sortBy(_._1)
            var atRisk = rows.map(_._2).sum
            var surv = 1.0d
            var cifP = BigDecimal(0)
            var cifE = BigDecimal(0)
            def q9(x: Double) =
              BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
            rows.iterator.flatMap { case (dur, nTotal, dp, de) =>
              val nI = atRisk
              atRisk -= nTotal
              val d = dp + de
              cifP += q9(surv * dp.toDouble / nI.toDouble)
              cifE += q9(surv * de.toDouble / nI.toDouble)
              val factor =
                if (d > 0) (nI - d).toDouble / nI.toDouble else 1.0d
              surv = surv * factor
              if (d > 0)
                Iterator.single((dur.toLong, nI, dp, de,
                  cifP.toDouble, cifE.toDouble, surv))
              else Iterator.empty
            }
          }
          .toDF("duration_days", "n_at_risk", "d_purchase", "d_error",
            "cif_purchase", "cif_error", "km_surv")
          .orderBy($"duration_days")
      },
      Some("""WITH RECURSIVE f AS (
             |  SELECT user_id, min(ts) AS f_ts FROM events GROUP BY 1),
             |p AS (
             |  SELECT user_id, min(ts) AS p_ts FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |e AS (
             |  SELECT user_id, min(ts) AS e_ts FROM events
             |  WHERE event_type = 'error' GROUP BY 1),
             |per AS (
             |  SELECT least(least(tp, te), 3) AS dur,
             |    CASE WHEN least(tp, te) > 3 THEN 'censored'
             |         WHEN tp <= te THEN 'purchase' ELSE 'error' END
             |      AS cause
             |  FROM (
             |    SELECT
             |      COALESCE(date_diff('day', CAST(f.f_ts AS DATE),
             |        CAST(p.p_ts AS DATE)), 999) AS tp,
             |      COALESCE(date_diff('day', CAST(f.f_ts AS DATE),
             |        CAST(e.e_ts AS DATE)), 999) AS te
             |    FROM f
             |    LEFT JOIN p USING (user_id)
             |    LEFT JOIN e USING (user_id))),
             |byd AS (
             |  SELECT dur, COUNT(*) AS n_total,
             |    SUM(CASE WHEN cause = 'purchase' THEN 1 ELSE 0 END) AS dp,
             |    SUM(CASE WHEN cause = 'error' THEN 1 ELSE 0 END) AS de
             |  FROM per GROUP BY 1),
             |ord AS (
             |  SELECT dur, n_total, dp, de,
             |    row_number() OVER (ORDER BY dur) AS rn,
             |    (SELECT COUNT(*) FROM per) -
             |      COALESCE(CAST(SUM(n_total) OVER (ORDER BY dur
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS at_risk
             |  FROM byd),
             |aj AS (
             |  SELECT dur, rn, at_risk, dp, de,
             |    CAST(round(1.0 * dp / at_risk, 9) AS DECIMAL(30,12))
             |      AS cif_p,
             |    CAST(round(1.0 * de / at_risk, 9) AS DECIMAL(30,12))
             |      AS cif_e,
             |    (CASE WHEN dp + de > 0
             |      THEN CAST(at_risk - dp - de AS DOUBLE) /
             |        CAST(at_risk AS DOUBLE)
             |      ELSE CAST(1 AS DOUBLE) END) AS s
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.dur, o.rn, o.at_risk, o.dp, o.de,
             |    aj.cif_p + CAST(round(aj.s * CAST(o.dp AS DOUBLE) /
             |      o.at_risk, 9) AS DECIMAL(30,12)),
             |    aj.cif_e + CAST(round(aj.s * CAST(o.de AS DOUBLE) /
             |      o.at_risk, 9) AS DECIMAL(30,12)),
             |    aj.s * (CASE WHEN o.dp + o.de > 0
             |      THEN CAST(o.at_risk - o.dp - o.de AS DOUBLE) /
             |        CAST(o.at_risk AS DOUBLE)
             |      ELSE CAST(1 AS DOUBLE) END)
             |  FROM aj JOIN ord o ON o.rn = aj.rn + 1)
             |SELECT CAST(dur AS BIGINT) AS duration_days,
             |  at_risk AS n_at_risk, CAST(dp AS BIGINT) AS d_purchase,
             |  CAST(de AS BIGINT) AS d_error,
             |  CAST(cif_p AS DOUBLE) AS cif_purchase,
             |  CAST(cif_e AS DOUBLE) AS cif_error, s AS km_surv
             |FROM aj WHERE dp + de > 0 ORDER BY duration_days""".stripMargin)),

    // Burrows' Delta between deterministic (even, even+1) document pairs
    // over the corpus's top-30 words: z-score each document's relative
    // word frequency against the corpus mean/std per word, then
    // Δ = mean_w |z_a − z_b|. The top-word set collapses to ONE sorted
    // 30-element array row (two-phase top-k, then the sanctioned
    // single-row cross + explode — the geo_nearest_center shape); all
    // frequency/moment sums are decimal-exact; the z chain is pinned IEEE.
    Q("text_burrows_delta",
      (s, dir) => {
        import s.implicits._
        // One tokenize pass builds the (doc_id, w) count table, and both
        // rollups DERIVE from it: len = Σ_w cn (the per-doc token count) and
        // cw = Σ_doc cn (the corpus word count) — exact integer identities,
        // so dlen/top/grid/f are unchanged row-for-row.
        val cnt = spread(t(s, dir, "documents"))
          .select($"doc_id", explode(graft.llm.TextFunctions.tokens($"text"))
            .as("w"))
          .groupBy($"doc_id", $"w").agg(count(lit(1)).as("cn"))
          .localCheckpoint()
        val dlen = cnt.groupBy($"doc_id").agg(sum($"cn").as("len"))
        val top = cnt.groupBy($"w").agg(sum($"cn").as("cw"))
          .orderBy($"cw".desc, $"w").limit(30)
          .agg(sort_array(collect_list($"w")).as("ws"))
        val grid = dlen.crossJoin(broadcast(top))
          .select($"doc_id", $"len", explode($"ws").as("w"))
        val f = grid.join(cnt, Seq("doc_id", "w"), "left")
          .na.fill(0L, Seq("cn"))
          .select($"doc_id", $"w",
            ($"cn".cast("double") / $"len".cast("double")).as("fr"))
          .localCheckpoint()
        val stats = f.groupBy($"w")
          .agg(count(lit(1)).as("nd"),
            sum($"fr".cast(DEC)).cast("double").as("sf"),
            sum(($"fr" * $"fr").cast(DEC)).cast("double").as("sff"))
          .select($"w", ($"sf" / $"nd").as("muw"),
            sqrt(($"sff" - $"sf" * $"sf" / $"nd") / $"nd").as("sdw"))
        val z = f.join(broadcast(stats), "w")
          .select($"doc_id", $"w", (($"fr" - $"muw") / $"sdw").as("z"))
        z.filter($"doc_id" % 2 === 0)
          .join(z.filter($"doc_id" % 2 === 1)
            .select(($"doc_id" - 1).as("doc_id"), $"w", $"z".as("zb")),
            Seq("doc_id", "w"))
          .groupBy($"doc_id")
          .agg((sum(abs($"z" - $"zb").cast(DEC)).cast("double") /
            count(lit(1))).as("delta"))
          .select($"doc_id", round($"delta", 6).as("burrows_delta"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(${Llm.duckToks("text")}) AS w
              |  FROM documents),
              |dlen AS (
              |  SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
              |top AS (
              |  SELECT w FROM (
              |    SELECT w, COUNT(*) AS cw FROM toks GROUP BY 1
              |    ORDER BY cw DESC, w LIMIT 30)),
              |grid AS (
              |  SELECT d.doc_id, d.len, t.w FROM dlen d CROSS JOIN top t),
              |cnt AS (
              |  SELECT doc_id, w, COUNT(*) AS cn FROM toks GROUP BY 1, 2),
              |f AS (
              |  SELECT g.doc_id, g.w,
              |    CAST(COALESCE(c.cn, 0) AS DOUBLE) /
              |      CAST(g.len AS DOUBLE) AS fr
              |  FROM grid g LEFT JOIN cnt c
              |    ON c.doc_id = g.doc_id AND c.w = g.w),
              |stats AS (
              |  SELECT w, sf / nd AS muw,
              |    sqrt((sff - sf * sf / nd) / nd) AS sdw
              |  FROM (
              |    SELECT w, COUNT(*) AS nd,
              |      CAST(SUM(CAST(fr AS DECIMAL(30,12))) AS DOUBLE) AS sf,
              |      CAST(SUM(CAST(fr * fr AS DECIMAL(30,12))) AS DOUBLE)
              |        AS sff
              |    FROM f GROUP BY 1)),
              |z AS (
              |  SELECT f.doc_id, f.w, (f.fr - st.muw) / st.sdw AS z
              |  FROM f JOIN stats st ON st.w = f.w)
              |SELECT a.doc_id,
              |  round(CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(30,12)))
              |    AS DOUBLE) / COUNT(*), 6) AS burrows_delta
              |FROM z a JOIN z b
              |  ON b.doc_id = a.doc_id + 1 AND b.w = a.w
              |WHERE a.doc_id % 2 = 0
              |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
