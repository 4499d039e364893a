package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import QueryDSL._

/** Round-11 wave three: embedding-geometry audit (isotropy), storage-layout
  * presortedness, robust outlier fences, and the dedup threshold-sweep
  * planning table — same contract as every family (scale-shaped plans,
  * decimal-exact cross-partition reductions, total ORDER BY, DuckDB oracle
  * per query). */
object Analytics11 {

  val queries: Seq[Q] = Seq(

    // Embedding isotropy audit — the geometry health-check run before any
    // cosine-based retrieval is trusted (a common-mean-dominated or
    // few-axis space makes cosine scores meaningless): per-dimension first
    // and second moments from ONE posexplode pass (d×(Σv, Σv²), decimal-
    // exact), reduced to ‖μ‖², the covariance trace, the mean-dominance
    // ratio ‖μ‖²/E‖v‖² (Mu & Viswanath's all-but-the-top motivation), the
    // top axis-variance share, and the participation ratio (Σvar)²/Σvar²
    // — the axis-aligned effective dimensionality. At 100 TB this is one
    // map-side-combined d-cell aggregation; nothing downstream exceeds d
    // rows.
    Q("embed_isotropy_audit",
      (s, dir) => {
        import s.implicits._
        val dims = t(s, dir, "embeddings")
          .select($"vec_id", posexplode($"embedding").as(Seq("p", "v")))
          .select($"p", $"v".cast("double").as("v"))
          .groupBy($"p")
          .agg(count(lit(1)).as("n"), dsum($"v", 12).as("sv"),
            dsum($"v" * $"v", 12).as("svv"))
          .select($"p", $"n",
            ($"sv" / $"n".cast("double")).as("mu"),
            ($"svv" / $"n".cast("double") -
              ($"sv" / $"n".cast("double")) * ($"sv" / $"n".cast("double")))
              .as("varp"))
          .localCheckpoint()
        dims
          .agg(count(lit(1)).as("d"), max($"n").cast("long").as("n_vectors"),
            sum(($"mu" * $"mu").cast("decimal(30,12)")).cast("double")
              .as("mu_norm2"),
            sum($"varp".cast("decimal(30,12)")).cast("double").as("trace"),
            max($"varp").as("max_var"),
            sum(($"varp" * $"varp").cast("decimal(30,12)")).cast("double")
              .as("var2"))
          .select($"d", $"n_vectors",
            round($"mu_norm2", 8).as("mean_norm2"),
            round($"trace", 8).as("cov_trace"),
            round($"mu_norm2" / ($"mu_norm2" + $"trace"), 6)
              .as("mean_dominance"),
            round($"max_var" / $"trace", 6).as("top_axis_share"),
            round(($"trace" * $"trace") / $"var2", 4)
              .as("participation_ratio"))
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) AS p
             |  FROM embeddings),
             |dims AS (
             |  SELECT p, COUNT(*) AS n,
             |    CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE) AS sv,
             |    CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE) AS svv
             |  FROM flat GROUP BY p),
             |m AS (
             |  SELECT p, n, sv / n AS mu,
             |    svv / n - (sv / n) * (sv / n) AS varp
             |  FROM dims),
             |g AS (
             |  SELECT COUNT(*) AS d, CAST(MAX(n) AS BIGINT) AS n_vectors,
             |    CAST(SUM(CAST(mu * mu AS DECIMAL(30,12))) AS DOUBLE)
             |      AS mu_norm2,
             |    CAST(SUM(CAST(varp AS DECIMAL(30,12))) AS DOUBLE) AS trace,
             |    MAX(varp) AS max_var,
             |    CAST(SUM(CAST(varp * varp AS DECIMAL(30,12))) AS DOUBLE)
             |      AS var2
             |  FROM m)
             |SELECT d, n_vectors, round(mu_norm2, 8) AS mean_norm2,
             |  round(trace, 8) AS cov_trace,
             |  round(mu_norm2 / (mu_norm2 + trace), 6) AS mean_dominance,
             |  round(max_var / trace, 6) AS top_axis_share,
             |  round((trace * trace) / var2, 4) AS participation_ratio
             |FROM g""".stripMargin)),

    // Presortedness audit of the natural (orderkey, linenumber) record order
    // vs the ship-date column, per order month: descents WITHIN each order's
    // line sequence (the deterministic adjacency — cross-order adjacency
    // depends on physical row order, which a distributed scan does not
    // define), run count, and a sortedness score — the "will zone maps
    // work without an explicit sort" planning signal. One order-partitioned
    // lag window, one month rollup, pure integers.
    Q("scale_sort_run_audit",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber", $"l_shipdate",
            date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
          // (orderkey, linenumber) is NOT unique in the synthetic data —
          // break lag-order ties by the compared value itself, which makes
          // the descent count permutation-invariant hence deterministic
          .withColumn("prev", lag($"l_shipdate", 1).over(
            Window.partitionBy($"l_orderkey")
              .orderBy($"l_linenumber", $"l_shipdate")))
        li.groupBy($"ship_month")
          .agg(count(lit(1)).as("n_lines"),
            sum(when($"prev".isNotNull && $"prev" > $"l_shipdate", 1L)
              .otherwise(0L)).as("descents"),
            sum(when($"prev".isNotNull, 1L).otherwise(0L)).as("adjacencies"))
          .select($"ship_month", $"n_lines", $"descents", $"adjacencies",
            ($"descents" + when($"adjacencies" > 0, 0L).otherwise(0L))
              .as("runs_minus_groups"),
            round(when($"adjacencies" > 0,
              lit(1.0d) - $"descents".cast("double") /
                $"adjacencies".cast("double")), 6).as("sortedness"))
          .drop("runs_minus_groups")
          .orderBy($"ship_month")
      },
      Some("""WITH li AS (
             |  SELECT l_orderkey, l_linenumber, l_shipdate,
             |    strftime(l_shipdate, '%Y-%m') AS ship_month,
             |    lag(l_shipdate) OVER (PARTITION BY l_orderkey
             |      ORDER BY l_linenumber, l_shipdate) AS prev
             |  FROM lineitem)
             |SELECT ship_month, COUNT(*) AS n_lines,
             |  CAST(SUM(CASE WHEN prev IS NOT NULL AND prev > l_shipdate
             |    THEN 1 ELSE 0 END) AS BIGINT) AS descents,
             |  CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS adjacencies,
             |  round(CASE WHEN SUM(CASE WHEN prev IS NOT NULL THEN 1
             |      ELSE 0 END) > 0 THEN
             |    1.0 - CAST(SUM(CASE WHEN prev IS NOT NULL AND
             |        prev > l_shipdate THEN 1 ELSE 0 END) AS DOUBLE) /
             |      CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END)
             |        AS DOUBLE)
             |    END, 6) AS sortedness
             |FROM li GROUP BY ship_month ORDER BY ship_month""".stripMargin)),

    // Tukey-fence outlier census per event type: exact interpolated
    // quartiles (the same percentile machinery both engines agree on
    // bit-for-bit), 1.5×IQR fences broadcast back by an equi-join on the
    // type key, and the low/high outlier counts plus rate — the robust
    // alternative to z-score flagging that survives heavy tails. Two
    // key-partitioned passes, no global sort, no cross.
    Q("stats_tukey_fences",
      (s, dir) => {
        import s.implicits._
        val fences = graft.Tables.events(s, dir)
          .groupBy($"event_type")
          .agg(expr("percentile(value, array(0.25D, 0.75D))").as("qs"))
          .select($"event_type",
            element_at($"qs", 1).as("q1"), element_at($"qs", 2).as("q3"))
          .select($"event_type", $"q1", $"q3",
            ($"q1" - lit(1.5d) * ($"q3" - $"q1")).as("lo_fence"),
            ($"q3" + lit(1.5d) * ($"q3" - $"q1")).as("hi_fence"))
        graft.Tables.events(s, dir)
          .select($"event_type", $"value")
          .join(fences, "event_type")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"),
            first($"q1").as("f_q1"), first($"q3").as("f_q3"),
            sum(when($"value" < $"lo_fence", 1L).otherwise(0L)).as("n_low"),
            sum(when($"value" > $"hi_fence", 1L).otherwise(0L)).as("n_high"))
          .select($"event_type", $"n", round($"f_q1", 6).as("q1"),
            round($"f_q3", 6).as("q3"), $"n_low", $"n_high",
            round(($"n_low" + $"n_high").cast("double") / $"n".cast("double"), 6)
              .as("outlier_rate"))
          .orderBy($"event_type")
      },
      Some("""WITH f AS (
             |  SELECT event_type,
             |    quantile_cont(value, 0.25) AS q1,
             |    quantile_cont(value, 0.75) AS q3
             |  FROM events GROUP BY event_type),
             |j AS (
             |  SELECT e.event_type, e.value, f.q1, f.q3,
             |    f.q1 - 1.5 * (f.q3 - f.q1) AS lo_fence,
             |    f.q3 + 1.5 * (f.q3 - f.q1) AS hi_fence
             |  FROM events e JOIN f USING (event_type))
             |SELECT event_type, COUNT(*) AS n,
             |  round(ANY_VALUE(q1), 6) AS q1, round(ANY_VALUE(q3), 6) AS q3,
             |  CAST(SUM(CASE WHEN value < lo_fence THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_low,
             |  CAST(SUM(CASE WHEN value > hi_fence THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_high,
             |  round(CAST(SUM(CASE WHEN value < lo_fence OR value > hi_fence
             |      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             |    AS outlier_rate
             |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Dedup threshold-sweep planning table: exact 3-gram Jaccard over the
    // df-capped candidate space (shingle in 2..50 docs — the production
    // stop-phrase cap; never all-pairs), then per threshold θ ∈
    // {0.3, 0.5, 0.7}: qualifying pairs and removed docs under the
    // keep-smallest-id rule — the table a curator reads before committing
    // to a near-dup threshold. Thresholds {0.02, 0.05, 0.9} bracket the
    // corpus's actual Jaccard landscape (a dense boilerplate floor at
    // ~0.01-0.03, a clean gap, and the exact-duplicate cluster at ≥0.95 —
    // the bimodal shape real web corpora show). Conditional sums over ONE
    // pair frame, stacked to 3 rows in a projection.
    Q("dedup_threshold_sweep",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").filter($"doc_id" < 300)
        val sh = graft.llm.Dedup.shingleFrame(docs, "doc_id", "text")
          .localCheckpoint()
        val capped = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
          .filter($"df".between(2, 50)).select("shingle")
        val shc = sh.join(capped, "shingle")
        val sizes = sh.groupBy($"doc_id").agg(countDistinct($"shingle").as("sz"))
        // shingleFrame is already per-doc distinct (array_distinct before the
        // explode) — no dedup pass needed before the candidate equi-join
        val inter = shc.select($"shingle", $"doc_id".as("id1"))
          .join(shc.select($"shingle", $"doc_id".as("id2")), "shingle")
          .filter($"id1" < $"id2")
          .groupBy($"id1", $"id2").agg(count(lit(1)).as("shared"))
        val jacc = inter
          .join(sizes.select($"doc_id".as("id1"), $"sz".as("sz1")), "id1")
          .join(sizes.select($"doc_id".as("id2"), $"sz".as("sz2")), "id2")
          .select($"id1", $"id2", ($"shared".cast("double") /
            ($"sz1" + $"sz2" - $"shared").cast("double")).as("j"))
        val row = jacc.agg(count(lit(1)).as("n_candidates"),
          sum(when($"j" >= 0.02d, 1L).otherwise(0L)).as("p3"),
          sum(when($"j" >= 0.05d, 1L).otherwise(0L)).as("p5"),
          sum(when($"j" >= 0.9d, 1L).otherwise(0L)).as("p7"),
          countDistinct(when($"j" >= 0.02d, $"id2")).as("r3"),
          countDistinct(when($"j" >= 0.05d, $"id2")).as("r5"),
          countDistinct(when($"j" >= 0.9d, $"id2")).as("r7"))
        row.select(expr(
          "stack(3, 0.02D, n_candidates, p3, r3, 0.05D, n_candidates, p5, r5, " +
            "0.9D, n_candidates, p7, r7)")
          .as(Seq("threshold", "n_candidates", "pairs_over", "docs_removed")))
          .orderBy($"threshold")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, ${Llm.duckToks("text")} AS tk
              |  FROM documents WHERE doc_id < 300),
              |shing AS (
              |  SELECT DISTINCT doc_id,
              |    unnest(CASE WHEN len(tk) >= 3
              |      THEN list_distinct(list_transform(range(1, len(tk) - 1),
              |             i -> array_to_string(tk[i:i+2], ' ')))
              |      ELSE [] END) AS shingle
              |  FROM toks),
              |capped AS (SELECT shingle FROM shing GROUP BY shingle
              |           HAVING COUNT(*) BETWEEN 2 AND 50),
              |shc AS (SELECT s.doc_id, s.shingle
              |        FROM shing s JOIN capped USING (shingle)),
              |sizes AS (SELECT doc_id, COUNT(DISTINCT shingle) AS sz
              |          FROM shing GROUP BY doc_id),
              |inter AS (
              |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
              |  FROM shc a JOIN shc b
              |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |jacc AS (
              |  SELECT i.id1, i.id2,
              |    CAST(i.shared AS DOUBLE) /
              |      CAST(z1.sz + z2.sz - i.shared AS DOUBLE) AS j
              |  FROM inter i
              |  JOIN sizes z1 ON z1.doc_id = i.id1
              |  JOIN sizes z2 ON z2.doc_id = i.id2),
              |row0 AS (
              |  SELECT COUNT(*) AS n_candidates,
              |    SUM(CASE WHEN j >= 0.02 THEN 1 ELSE 0 END) AS p3,
              |    SUM(CASE WHEN j >= 0.05 THEN 1 ELSE 0 END) AS p5,
              |    SUM(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS p7,
              |    COUNT(DISTINCT CASE WHEN j >= 0.02 THEN id2 END) AS r3,
              |    COUNT(DISTINCT CASE WHEN j >= 0.05 THEN id2 END) AS r5,
              |    COUNT(DISTINCT CASE WHEN j >= 0.9 THEN id2 END) AS r7
              |  FROM jacc)
              |SELECT threshold, n_candidates, pairs_over, docs_removed
              |FROM (
              |  SELECT 0.02 AS threshold, n_candidates,
              |    CAST(p3 AS BIGINT) AS pairs_over,
              |    CAST(r3 AS BIGINT) AS docs_removed FROM row0
              |  UNION ALL
              |  SELECT 0.05, n_candidates, CAST(p5 AS BIGINT),
              |    CAST(r5 AS BIGINT) FROM row0
              |  UNION ALL
              |  SELECT 0.9, n_candidates, CAST(p7 AS BIGINT),
              |    CAST(r7 AS BIGINT) FROM row0)
              |ORDER BY threshold""".stripMargin)),

    // Weighted sampling WITHOUT replacement via the Efraimidis-Spirakis /
    // Gumbel trick: each doc draws an exact dyadic md5 uniform u and keys
    // on ln(u)/w (equivalent to u^(1/w)); the top-5 keys per source ARE a
    // w-weighted sample without replacement — fully deterministic, no RNG
    // state, one source-partitioned window. The length-weighted per-source
    // pick every mixing pipeline needs when "sample 5 docs proportional to
    // length" must be reproducible across reruns and engines.
    Q("sample_gumbel_topk",
      (s, dir) => {
        import s.implicits._
        val scale16 = math.pow(16.0, 12)
        val keyed = t(s, dir, "documents")
          .select($"source", $"doc_id", $"n_chars",
            ((conv(substring(md5($"doc_id".cast("string")), 1, 12), 16, 10)
              .cast("long").cast("double") + 0.5d) / scale16).as("u"))
          .select($"source", $"doc_id", $"n_chars",
            (log($"u") / $"n_chars".cast("double")).as("k"))
        keyed
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy($"source")
              .orderBy($"k".desc, $"doc_id")))
          .filter($"rk" <= 5)
          .select($"source", $"rk", $"doc_id", $"n_chars",
            round($"k", 10).as("es_key"))
          .orderBy($"source", $"rk")
      },
      Some(s"""WITH keyed AS (
              |  SELECT source, doc_id, n_chars,
              |    ln((CAST(${sqlHexInt("md5(CAST(doc_id AS VARCHAR))", 1, 12)}
              |        AS DOUBLE) + 0.5) / 281474976710656.0)
              |      / CAST(n_chars AS DOUBLE) AS k
              |  FROM documents),
              |rk AS (
              |  SELECT source, doc_id, n_chars, k,
              |    row_number() OVER (PARTITION BY source
              |      ORDER BY k DESC, doc_id) AS rk
              |  FROM keyed)
              |SELECT source, CAST(rk AS INTEGER) AS rk, doc_id, n_chars,
              |  round(k, 10) AS es_key
              |FROM rk WHERE rk <= 5 ORDER BY source, rk""".stripMargin)),

    // Restricted mean survival time at the 3-day horizon — the single
    // number clinical/retention analyses quote from the KM curve the
    // events_survival_km query already fits: RMST(3) = ∫₀³S(t)dt =
    // S(0)+S(1)+S(2) for the daily step function. Same identical-recursion
    // contract as KM (a FIXED-order product of ≤4 factors — double
    // multiplication is not associative, so both engines must step the
    // same sequence; the recursive CTE does).
    Q("events_survival_rmst",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
        val firsts = ev.groupBy($"user_id").agg(min($"ts").as("first_ts"))
        val conv = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"ts").as("p_ts"))
        val per = firsts.join(conv, Seq("user_id"), "left")
          .select(
            when(datediff(to_date($"p_ts"), to_date($"first_ts")).isNotNull &&
              datediff(to_date($"p_ts"), to_date($"first_ts")) <= 3,
              datediff(to_date($"p_ts"), to_date($"first_ts")))
              .otherwise(lit(3)).as("dur"),
            (!(datediff(to_date($"p_ts"), to_date($"first_ts")).isNotNull &&
              datediff(to_date($"p_ts"), to_date($"first_ts")) <= 3))
              .as("censored"))
        val byDur = per.groupBy($"dur")
          .agg(count(lit(1)).as("n_total"),
            sum(when(!$"censored", 1L).otherwise(0L)).as("d"))
          .select($"dur".as[Int], $"n_total".as[Long], $"d".as[Long])
        byDur.groupByKey(_ => 0)
          .mapGroups { (_, it) =>
            val rows = it.toArray.sortBy(_._1)
            var atRisk = rows.map(_._2).sum
            var surv = 1.0d
            val sAt = Array.fill(4)(1.0d)
            rows.foreach { case (dur, nTotal, d) =>
              if (d > 0) surv = surv * ((atRisk - d).toDouble / atRisk.toDouble)
              atRisk -= nTotal
              var t = dur
              while (t <= 3) { sAt(t) = surv; t += 1 }
            }
            // sAt(t) = survival AFTER day-t deaths; later days overwrite
            (3L, sAt(0), sAt(1), sAt(2), sAt(0) + sAt(1) + sAt(2))
          }
          .toDF("horizon_days", "s0", "s1", "s2", "rmst")
      },
      Some("""WITH RECURSIVE f AS (
             |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
             |c AS (
             |  SELECT user_id, min(ts) AS p_ts FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |tp AS (
             |  SELECT f.user_id,
             |    date_diff('day', CAST(f.first_ts AS DATE),
             |      CAST(c.p_ts AS DATE)) AS t_p
             |  FROM f LEFT JOIN c USING (user_id)),
             |per AS (
             |  SELECT CASE WHEN t_p IS NOT NULL AND t_p <= 3 THEN t_p
             |    ELSE 3 END AS dur,
             |    NOT (t_p IS NOT NULL AND t_p <= 3) AS censored
             |  FROM tp),
             |byd AS (
             |  SELECT dur, COUNT(*) AS n_total,
             |    SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d
             |  FROM per GROUP BY 1),
             |ord AS (
             |  SELECT dur, n_total, d,
             |    row_number() OVER (ORDER BY dur) AS rn,
             |    (SELECT COUNT(*) FROM per) -
             |      COALESCE(CAST(SUM(n_total) OVER (ORDER BY dur
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS at_risk
             |  FROM byd),
             |km AS (
             |  SELECT dur, rn,
             |    CASE WHEN d > 0
             |      THEN CAST(at_risk - d AS DOUBLE) / CAST(at_risk AS DOUBLE)
             |      ELSE CAST(1 AS DOUBLE) END AS s
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.dur, o.rn,
             |    km.s * (CASE WHEN o.d > 0
             |      THEN CAST(o.at_risk - o.d AS DOUBLE) /
             |        CAST(o.at_risk AS DOUBLE)
             |      ELSE CAST(1 AS DOUBLE) END)
             |  FROM km JOIN ord o ON o.rn = km.rn + 1),
             |sat AS (
             |  SELECT t.t,
             |    COALESCE((SELECT s FROM km WHERE km.dur <= t.t
             |              ORDER BY km.dur DESC LIMIT 1), 1.0) AS s
             |  FROM (SELECT unnest([0, 1, 2]) AS t) t)
             |SELECT CAST(3 AS BIGINT) AS horizon_days,
             |  MAX(CASE WHEN t = 0 THEN s END) AS s0,
             |  MAX(CASE WHEN t = 1 THEN s END) AS s1,
             |  MAX(CASE WHEN t = 2 THEN s END) AS s2,
             |  MAX(CASE WHEN t = 0 THEN s END) +
             |    MAX(CASE WHEN t = 1 THEN s END) +
             |    MAX(CASE WHEN t = 2 THEN s END) AS rmst
             |FROM sat""".stripMargin)),

    // Broadcast-threshold planning audit: per dimension table, rows × a
    // fixed per-table width model → estimated bytes, broadcastable under
    // the audit threshold, and how many scan partitions the table would
    // occupy — the join-strategy cheat sheet a 100 TB plan review starts
    // from. The thresholds are audit PARAMETERS (512 KB / 256 KB here) set
    // to exercise the decision boundary at test scale — at production
    // scale the same formula runs with 10 MB / 128 MB; an all-constant
    // "everything broadcasts" report would prove nothing (the vacuity gate
    // agrees). Six independent 1-row counts unioned; pure integers.
    Q("scale_broadcast_threshold_audit",
      (s, dir) => {
        import s.implicits._
        def one(name: String, width: Long) =
          t(s, dir, name).agg(count(lit(1)).as("n_rows"))
            .select(lit(name).as("table_name"), $"n_rows",
              lit(width).as("row_bytes"),
              ($"n_rows" * width).as("est_bytes"),
              ($"n_rows" * width <= 524288L).as("broadcastable"),
              expr(s"(n_rows * $width + 262143) div 262144")
                .as("scan_partitions"))
        Seq(("region", 30L), ("nation", 40L), ("supplier", 60L),
          ("customer", 80L), ("part", 90L), ("orders", 70L))
          .map { case (n, w) => one(n, w) }
          .reduce(_ unionAll _)
          .orderBy($"table_name")
      },
      Some("""WITH a AS (
             |  SELECT 'region' AS table_name, COUNT(*) AS n_rows,
             |    30 AS row_bytes FROM region
             |  UNION ALL SELECT 'nation', COUNT(*), 40 FROM nation
             |  UNION ALL SELECT 'supplier', COUNT(*), 60 FROM supplier
             |  UNION ALL SELECT 'customer', COUNT(*), 80 FROM customer
             |  UNION ALL SELECT 'part', COUNT(*), 90 FROM part
             |  UNION ALL SELECT 'orders', COUNT(*), 70 FROM orders)
             |SELECT table_name, n_rows, CAST(row_bytes AS BIGINT) AS row_bytes,
             |  CAST(n_rows * row_bytes AS BIGINT) AS est_bytes,
             |  n_rows * row_bytes <= 524288 AS broadcastable,
             |  CAST((n_rows * row_bytes + 262143) // 262144 AS BIGINT)
             |    AS scan_partitions
             |FROM a ORDER BY table_name""".stripMargin))
  )
}
