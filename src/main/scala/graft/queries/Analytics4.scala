package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import QueryDSL._

/** Round-10 analytics wave: personalized PageRank, rank-based two-sample
  * testing, experiment-assignment auditing, and partial autocorrelation —
  * each the standard production companion of an operator family already in
  * the corpus (PageRank → topic-sensitive restart; Welch/KS → nonparametric
  * Mann-Whitney; chi-square → sample-ratio-mismatch; ACF → PACF).
  *
  * Same contract as every family: scale-shaped plans (bounded broadcasts,
  * banded global ranks, no all-pairs), decimal-exact reductions where sums
  * cross partitions, total ORDER BY, and a DuckDB oracle per query. */
object Analytics4 {

  val queries: Seq[Q] = Seq(

    // Personalized PageRank (topic-sensitive restart: teleport mass lands on a
    // SEED set, not uniformly): 5 synchronous iterations over the 25-node
    // customer-nation → supplier-nation trade graph, seeded by the EUROPE
    // nations. Same Pregel-by-joins shape as graph_pagerank — one
    // key-partitioned join + grouped decimal sum per round, rank state never
    // leaves the cluster — plus a seed-share column attached up front (the
    // |seeds| count is a single-row broadcast cross, the sanctioned scalar
    // fan-in). At 100 TB the per-iteration cost is one shuffle of the edge
    // frame; the seed set rides along as a column, so personalization is free.
    Q("graph_personalized_pagerank",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .agg(count(lit(1)).as("w"))
        val ow = e.groupBy($"src".as("osrc")).agg(sum($"w").as("ow"))
        val ew = e.join(ow, $"src" === $"osrc")
          .select($"src", $"dst", ($"w" / $"ow").as("frac"))
        val seeds = t(s, dir, "nation")
          .join(t(s, dir, "region").filter($"r_name" === "EUROPE"),
            $"n_regionkey" === $"r_regionkey")
          .select($"n_nationkey".as("seed"))
        // Round 15: 5 rounds folded into one single-row expression
        // (graft.ops.PowerFold, see graph_pagerank); the seed set collects
        // into the same row (bounded by |nations|), sshare = 1.0 / n_seeds
        // for seed nodes exactly as the old left join + scalar cross
        // computed it. Corpus-scale edge rollup unchanged.
        val seedsRow = seeds.agg(sort_array(collect_list($"seed")).as("seeds"))
        val row = graft.ops.PowerFold.edgeRow(ew).crossJoin(broadcast(seedsRow))
        def sshare(n: Column) =
          when(array_contains($"seeds", n), lit(1.0d) / size($"seeds"))
            .otherwise(lit(0.0d))
        row.select(explode(zip_with($"nodes",
            graft.ops.PowerFold.ranks($"es", $"nodes",
              transform($"nodes", n => sshare(n)),
              transform($"nodes", n => lit(0.15d) * sshare(n)), 0.85, 5),
            (n, r) => struct(n.as("node"), r.as("pr")))).as("z"))
          .select($"z.node".as("node"), round($"z.pr", 12).as("ppr"))
          .orderBy($"node")
      },
      Some {
        val iter = (k: Int) =>
          s"""r$k AS (SELECT n.node,
             |  0.15 * n.sshare + 0.85 * COALESCE(i.inflow, 0.0) AS pr
             |  FROM n LEFT JOIN (
             |    SELECT ew.dst,
             |      CAST(SUM(CAST(r.pr * ew.frac AS DECIMAL(30,12))) AS DOUBLE)
             |        AS inflow
             |    FROM ew JOIN r${k - 1} r ON ew.src = r.node GROUP BY ew.dst) i
             |  ON n.node = i.dst)""".stripMargin
        s"""WITH e AS (
           |  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  GROUP BY 1, 2),
           |ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY 1),
           |ew AS (SELECT e.src, e.dst, e.w / ow.ow AS frac
           |       FROM e JOIN ow ON e.src = ow.src),
           |seeds AS (SELECT n_nationkey AS seed FROM nation
           |          JOIN region ON n_regionkey = r_regionkey
           |          WHERE r_name = 'EUROPE'),
           |ns AS (SELECT COUNT(*) AS n_seeds FROM seeds),
           |n AS (SELECT node,
           |        CASE WHEN seed IS NOT NULL THEN 1.0 / n_seeds
           |             ELSE 0.0 END AS sshare
           |      FROM (SELECT src AS node FROM e UNION SELECT dst FROM e) v
           |      LEFT JOIN seeds ON v.node = seeds.seed CROSS JOIN ns),
           |r0 AS (SELECT node, sshare AS pr FROM n),
           |${(1 to 5).map(iter).mkString(",\n")}
           |SELECT node, round(pr, 12) AS ppr FROM r5 ORDER BY node""".stripMargin
      }),

    // Mann-Whitney U (Wilcoxon rank-sum): the nonparametric two-sample test
    // beside Welch (means) and KS (distributions) — urgent vs low-priority
    // order values, binned to thousands so ties are REAL and the tie
    // correction demonstrably bites. Global average ranks come from the
    // banded two-level rank (bandedRowNumber: the only single-partition leg
    // is the |bins| band spine), tie-averaged per value group as
    // (min+max)/2 — no single-reducer rank over the fact frame. Every
    // accumulation is integer/decimal until the final z readout (round 9, the
    // OLS FMA-guard discipline).
    Q("stats_mann_whitney",
      (s, dir) => {
        import s.implicits._
        val v = t(s, dir, "orders")
          .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
          .select(when($"o_orderpriority" === "1-URGENT", 1)
              .otherwise(2).as("g"),
            floor($"o_totalprice" / 1000).cast("long").as("v"),
            $"o_orderkey")
        val ranked = bandedRowNumber(v, $"v", Seq($"v", $"o_orderkey"),
          "rn", "ntot")
        val byVal = ranked.groupBy($"v")
          .agg(min($"rn").as("mn"), max($"rn").as("mx"),
            count(lit(1)).as("nt"),
            sum(when($"g" === 1, 1L).otherwise(0L)).as("n1v"))
        val agg = byVal.agg(
          sum($"n1v").cast("long").as("n1"),
          sum($"nt" - $"n1v").cast("long").as("n2"),
          (sum(($"n1v" * ($"mn" + $"mx")).cast("decimal(38,0)"))
            .cast("double") / 2.0d).as("r1"),
          sum(($"nt" * $"nt" * $"nt" - $"nt").cast("decimal(38,0)"))
            .cast("double").as("ties"))
        val n = ($"n1" + $"n2").cast("double")
        val u1 = $"r1" - $"n1".cast("double") * ($"n1" + 1).cast("double") / 2.0d
        val mu = $"n1".cast("double") * $"n2".cast("double") / 2.0d
        val varU = $"n1".cast("double") * $"n2".cast("double") / 12.0d *
          ((n + 1.0d) - $"ties" / (n * (n - 1.0d)))
        agg.select($"n1", $"n2", u1.as("u1"),
          round((u1 - mu) / sqrt(varU), 9).as("z"))
      },
      Some("""WITH v AS (
             |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
             |      AS g,
             |    CAST(floor(o_totalprice / 1000) AS BIGINT) AS v, o_orderkey
             |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
             |r AS (SELECT g, v,
             |    row_number() OVER (ORDER BY v, o_orderkey) AS rn FROM v),
             |byv AS (SELECT v, MIN(rn) AS mn, MAX(rn) AS mx, COUNT(*) AS nt,
             |    SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS n1v
             |  FROM r GROUP BY v),
             |s AS (SELECT
             |    CAST(SUM(n1v) AS BIGINT) AS n1,
             |    CAST(SUM(nt - n1v) AS BIGINT) AS n2,
             |    CAST(SUM(CAST(n1v * (mn + mx) AS DECIMAL(38,0))) AS DOUBLE)
             |      / 2.0 AS r1,
             |    CAST(SUM(CAST(nt*nt*nt - nt AS DECIMAL(38,0))) AS DOUBLE)
             |      AS ties
             |  FROM byv)
             |SELECT n1, n2,
             |  r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 AS u1,
             |  round((r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0
             |      - CAST(n1 AS DOUBLE) * n2 / 2.0) /
             |    sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0 *
             |      ((CAST(n1 + n2 AS DOUBLE) + 1.0)
             |        - ties / (CAST(n1 + n2 AS DOUBLE)
             |                  * (CAST(n1 + n2 AS DOUBLE) - 1.0)))), 9) AS z
             |FROM s""".stripMargin)),

    // Sample-ratio-mismatch audit (the first gate of every A/B readout: a
    // biased assignment invalidates everything downstream): users are
    // deterministically bucketed 50/50 by md5(user_id), observed counts go
    // through the 1-df chi-square, and the SRM verdict is an INTEGER
    // cross-multiplied compare against the 3.8415 critical value — no
    // floating-point boundary. One distinct-shuffle on user_id, a 2-row
    // rollup, a 1-row readout: at 100 TB this is a single pruned scan.
    Q("dq_srm_check",
      (s, dir) => {
        import s.implicits._
        val users = t(s, dir, "events").select($"user_id").distinct()
          .select($"user_id",
            (conv(substring(md5($"user_id".cast("string")), 1, 6), 16, 10)
              .cast("long") % 2).cast("int").as("arm"))
        val c = users.groupBy($"arm").agg(count(lit(1)).as("n"))
        val w = c.agg(
          sum(when($"arm" === 0, $"n").otherwise(0L)).cast("long").as("n0"),
          sum(when($"arm" === 1, $"n").otherwise(0L)).cast("long").as("n1"))
        val d = $"n0" - $"n1"
        w.select($"n0", $"n1",
          round(($"n0" - $"n1").cast("double") * ($"n0" - $"n1")
            / ($"n0" + $"n1"), 9).as("chi2"),
          // chi2 > 3.8415 <=> 10000*(n0-n1)^2 > 38415*(n0+n1), all integer
          (d * d * 10000L > ($"n0" + $"n1") * 38415L).as("srm_flag"))
      },
      Some(s"""WITH u AS (
              |  SELECT DISTINCT user_id FROM events),
              |b AS (
              |  SELECT user_id,
              |    CAST(${sqlHexInt("md5(CAST(user_id AS VARCHAR))", 1, 6)}
              |      % 2 AS INTEGER) AS arm
              |  FROM u),
              |w AS (SELECT
              |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n0,
              |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n1
              |  FROM b)
              |SELECT n0, n1,
              |  round(CAST(n0 - n1 AS DOUBLE) * (n0 - n1) / (n0 + n1), 9)
              |    AS chi2,
              |  (n0 - n1) * (n0 - n1) * 10000 > (n0 + n1) * 38415 AS srm_flag
              |FROM w""".stripMargin)),

    // Partial autocorrelation (Durbin-Levinson to lag 3) of the daily event
    // count series — the AR-order diagnostic next to events_autocorr_lag's
    // ACF: PACF cuts off where the AR process actually ends, which raw ACF
    // can't show. Lags pair via equi-joins on shifted dates (the ACF shape),
    // pivot to one row, then the DL recursion is pure scalar arithmetic —
    // identical expression trees on both engines, round(9) on the readouts
    // (nested-division FMA guard). |days|-grain frame throughout; at 100 TB
    // the only corpus-sized stage is the daily rollup.
    Q("events_pacf",
      (s, dir) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).cast("decimal(18,2)").as("c"))
        val nD = $"n_pairs".cast("double")
        val acf = daily.select($"day", $"c",
            explode(array((1 to 3).map(lit): _*)).as("k"))
          .join(daily.select($"day".as("pday"), $"c".as("pc")),
            date_sub($"day", $"k") === $"pday")
          .select($"k", $"c".as("x"), $"pc".as("y"))
          .groupBy($"k")
          .agg(count(lit(1)).as("n_pairs"),
            sum($"x").cast("double").as("sx"),
            sum($"x" * $"x").cast("double").as("sxx"),
            sum($"y").cast("double").as("sy"),
            sum($"y" * $"y").cast("double").as("syy"),
            sum($"x" * $"y").cast("double").as("sxy"))
          .select($"k",
            ((nD * $"sxy" - $"sx" * $"sy") /
              sqrt((nD * $"sxx" - $"sx" * $"sx") *
                   (nD * $"syy" - $"sy" * $"sy"))).as("r"))
        val piv = acf.agg(
          max(when($"k" === 1, $"r")).as("r1"),
          max(when($"k" === 2, $"r")).as("r2"),
          max(when($"k" === 3, $"r")).as("r3"))
        // Durbin-Levinson: phi11 = r1; phi22 = (r2-r1^2)/(1-r1^2);
        // phi21 = r1*(1-phi22); phi33 = (r3 - phi21*r2 - phi22*r1)
        //                              / (1 - phi21*r1 - phi22*r2)
        val phi22 = ($"r2" - $"r1" * $"r1") / (lit(1.0d) - $"r1" * $"r1")
        val phi21 = $"r1" * (lit(1.0d) - phi22)
        val phi33 = ($"r3" - phi21 * $"r2" - phi22 * $"r1") /
          (lit(1.0d) - phi21 * $"r1" - phi22 * $"r2")
        piv.select(round($"r1", 9).as("r1"), round($"r2", 9).as("r2"),
          round($"r3", 9).as("r3"),
          round($"r1", 9).as("pacf1"), round(phi22, 9).as("pacf2"),
          round(phi33, 9).as("pacf3"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    CAST(COUNT(*) AS DECIMAL(18,2)) AS c
             |  FROM events GROUP BY 1),
             |lagged AS (
             |  SELECT day, c, unnest([1, 2, 3]) AS k FROM daily),
             |pairs AS (
             |  SELECT l.k, l.c AS x, p.c AS y
             |  FROM lagged l JOIN daily p ON p.day = l.day - l.k),
             |g AS (
             |  SELECT k, COUNT(*) AS n_pairs,
             |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(x*x) AS DOUBLE) AS sxx,
             |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(y*y) AS DOUBLE) AS syy,
             |    CAST(SUM(x*y) AS DOUBLE) AS sxy
             |  FROM pairs GROUP BY k),
             |a AS (
             |  SELECT k,
             |    (CAST(n_pairs AS DOUBLE)*sxy - sx*sy) /
             |      sqrt((CAST(n_pairs AS DOUBLE)*sxx - sx*sx) *
             |           (CAST(n_pairs AS DOUBLE)*syy - sy*sy)) AS r
             |  FROM g),
             |p AS (SELECT
             |    MAX(CASE WHEN k = 1 THEN r END) AS r1,
             |    MAX(CASE WHEN k = 2 THEN r END) AS r2,
             |    MAX(CASE WHEN k = 3 THEN r END) AS r3
             |  FROM a),
             |dl AS (SELECT r1, r2, r3,
             |    (r2 - r1*r1) / (1.0 - r1*r1) AS phi22
             |  FROM p),
             |dl2 AS (SELECT r1, r2, r3, phi22,
             |    r1 * (1.0 - phi22) AS phi21
             |  FROM dl)
             |SELECT round(r1, 9) AS r1, round(r2, 9) AS r2,
             |  round(r3, 9) AS r3,
             |  round(r1, 9) AS pacf1, round(phi22, 9) AS pacf2,
             |  round((r3 - phi21*r2 - phi22*r1) /
             |        (1.0 - phi21*r1 - phi22*r2), 9) AS pacf3
             |FROM dl2""".stripMargin)),

    // Johnson-Lindenstrauss random projection (64 -> 16 dims with
    // deterministic md5-derived ±1 signs — the Achlioptas construction, no
    // RNG state) plus the audit that justifies it: pairwise squared-distance
    // distortion over the bounded probe set. Projection is a map-side 16-way
    // fan-out of the flattened (vec_id, pos, v) frame collapsed by decimal
    // sums (float x ±1 products are exact in double, so the reduction is
    // bit-stable at any partitioning); the audit pairs probe vectors via an
    // equi-join on dimension position, never a cross. At 100 TB: one linear
    // pass to project, and downstream ANN runs 4x cheaper per distance.
    Q("embed_random_projection",
      (s, dir) => {
        import s.implicits._
        val flat = t(s, dir, "embeddings")
          .select($"vec_id", posexplode($"embedding").as(Seq("pos", "vf")))
          .select($"vec_id", $"pos", $"vf".cast("double").as("v"))
          .localCheckpoint()
        val proj = flat
          .select($"vec_id", $"pos", $"v",
            explode(array((0 until 16).map(lit): _*)).as("j"))
          .withColumn("sgn",
            (conv(substring(md5(concat($"pos".cast("string"), lit(":"),
              $"j".cast("string"))), 1, 6), 16, 10)
              .cast("long") % 2 * 2 - 1).cast("double"))
          .groupBy($"vec_id", $"j")
          .agg((sum(($"v" * $"sgn").cast("decimal(30,12)"))
            .cast("double") / 4.0d).as("p")) // / sqrt(16)
        val probes = flat.filter($"vec_id" < 20)
        val dOrig = probes.as("a")
          .join(probes.as("b"),
            $"a.pos" === $"b.pos" && $"a.vec_id" < $"b.vec_id")
          .groupBy($"a.vec_id".as("id1"), $"b.vec_id".as("id2"))
          .agg(sum((($"a.v" - $"b.v") * ($"a.v" - $"b.v"))
            .cast("decimal(30,12)")).cast("double").as("d2_orig"))
        val pp = proj.filter($"vec_id" < 20)
        val dProj = pp.as("a")
          .join(pp.as("b"), $"a.j" === $"b.j" && $"a.vec_id" < $"b.vec_id")
          .groupBy($"a.vec_id".as("p1"), $"b.vec_id".as("p2"))
          .agg(sum((($"a.p" - $"b.p") * ($"a.p" - $"b.p"))
            .cast("decimal(30,12)")).cast("double").as("d2_proj"))
        dOrig.join(dProj, $"id1" === $"p1" && $"id2" === $"p2")
          .select($"id1", $"id2", round($"d2_orig", 9).as("d2_orig"),
            round($"d2_proj", 9).as("d2_proj"),
            round($"d2_proj" / $"d2_orig", 6).as("distortion"))
          .orderBy($"id1", $"id2")
      },
      Some(s"""WITH flat AS (
              |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
              |         generate_subscripts(embedding, 1) - 1 AS pos
              |  FROM embeddings),
              |fan AS (
              |  SELECT vec_id, pos, v, unnest(range(16)) AS j FROM flat),
              |proj AS (
              |  SELECT vec_id, j,
              |    CAST(SUM(CAST(v * (${sqlHexInt(
                     "md5(CAST(pos AS VARCHAR) || ':' || CAST(j AS VARCHAR))",
                     1, 6)} % 2 * 2 - 1) AS DECIMAL(30,12))) AS DOUBLE) / 4.0
              |      AS p
              |  FROM fan GROUP BY 1, 2),
              |d_orig AS (
              |  SELECT a.vec_id AS id1, b.vec_id AS id2,
              |    CAST(SUM(CAST((a.v - b.v) * (a.v - b.v) AS DECIMAL(30,12)))
              |      AS DOUBLE) AS d2_orig
              |  FROM flat a JOIN flat b
              |    ON a.pos = b.pos AND a.vec_id < b.vec_id
              |  WHERE a.vec_id < 20 AND b.vec_id < 20 GROUP BY 1, 2),
              |d_proj AS (
              |  SELECT a.vec_id AS id1, b.vec_id AS id2,
              |    CAST(SUM(CAST((a.p - b.p) * (a.p - b.p) AS DECIMAL(30,12)))
              |      AS DOUBLE) AS d2_proj
              |  FROM proj a JOIN proj b
              |    ON a.j = b.j AND a.vec_id < b.vec_id
              |  WHERE a.vec_id < 20 AND b.vec_id < 20 GROUP BY 1, 2)
              |SELECT o.id1, o.id2, round(o.d2_orig, 9) AS d2_orig,
              |  round(p.d2_proj, 9) AS d2_proj,
              |  round(p.d2_proj / o.d2_orig, 6) AS distortion
              |FROM d_orig o JOIN d_proj p ON o.id1 = p.id1 AND o.id2 = p.id2
              |ORDER BY o.id1, o.id2""".stripMargin)),

    // Exact permutation test on the experiment readout (the assumption-free
    // significance check beside Welch's t: no normality, no variance model):
    // 64 md5-derived label permutations per user — deterministic, identical
    // on every engine and retry, no RNG state — each scoring the same
    // mean-difference statistic, p = share of permuted |diffs| >= |observed|.
    // Shape: the per-user metric frame fans out x65 map-side (explode of a
    // literal array), collapses to a 130-row (b, arm) rollup in decimal, and
    // the readout is scalar arithmetic — the fact table is read once. The
    // observed split reuses dq_srm_check's md5 assignment.
    Q("stats_permutation_test",
      (s, dir) => {
        import s.implicits._
        val perUser = t(s, dir, "events")
          .filter($"event_type" === "purchase" &&
            $"ts" < lit("2024-01-16").cast("timestamp"))
          .groupBy($"user_id").agg(count(lit(1)).as("m"))
        // b = 0 is the OBSERVED assignment; b = 1..64 are permutations
        val fan = perUser
          .select($"user_id", $"m",
            explode(array((0 to 64).map(lit): _*)).as("b"))
          .withColumn("arm",
            (conv(substring(md5(concat($"user_id".cast("string"),
              when($"b" === 0, lit(""))
                .otherwise(concat(lit(":"), $"b".cast("string"))))),
              1, 6), 16, 10).cast("long") % 2).cast("int"))
        val byArm = fan.groupBy($"b", $"arm")
          .agg(count(lit(1)).as("n"), sum($"m").cast("long").as("sm"))
        val diffs = byArm.groupBy($"b").agg(
          (sum(when($"arm" === 1, $"sm").otherwise(0L)).cast("double") /
            sum(when($"arm" === 1, $"n").otherwise(0L)) -
           sum(when($"arm" === 0, $"sm").otherwise(0L)).cast("double") /
            sum(when($"arm" === 0, $"n").otherwise(0L))).as("diff"))
        val obs = diffs.filter($"b" === 0)
          .select($"diff".as("obs_diff")).localCheckpoint()
        diffs.filter($"b" > 0).crossJoin(broadcast(obs))
          .agg(count(lit(1)).as("n_perms"),
            sum(when(abs($"diff") >= abs($"obs_diff"), 1L).otherwise(0L))
              .cast("long").as("n_extreme"),
            round(first($"obs_diff"), 9).as("obs_diff"))
          .select($"n_perms", $"n_extreme", $"obs_diff",
            round(($"n_extreme" + 1).cast("double") / ($"n_perms" + 1), 6)
              .as("p_value"))
      },
      Some(s"""WITH pu AS (
              |  SELECT user_id, COUNT(*) AS m FROM events
              |  WHERE event_type = 'purchase'
              |    AND ts < TIMESTAMP '2024-01-16'
              |  GROUP BY user_id),
              |fan AS (
              |  SELECT user_id, m, unnest(range(65)) AS b FROM pu),
              |arms AS (
              |  SELECT b, m,
              |    ${sqlHexInt("md5(CAST(user_id AS VARCHAR) || " +
                   "CASE WHEN b = 0 THEN '' ELSE ':' || CAST(b AS VARCHAR) " +
                   "END)", 1, 6)} % 2 AS arm
              |  FROM fan),
              |byarm AS (
              |  SELECT b, arm, COUNT(*) AS n, CAST(SUM(m) AS BIGINT) AS sm
              |  FROM arms GROUP BY 1, 2),
              |diffs AS (
              |  SELECT b,
              |    CAST(SUM(CASE WHEN arm = 1 THEN sm ELSE 0 END) AS DOUBLE) /
              |      SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) -
              |    CAST(SUM(CASE WHEN arm = 0 THEN sm ELSE 0 END) AS DOUBLE) /
              |      SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS diff
              |  FROM byarm GROUP BY b),
              |obs AS (SELECT diff AS obs_diff FROM diffs WHERE b = 0)
              |SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
              |  CAST(SUM(CASE WHEN abs(diff) >= abs(obs_diff) THEN 1 ELSE 0
              |    END) AS BIGINT) AS n_extreme,
              |  round(ANY_VALUE(obs_diff), 9) AS obs_diff,
              |  round(CAST(SUM(CASE WHEN abs(diff) >= abs(obs_diff) THEN 1
              |    ELSE 0 END) + 1 AS DOUBLE) / (COUNT(*) + 1), 6) AS p_value
              |FROM diffs, obs WHERE b > 0""".stripMargin)),

    // Seasonal-naive forecast backtest with MASE (the scale-free forecast
    // accuracy metric that makes models comparable across series): train on
    // the first 23 days, forecast the last 7 as y[d-7], score MASE =
    // MAE(forecast) / MAE(in-train one-step naive). Numerators accumulate as
    // exact integers (daily counts), one double division at the readout —
    // engine-identical. The whole query runs on the |days| grain frame;
    // the only corpus-sized stage is the daily rollup.
    Q("events_forecast_mase",
      (s, dir) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val split = lit("2024-01-24").cast("date")
        val fc = daily.filter($"day" >= split).as("t")
          .join(daily.as("p"), $"p.day" === date_sub($"t.day", 7))
          .select(abs($"t.c" - $"p.c").as("ae"))
          .agg(count(lit(1)).as("n_test"),
            sum($"ae").cast("long").as("sum_ae"))
        val naive = daily.filter($"day" < split).as("t")
          .join(daily.as("p"), $"p.day" === date_sub($"t.day", 1))
          .filter($"p.day" < split)
          .select(abs($"t.c" - $"p.c").as("ae"))
          .agg(count(lit(1)).as("n_naive"),
            sum($"ae").cast("long").as("sum_naive"))
        fc.crossJoin(broadcast(naive))
          .select($"n_test", $"sum_ae", $"n_naive", $"sum_naive",
            round(($"sum_ae".cast("double") / $"n_test") /
              ($"sum_naive".cast("double") / $"n_naive"), 9).as("mase"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |  FROM events GROUP BY 1),
             |fc AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             |    CAST(SUM(abs(t.c - p.c)) AS BIGINT) AS sum_ae
             |  FROM daily t JOIN daily p ON p.day = t.day - 7
             |  WHERE t.day >= DATE '2024-01-24'),
             |nv AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_naive,
             |    CAST(SUM(abs(t.c - p.c)) AS BIGINT) AS sum_naive
             |  FROM daily t JOIN daily p ON p.day = t.day - 1
             |  WHERE t.day < DATE '2024-01-24' AND p.day < DATE '2024-01-24')
             |SELECT n_test, sum_ae, n_naive, sum_naive,
             |  round((CAST(sum_ae AS DOUBLE) / n_test) /
             |        (CAST(sum_naive AS DOUBLE) / n_naive), 9) AS mase
             |FROM fc, nv""".stripMargin)),

    // Per-document character-level Shannon entropy — the gibberish /
    // encoding-health screen next to text_utf8_density (random byte soup and
    // base64 blobs sit near log2-alphabet; templated boilerplate sits low).
    // Char histogram by explode, each −p·ln p term through DECIMAL before the
    // per-doc sum (the events_entropy_diversity discipline: unordered double
    // sums are partitioning-dependent; decimal sums are exact). Pure
    // scan-shape: rows = total corpus characters, one doc-keyed shuffle.
    Q("text_char_entropy",
      (s, dir) => {
        import s.implicits._
        val chars = t(s, dir, "documents")
          .select($"doc_id", explode(split($"text", "")).as("ch"))
          .filter(length($"ch") === 1)
        val cnt = chars.groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
        val tot = cnt.groupBy($"doc_id").agg(sum($"c").as("n"))
        val p = $"c".cast("double") / $"n"
        cnt.join(tot, Seq("doc_id"))
          .select($"doc_id", $"n",
            (-(p * log(p))).cast("decimal(30,12)").as("e"))
          .groupBy($"doc_id")
          .agg(max($"n").cast("long").as("n_chars"),
            count(lit(1)).cast("long").as("n_distinct_chars"),
            round(sum($"e").cast("double"), 9).as("entropy"))
          .orderBy($"doc_id")
      },
      Some("""WITH chars AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(text)),
             |      i -> substring(text, CAST(i AS INTEGER), 1))) AS ch
             |  FROM documents),
             |cnt AS (
             |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
             |tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
             |        FROM cnt GROUP BY 1),
             |e AS (
             |  SELECT cnt.doc_id, n,
             |    CAST(-((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
             |      AS DECIMAL(30,12)) AS e
             |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id)
             |SELECT doc_id, MAX(n) AS n_chars,
             |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
             |  round(CAST(SUM(e) AS DOUBLE), 9) AS entropy
             |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Katz centrality (attenuated path counting: c = α·Mᵀc + 1, unlike
    // PageRank no rank conservation — prestige accumulates along ALL walks,
    // weighted α^length): 6 synchronous iterations over the row-normalized
    // trade matrix, α = 0.5. Same Pregel-by-joins shape and decimal-exact
    // inflow sums as graph_pagerank / personalized variant; converges since
    // α < 1 and M is substochastic. Unrolled-CTE oracle.
    Q("graph_katz_centrality",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .agg(count(lit(1)).as("w"))
        val ow = e.groupBy($"src".as("osrc")).agg(sum($"w").as("ow"))
        val ew = e.join(ow, $"src" === $"osrc")
          .select($"src", $"dst", ($"w" / $"ow").as("frac"))
        // Round 15: 6 rounds folded into one single-row expression
        // (graft.ops.PowerFold, see graph_pagerank) — bit-identical decimal
        // gather, corpus-scale edge rollup unchanged.
        val row = graft.ops.PowerFold.edgeRow(ew)
        row.select(explode(zip_with($"nodes",
            graft.ops.PowerFold.ranks($"es", $"nodes",
              transform($"nodes", _ => lit(1.0d)),
              transform($"nodes", _ => lit(1.0d)), 0.5, 6),
            (n, r) => struct(n.as("node"), r.as("c")))).as("z"))
          .select($"z.node".as("node"), round($"z.c", 9).as("katz"))
          .orderBy($"node")
      },
      Some {
        val iter = (k: Int) =>
          s"""r$k AS (SELECT n.node,
             |  1.0 + 0.5 * COALESCE(i.inflow, 0.0) AS c
             |  FROM n LEFT JOIN (
             |    SELECT ew.dst,
             |      CAST(SUM(CAST(r.c * ew.frac AS DECIMAL(30,12))) AS DOUBLE)
             |        AS inflow
             |    FROM ew JOIN r${k - 1} r ON ew.src = r.node GROUP BY ew.dst) i
             |  ON n.node = i.dst)""".stripMargin
        s"""WITH e AS (
           |  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  GROUP BY 1, 2),
           |ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY 1),
           |ew AS (SELECT e.src, e.dst, e.w / ow.ow AS frac
           |       FROM e JOIN ow ON e.src = ow.src),
           |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS c FROM n),
           |${(1 to 6).map(iter).mkString(",\n")}
           |SELECT node, round(c, 9) AS katz FROM r6 ORDER BY node""".stripMargin
      }),

    // Radius (range) similarity search: every corpus vector within cosine
    // >= 0.35 of each probe — the fixed-threshold companion to top-k ANN
    // (dedup wants "all near-dups", not "the k nearest"). Probe set bounded
    // (vec_id < 10). Array-native spelling (round 15): the probes (with
    // their precomputed exact norms) collect into ONE bounded broadcast row;
    // per corpus vector the 10 dots and the threshold test run inside the
    // row via decimal-exact codegen'd folds (FloatVecDotExact — bit-identical
    // to the flattened SUM(CAST(q.v*c.v AS DECIMAL(30,12))) the old shape
    // computed), so the only exchange left is the final ORDER BY over the
    // filtered matches. The old shape posexploded the corpus, checkpointed
    // it, shuffled 10 candidate rows per (vector, dim) into a grouped dot,
    // and joined norms twice — 14 Exchanges, all corpus-scaled.
    Q("sim_range_search_radius",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Similarity.{dotExact, normExact}
        val vecs = t(s, dir, "embeddings").select($"vec_id", $"embedding")
        val probes = vecs.filter($"vec_id" < 10)
          .agg(collect_list(struct($"vec_id".as("probe_id"),
            $"embedding".as("pemb"), normExact($"embedding").as("n1"))).as("ps"))
        // The per-row decimal norm + 10 exact dots run on the spread
        // projection; the broadcast probe row is unchanged.
        spread(vecs, $"vec_id")
          .crossJoin(broadcast(probes))
          .select($"vec_id".as("cand_id"), normExact($"embedding").as("n2"),
            explode(filter($"ps", p => p("probe_id") =!= $"vec_id")).as("p"),
            $"embedding")
          .select($"p.probe_id".as("probe_id"), $"cand_id",
            (dotExact($"embedding", $"p.pemb") / ($"p.n1" * $"n2")).as("cosine"))
          .filter($"cosine" >= 0.35d)
          .select($"probe_id", $"cand_id", round($"cosine", 9).as("cosine"))
          .orderBy($"probe_id", $"cand_id")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE))
             |      AS nrm
             |  FROM flat GROUP BY 1),
             |dots AS (
             |  SELECT q.vec_id AS probe_id, c.vec_id AS cand_id,
             |    CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c
             |    ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 10 GROUP BY 1, 2),
             |cos AS (
             |  SELECT probe_id, cand_id, dot / (n1.nrm * n2.nrm) AS cosine
             |  FROM dots
             |  JOIN norms n1 ON n1.vec_id = probe_id
             |  JOIN norms n2 ON n2.vec_id = cand_id)
             |SELECT probe_id, cand_id, round(cosine, 9) AS cosine
             |FROM cos WHERE cosine >= 0.35
             |ORDER BY probe_id, cand_id""".stripMargin)),

    // 10% trimmed mean per group (the robust location estimate between mean
    // and median: drop the lowest and highest decile by rank, average the
    // middle 80%). Ranks are group-partitioned windows (fully parallel —
    // ranks never cross groups), the trim boundary is integer floor(n/10),
    // and the kept values sum in decimal. Complements feat_winsorize
    // (clamping) with dropping.
    Q("agg_trimmed_mean",
      (s, dir) => {
        import s.implicits._
        // Round 16 (guide §2.2): the per-flag rank window ran the WHOLE fact
        // through 3 reducers (the partition key has 3 values) — a guaranteed
        // straggler shape at 100 TB (census: 732 ms 3-task window stage after
        // a 393 ms scan). The trimmed mean only needs the VALUE HISTOGRAM:
        // the dropped rows are the k lowest/highest in (quantity, orderkey,
        // linenumber) order and ties share the same quantity value, so the
        // kept-row SUM and COUNT are exact functions of (flag, quantity,
        // cnt) — ≤ ~50 distinct quantities per flag. One fact-wide groupBy
        // replaces the window; per-value keep-count =
        //   max(0, min(cum_incl, n-k) - max(cum_before, k)), k = floor(n/10).
        // Decimal exactness: kept_cnt × quantity::decimal is exact at these
        // magnitudes (precision 31 ≤ 38, scale preserved) and sums
        // associatively — the same rational as the old dsum over kept rows,
        // so the final double division and round match bit-for-bit (oracle
        // hash confirms at both SFs).
        val W = org.apache.spark.sql.expressions.Window
        val wv = W.partitionBy($"l_returnflag").orderBy($"l_quantity")
        val wf = W.partitionBy($"l_returnflag")
        val cum = t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_quantity")
          .groupBy($"l_returnflag", $"l_quantity")
          .agg(count(lit(1)).as("c"))
          .withColumn("cum_before", coalesce(sum($"c").over(
            wv.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum($"c").over(wf))
        val k = floor($"n" / 10)
        val keptC = greatest(lit(0L),
          least($"cum_before" + $"c", $"n" - k) - greatest($"cum_before", k))
        cum.select($"l_returnflag", keptC.as("kc"),
            ($"l_quantity".cast("decimal(20,4)") *
              keptC.cast("decimal(10,0)")).as("ksum"))
          .groupBy($"l_returnflag")
          .agg(sum($"kc").as("n_kept"),
            round(sum($"ksum").cast("double") / sum($"kc"), 9)
              .as("trimmed_mean"))
          .orderBy($"l_returnflag")
      },
      Some(s"""WITH r AS (
              |  SELECT l_returnflag, l_quantity,
              |    row_number() OVER (PARTITION BY l_returnflag
              |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
              |    count(*) OVER (PARTITION BY l_returnflag) AS n
              |  FROM lineitem)
              |SELECT l_returnflag, count(*) AS n_kept,
              |  round(${sqlDsum("l_quantity")} / count(*), 9) AS trimmed_mean
              |FROM r
              |WHERE rn > floor(n / 10) AND rn <= n - floor(n / 10)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // b-bit minhash operating-curve audit (Li & König 2010, public): keep
    // only the LOW BIT of each of 16 minhashes (signatures shrink 64x
    // vs 64-bit values; Jaccard recovers from the bit-match fraction m as
    // 2m-1), then report the screen's precision per match threshold against
    // exact shingle Jaccard computed ONLY for screened candidates — the
    // production order (cheap filter, exact confirm) AND the honest readout:
    // on this 31-token corpus the bit votes are heavily correlated, so only
    // the all-16-match bucket isolates the true near-dups; the curve shows
    // exactly that (the classic small-b/small-vocabulary failure mode the
    // audit exists to expose). Bounded probe set (doc_id < 300); pairs come
    // from one fold over the collected 300-row signature array.
    Q("dedup_minhash_bbit",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Dedup
        val docs = t(s, dir, "documents").filter($"doc_id" < 300)
        // NOTE r15: the persist-sizing repartition was tried here and
        // REVERTED — the round-gate bench flagged it (floor 1.33 s -> 2.51 s
        // host-normalized): with a 32-partition cache the 16-key salt join
        // downstream plans 32-task stages whose per-task constant dwarfs the
        // 300-doc payload; the 1-partition cache is the cheaper shape for
        // this bounded subset.
        val sets = Dedup.shingleSets(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // Round 16 (guide §2.4; the r15 "needs an equivalence proof" item):
        // the old candidate pass exploded to (doc, salt, bit) and SELF-JOINED
        // on the 16-value salt key — ≤16 effective tasks, 16·C(300,2) ≈ 717k
        // pair-salt rows shuffled into a groupBy, ~30 scheduler-bound stages
        // (census). The probe set is bounded (doc_id < 300), so the 16 bits
        // pack into ONE int signature per doc and the WHOLE pair screen runs
        // as a nested HOF over one collected 300-row array. Equivalence
        // proof: bit_i = mh_i % 2 exactly as before; for a pair (a, b),
        // n_match = Σ_salt [bit_a = bit_b] = 16 − popcount(sig_a XOR sig_b)
        // (each differing bit contributes 1 to the XOR popcount); the join
        // produced every a.doc_id < b.doc_id pair (both sides carry all 16
        // salts for every doc — posexplode of a 16-array), and the fold
        // enumerates the same id1 < id2 pair set; the ≥12 filter and the
        // BIGINT n_match type are unchanged. The 16 minima come from ONE
        // 16-wide band of the signature generator: its `sig` is mh0|…|mh15.
        val packed = sets
          .select($"doc_id", graft.functions.MinHashBands($"shingles", 16, 16))
          .select($"doc_id", split($"sig", "\\|").as("mh"))
          .select($"doc_id", (0 until 16).map(i =>
            ($"mh".getItem(i).cast("long") % 2).cast("int") * lit(1 << i))
            .reduce(_ + _).as("sig"))
        val cand = packed
          .agg(collect_list(struct($"doc_id", $"sig")).as("ds"))
          .select(explode(expr(
            """flatten(transform(ds, a ->
              |  transform(filter(ds, b -> b.doc_id > a.doc_id AND
              |      (16 - bit_count(a.sig ^ b.sig)) >= 12),
              |    b -> struct(a.doc_id AS id1, b.doc_id AS id2,
              |      CAST(16 - bit_count(a.sig ^ b.sig) AS BIGINT)
              |        AS n_match))))""".stripMargin)).as("c"))
          .select($"c.id1".as("id1"), $"c.id2".as("id2"),
            $"c.n_match".as("n_match"))
        val scored = Dedup.pairJaccard(cand, sets, "doc_id")
          .select($"n_match", $"jaccard")
          .localCheckpoint(true)
        sets.unpersist()
        scored
          .select(explode(array((12 to 16).map(lit): _*)).as("threshold"),
            $"n_match", $"jaccard")
          .filter($"n_match" >= $"threshold")
          .groupBy($"threshold")
          .agg(count(lit(1)).as("n_candidates"),
            sum(when($"jaccard" >= 0.5d, 1L).otherwise(0L)).as("n_true"),
            round(sum(when($"jaccard" >= 0.5d, 1L).otherwise(0L))
              .cast("double") / count(lit(1)), 6).as("screen_precision"),
            round(lit(2.0d) * $"threshold" / 16.0d - 1.0d, 6)
              .as("jacc_implied"))
          .orderBy($"threshold")
      },
      Some(s"""WITH ${Llm.duckShingleBase.replace("FROM documents",
                 "FROM documents WHERE doc_id < 300")},
              |hs AS (
              |  SELECT doc_id,
              |    ${sqlHexInt("md5(shingle)", 1, 7)} AS h1,
              |    ${sqlHexInt("md5(shingle)", 8, 7)} AS h2
              |  FROM shing),
              |mh AS (
              |  SELECT doc_id, salt, min(h1 + salt * h2) % 2 AS bit
              |  FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS salt)
              |  GROUP BY doc_id, salt),
              |cand AS (
              |  SELECT a.doc_id AS id1, b.doc_id AS id2,
              |    CAST(SUM(CASE WHEN a.bit = b.bit THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_match
              |  FROM mh a JOIN mh b
              |    ON a.salt = b.salt AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2 HAVING n_match >= 12),
              |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shing GROUP BY doc_id),
              |inter AS (
              |  SELECT c.id1, c.id2, COUNT(*) AS n_shared
              |  FROM cand c
              |  JOIN shing s1 ON s1.doc_id = c.id1
              |  JOIN shing s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
              |  GROUP BY c.id1, c.id2),
              |scored AS (
              |  SELECT c.n_match,
              |    COALESCE(i.n_shared, 0) * 1.0 /
              |      (z1.sz + z2.sz - COALESCE(i.n_shared, 0)) AS jaccard
              |  FROM cand c
              |  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
              |  JOIN sz z1 ON z1.doc_id = c.id1
              |  JOIN sz z2 ON z2.doc_id = c.id2),
              |fan AS (
              |  SELECT CAST(unnest(range(12, 17)) AS INTEGER) AS threshold,
              |    s.n_match, s.jaccard
              |  FROM scored s)
              |SELECT threshold, COUNT(*) AS n_candidates,
              |  CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_true,
              |  round(CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
              |    AS DOUBLE) / COUNT(*), 6) AS screen_precision,
              |  round(2.0 * threshold / 16.0 - 1.0, 6) AS jacc_implied
              |FROM fan WHERE n_match >= threshold
              |GROUP BY threshold ORDER BY threshold""".stripMargin)),

    // Brown-Forsythe test (the robust Levene variant: one-way ANOVA on
    // absolute deviations from the GROUP MEDIAN — the variance-homogeneity
    // check that gates pooled-variance methods): group medians are positional
    // picks from group-partitioned ranks (fully parallel, integer-exact on
    // the integer-quantity column), deviations are exact integers, and both
    // ANOVA sums of squares accumulate in decimal before the single F
    // division (round 9). Output: k, N, df, F — plus the per-group mean
    // deviations so the readout is falsifiable beyond one statistic.
    Q("stats_brown_forsythe",
      (s, dir) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        // Round 15: the group median came from a row_number window that
        // sorted every row inside |groups| = 3 partitions (the 0.9 s
        // dominant stage). l_quantity is a small integer domain, so the
        // value at rank ⌊(n+1)/2⌋ in x-order is identical read off the
        // (g, x) histogram's cumulative counts (the rank's orderkey
        // tie-break never changes the x VALUE at that rank). BOTH passes
        // (histogram + |x − med| moments) read the spread (g, x) projection.
        val x = spread(t(s, dir, "lineitem")
          .select($"l_returnflag".as("g"), $"l_quantity".cast("long").as("x")),
          $"g", $"x")
        val hist = x.groupBy($"g", $"x").agg(count(lit(1)).as("c"))
        val med = hist
          .withColumn("cum", sum($"c").over(W.partitionBy($"g").orderBy($"x")
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
          .withColumn("n", sum($"c").over(W.partitionBy($"g")))
          .filter($"cum" - $"c" < floor(($"n" + 1) / 2) &&
            floor(($"n" + 1) / 2) <= $"cum")
          .select($"g", $"x".as("med"))
        val z = x.join(broadcast(med), Seq("g"))
          .select($"g", abs($"x" - $"med").as("z"))
        val pg = z.groupBy($"g")
          .agg(count(lit(1)).as("ng"),
            sum($"z".cast("decimal(38,0)")).as("sz"),
            sum(($"z" * $"z").cast("decimal(38,0)")).as("szz"))
          .localCheckpoint()
        val tot = pg.agg(
          count(lit(1)).cast("long").as("k"),
          sum($"ng").cast("long").as("nn"),
          sum($"sz").cast("double").as("tsz"))
        val withTot = pg.crossJoin(broadcast(tot))
          .withColumn("meang", $"sz".cast("double") / $"ng")
          .withColumn("mean", $"tsz" / $"nn")
        val parts = withTot.agg(
          max($"k").as("k"), max($"nn").as("n"),
          sum(($"ng" * ($"meang" - $"mean") * ($"meang" - $"mean"))
            .cast("decimal(30,12)")).cast("double").as("ssb"),
          sum(($"szz".cast("double") - $"ng" * $"meang" * $"meang")
            .cast("decimal(30,12)")).cast("double").as("ssw"))
        parts.select($"k", $"n",
          round(($"ssb" / ($"k" - 1)) / ($"ssw" / ($"n" - $"k")), 9).as("f"))
      },
      Some("""WITH x AS (
             |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
             |    l_orderkey, l_linenumber
             |  FROM lineitem),
             |r AS (SELECT g, x,
             |    row_number() OVER (PARTITION BY g
             |      ORDER BY x, l_orderkey, l_linenumber) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n
             |  FROM x),
             |med AS (SELECT g, x AS med FROM r WHERE rn = floor((n + 1) / 2)),
             |z AS (SELECT x.g, abs(x.x - med.med) AS z
             |      FROM x JOIN med ON x.g = med.g),
             |pg AS (SELECT g, COUNT(*) AS ng,
             |    SUM(CAST(z AS DECIMAL(38,0))) AS sz,
             |    SUM(CAST(z * z AS DECIMAL(38,0))) AS szz
             |  FROM z GROUP BY g),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(ng) AS BIGINT) AS nn,
             |    CAST(SUM(sz) AS DOUBLE) AS tsz FROM pg),
             |wt AS (SELECT pg.*, tot.k, tot.nn,
             |    CAST(sz AS DOUBLE) / ng AS meang, tsz / nn AS mean
             |  FROM pg CROSS JOIN tot),
             |parts AS (SELECT MAX(k) AS k, MAX(nn) AS n,
             |    CAST(SUM(CAST(ng * (meang - mean) * (meang - mean)
             |      AS DECIMAL(30,12))) AS DOUBLE) AS ssb,
             |    CAST(SUM(CAST(CAST(szz AS DOUBLE) - ng * meang * meang
             |      AS DECIMAL(30,12))) AS DOUBLE) AS ssw
             |  FROM wt)
             |SELECT k, n,
             |  round((ssb / (k - 1)) / (ssw / (n - k)), 9) AS f
             |FROM parts""".stripMargin)),

    // Additive weekly decomposition of the daily event-count series (the
    // classical-decomposition core of STL: trend = centered 7-day moving
    // average, seasonal = day-of-week means of the detrended series
    // re-centered to sum zero, remainder = y - trend - seasonal). Everything
    // runs on the |days| grain frame; the moving-average sum is an exact
    // integer, seasonal means go through decimal, and day-of-week is epoch
    // arithmetic (engine-neutral, no locale). The calendar-grain global
    // window is on the 1partWin allowlist.
    Q("events_stl_weekly",
      (s, dir) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
        val daily = t(s, dir, "events")
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("c")).localCheckpoint()
        val wma = W.orderBy($"day").rowsBetween(-3, 3)
        val tr = daily
          .withColumn("nw", count(lit(1)).over(wma))
          .withColumn("trend", sum($"c").over(wma).cast("double") / 7.0d)
          .filter($"nw" === 7)
          .withColumn("dow",
            pmod(datediff($"day", lit("2024-01-01").cast("date")), lit(7)))
          .withColumn("d", $"c".cast("double") - $"trend")
        val seas = tr.groupBy($"dow")
          .agg((sum($"d".cast("decimal(30,12)")).cast("double") /
            count(lit(1))).as("s_raw"))
          .withColumn("s_mean",
            (sum($"s_raw".cast("decimal(30,12)")).over(W.partitionBy())
              .cast("double")) / 7.0d)
          .select($"dow", ($"s_raw" - $"s_mean").as("seasonal"))
        tr.join(seas, Seq("dow"))
          .select($"day", $"c",
            round($"trend", 9).as("trend"),
            round($"seasonal", 9).as("seasonal"),
            round($"d" - $"seasonal", 9).as("remainder"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
             |  FROM events GROUP BY 1),
             |tr AS (
             |  SELECT day, c,
             |    count(*) OVER w AS nw,
             |    CAST(SUM(c) OVER w AS DOUBLE) / 7.0 AS trend,
             |    (day - DATE '2024-01-01') % 7 AS dow
             |  FROM daily
             |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
             |               AND 3 FOLLOWING)),
             |tf AS (SELECT day, c, trend, dow,
             |    CAST(c AS DOUBLE) - trend AS d
             |  FROM tr WHERE nw = 7),
             |seas0 AS (
             |  SELECT dow,
             |    CAST(SUM(CAST(d AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*)
             |      AS s_raw
             |  FROM tf GROUP BY dow),
             |seas AS (
             |  SELECT dow, s_raw -
             |    CAST(SUM(CAST(s_raw AS DECIMAL(30,12))) OVER () AS DOUBLE)
             |      / 7.0 AS seasonal
             |  FROM seas0)
             |SELECT tf.day, tf.c,
             |  round(tf.trend, 9) AS trend,
             |  round(seas.seasonal, 9) AS seasonal,
             |  round(tf.d - seas.seasonal, 9) AS remainder
             |FROM tf JOIN seas ON tf.dow = seas.dow
             |ORDER BY tf.day""".stripMargin)),

    // Jensen-Shannon divergence drift (the bounded, symmetric member of the
    // drift family beside PSI/KS/TV/CUSUM): per-bin 0.5·p·ln(p/m) +
    // 0.5·q·ln(q/m) against the mixture m = (p+q)/2. Unlike PSI, JSD is
    // DEFINED for one-sided bins (a p=0 term contributes 0; ln(q/m) stays
    // finite since m >= q/2), so no drop-and-renormalize step — the whole
    // histogram participates. Same single-scan shape as dq_psi_drift: one
    // binned rollup, totals via the sanctioned single-row broadcast cross.
    Q("dq_jsd_drift",
      (s, dir) => {
        import s.implicits._
        val binned = graft.Tables.events(s, dir)
          .select(floor($"value" / 2.0d).cast("long").as("bin"),
            ($"ts" >= "2024-01-16").as("cur"))
          .groupBy($"bin")
          .agg(sum(when(!$"cur", 1L).otherwise(0L)).as("n_ref"),
            sum(when($"cur", 1L).otherwise(0L)).as("n_cur"))
        val tot = binned.agg(sum($"n_ref").as("tr"), sum($"n_cur").as("tc"))
        binned.crossJoin(broadcast(tot))
          .select($"bin", $"n_ref", $"n_cur",
            ($"n_ref".cast("double") / $"tr".cast("double")).as("p"),
            ($"n_cur".cast("double") / $"tc".cast("double")).as("q"))
          .withColumn("m", ($"p" + $"q") / 2.0d)
          .select($"bin", $"n_ref", $"n_cur",
            round($"p", 9).as("p_ref"), round($"q", 9).as("p_cur"),
            round(
              coalesce(when($"p" > 0d, $"p" * log($"p" / $"m") / 2.0d),
                lit(0.0d)) +
              coalesce(when($"q" > 0d, $"q" * log($"q" / $"m") / 2.0d),
                lit(0.0d)), 9).as("jsd_contrib"))
          .orderBy($"bin")
      },
      Some("""WITH b AS (
             |  SELECT CAST(floor(value / 2.0) AS BIGINT) AS bin,
             |    ts >= TIMESTAMP '2024-01-16' AS cur
             |  FROM events),
             |c AS (SELECT bin,
             |        CAST(SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_ref,
             |        CAST(SUM(CASE WHEN cur THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_cur
             |      FROM b GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_ref) AS DOUBLE) AS tr,
             |        CAST(SUM(n_cur) AS DOUBLE) AS tc FROM c),
             |pq AS (SELECT bin, n_ref, n_cur,
             |    CAST(n_ref AS DOUBLE) / t.tr AS p,
             |    CAST(n_cur AS DOUBLE) / t.tc AS q,
             |    (CAST(n_ref AS DOUBLE) / t.tr
             |      + CAST(n_cur AS DOUBLE) / t.tc) / 2.0 AS m
             |  FROM c, t)
             |SELECT bin, n_ref, n_cur,
             |  round(p, 9) AS p_ref, round(q, 9) AS p_cur,
             |  round(COALESCE(CASE WHEN p > 0 THEN p * ln(p / m) / 2.0 END, 0)
             |    + COALESCE(CASE WHEN q > 0 THEN q * ln(q / m) / 2.0 END, 0),
             |    9) AS jsd_contrib
             |FROM pq ORDER BY bin""".stripMargin)),

    // Cohen's d / Hedges' g standardized effect size (the magnitude readout
    // that belongs next to every significance test — a tiny p with a tiny d
    // is noise you can afford to ignore): urgent vs low-priority order
    // values, exact decimal moments (inputs cast to DECIMAL before squaring
    // — the agg_stats_exact discipline, since 1e5-magnitude squares land
    // off the double->decimal rounding grid), pooled SD, and the
    // small-sample Hedges correction 1 - 3/(4N-9). One grouped scan, a
    // 2-row rollup, scalar math.
    Q("stats_cohens_d",
      (s, dir) => {
        import s.implicits._
        val x = t(s, dir, "orders")
          .filter($"o_orderpriority".isin("1-URGENT", "5-LOW"))
          .select(when($"o_orderpriority" === "1-URGENT", 1)
              .otherwise(2).as("g"),
            $"o_totalprice".cast("decimal(18,2)").as("x"))
        val pg = x.groupBy($"g")
          .agg(count(lit(1)).as("n"),
            sum($"x").cast("decimal(38,4)").as("sx"),
            sum($"x" * $"x").cast("decimal(38,4)").as("sxx"))
          .withColumn("mean", $"sx".cast("double") / $"n")
          .withColumn("ss",
            $"sxx".cast("double") - $"n" * $"mean" * $"mean")
        val w = pg.agg(
          sum(when($"g" === 1, $"n").otherwise(0L)).cast("long").as("n1"),
          sum(when($"g" === 2, $"n").otherwise(0L)).cast("long").as("n2"),
          sum(when($"g" === 1, $"mean").otherwise(0d)).as("m1"),
          sum(when($"g" === 2, $"mean").otherwise(0d)).as("m2"),
          sum(when($"g" === 1, $"ss").otherwise(0d)).as("ss1"),
          sum(when($"g" === 2, $"ss").otherwise(0d)).as("ss2"))
        val sp = sqrt(($"ss1" + $"ss2") / ($"n1" + $"n2" - 2))
        val d = ($"m1" - $"m2") / sp
        w.select($"n1", $"n2", round(d, 9).as("cohens_d"),
          round(d * (lit(1.0d) -
            lit(3.0d) / (lit(4.0d) * ($"n1" + $"n2") - 9)), 9)
            .as("hedges_g"))
      },
      Some("""WITH x AS (
             |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 2 END
             |      AS g,
             |    CAST(o_totalprice AS DECIMAL(18,2)) AS x
             |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
             |pg AS (SELECT g, COUNT(*) AS n,
             |    CAST(SUM(x) AS DECIMAL(38,4)) AS sx,
             |    CAST(SUM(x * x) AS DECIMAL(38,4)) AS sxx
             |  FROM x GROUP BY g),
             |m AS (SELECT g, n, CAST(sx AS DOUBLE) / n AS mean,
             |    CAST(sxx AS DOUBLE)
             |      - n * (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n)
             |      AS ss
             |  FROM pg),
             |w AS (SELECT
             |    CAST(SUM(CASE WHEN g = 1 THEN n ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(SUM(CASE WHEN g = 2 THEN n ELSE 0 END) AS BIGINT) AS n2,
             |    SUM(CASE WHEN g = 1 THEN mean ELSE 0 END) AS m1,
             |    SUM(CASE WHEN g = 2 THEN mean ELSE 0 END) AS m2,
             |    SUM(CASE WHEN g = 1 THEN ss ELSE 0 END) AS ss1,
             |    SUM(CASE WHEN g = 2 THEN ss ELSE 0 END) AS ss2
             |  FROM m)
             |SELECT n1, n2,
             |  round((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2)), 9)
             |    AS cohens_d,
             |  round((m1 - m2) / sqrt((ss1 + ss2) / (n1 + n2 - 2))
             |    * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9)), 9) AS hedges_g
             |FROM w""".stripMargin)),

    // View-to-purchase conversion-lag histogram (the latency distribution
    // behind funnel timing: how long after first exposure does conversion
    // land?): per user, first view and the first purchase AFTER it pair in
    // one grouped pass (conditional min-aggregates — no self-join); the lag
    // in seconds buckets by binary order of magnitude via length(bin(x)) —
    // pure integer arithmetic, no float log2 boundary. Ordered by bucket.
    Q("events_conversion_lag",
      (s, dir) => {
        import s.implicits._
        val firstView = graft.Tables.events(s, dir)
          .filter($"event_type" === "view")
          .groupBy($"user_id").agg(min($"ts").as("v_ts"))
        val lag = graft.Tables.events(s, dir)
          .filter($"event_type" === "purchase")
          .join(firstView, Seq("user_id"))
          .filter($"ts" >= $"v_ts")
          .groupBy($"user_id", $"v_ts").agg(min($"ts").as("p_ts"))
          .select($"user_id",
            (unix_timestamp($"p_ts") - unix_timestamp($"v_ts"))
              .as("lag_sec"))
          .filter($"lag_sec" > 0)
        lag.select($"user_id", $"lag_sec",
            length(bin($"lag_sec")).as("bucket"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_users"),
            min($"lag_sec").as("min_sec"), max($"lag_sec").as("max_sec"))
          .orderBy($"bucket")
      },
      Some("""WITH fv AS (
             |  SELECT user_id, MIN(ts) AS v_ts FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |lag AS (
             |  -- truncate each side to whole seconds BEFORE differencing:
             |  -- Spark's unix_timestamp floors per-timestamp, and flooring
             |  -- the difference of fractional epochs is NOT the same number
             |  SELECT e.user_id,
             |    CAST(epoch(date_trunc('second', MIN(e.ts)))
             |      - epoch(date_trunc('second', fv.v_ts)) AS BIGINT)
             |      AS lag_sec
             |  FROM events e JOIN fv ON e.user_id = fv.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts >= fv.v_ts
             |  GROUP BY e.user_id, fv.v_ts),
             |lb AS (SELECT user_id, lag_sec,
             |    CAST(length(bin(lag_sec)) AS INTEGER) AS bucket
             |  FROM lag WHERE lag_sec > 0)
             |SELECT bucket, COUNT(*) AS n_users,
             |  MIN(lag_sec) AS min_sec, MAX(lag_sec) AS max_sec
             |FROM lb GROUP BY bucket ORDER BY bucket""".stripMargin))
  )
}
