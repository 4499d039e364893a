package graft.queries

import org.apache.spark.sql.functions._
import QueryDSL._

/** Round-10 wave five: integral-image audit, MMR diversified rerank, blocked
  * rank test, storage-encoding audit — same contract as every family
  * (scale-shaped plans, decimal-exact cross-partition reductions, total
  * ORDER BY, DuckDB oracle per query). */
object Analytics6 {

  val queries: Seq[Q] = Seq(

    // Integral image (summed-area table) through the real BMP decode: the
    // O(1)-region-sum structure behind box filters / Haar features. The
    // kernel builds the SAT with the standard recurrence and the output
    // hashes three integer witnesses — total-mass corner, center probe, and
    // an interior rectangle evaluated VIA the four-corner identity
    // A−B−C+D — so a prefix-sum or identity bug flips the hash even when
    // raw totals are right. The oracle recomputes each witness as a direct
    // range sum over the closed-form pixel formula (it never builds a SAT —
    // the identity is what's under test).
    Q("multimodal_image_integral",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.integralStats(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some {
        val gray =
          """((doc_id*31 + x*7 + y*13) % 256
            | + (doc_id*31 + x*7 + y*13 + 101) % 256
            | + (doc_id*31 + x*7 + y*13 + 202) % 256)""".stripMargin
            .replaceAll("\\s+", " ")
        s"""WITH dims AS (
           |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
           |  FROM documents WHERE doc_id < 60),
           |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
           |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
           |px AS (SELECT doc_id, w, h, x, y, ($gray) AS g FROM xy)
           |SELECT doc_id, ANY_VALUE(w * h) AS n_pix,
           |  CAST(SUM(g) AS BIGINT) AS total,
           |  CAST(SUM(CASE WHEN x <= w // 2 AND y <= h // 2
           |    THEN g ELSE 0 END) AS BIGINT) AS center,
           |  CAST(SUM(CASE WHEN x BETWEEN 2 AND w - 3
           |    AND y BETWEEN 2 AND h - 3 THEN g ELSE 0 END) AS BIGINT)
           |    AS interior
           |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Maximal-marginal-relevance rerank: for each probe, take the top-10
    // exact-cosine candidates, then select 5 iteratively maximizing
    // λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s) with λ=0.7 — the classic
    // diversity/relevance tradeoff every retrieval pipeline bolts onto its
    // ANN top-k. rel and the candidate-candidate sims are decimal-exact
    // cosines rounded at 9 BEFORE scoring, so the selection argmax compares
    // identical doubles on both engines (ties break by vid). All pair
    // frames are probe-bounded (3×corpus rel pass, 10×10 sims per probe
    // via qid equi-join); the 5 selection rounds run over the checkpointed
    // ≤30-row candidate frame.
    Q("sim_mmr_rerank",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        import graft.llm.Similarity
        val e = t(s, dir, "embeddings")
        val probes = e.filter($"vec_id" < 3)
          .select($"vec_id".as("qid"), $"embedding".as("qvec"),
            Similarity.normExact($"embedding").as("qn"))
        val corpus = e.select($"vec_id".as("vid"), $"embedding".as("cvec"),
          Similarity.normExact($"embedding").as("cn"))
        val rel = corpus.join(broadcast(probes), $"vid" =!= $"qid")
          .select($"qid", $"vid", $"cvec", $"cn",
            round(Similarity.dotExact($"qvec", $"cvec") / ($"qn" * $"cn"), 9)
              .as("rel"))
        val cands = rel
          .withColumn("rr", row_number().over(
            Window.partitionBy($"qid").orderBy($"rel".desc, $"vid")))
          .filter($"rr" <= 10)
          .select($"qid", $"vid", $"cvec", $"cn", $"rel")
          .localCheckpoint()
        val sims = cands.select($"qid", $"vid".as("v1"),
            $"cvec".as("e1"), $"cn".as("n1"))
          .join(cands.select($"qid", $"vid".as("v2"),
            $"cvec".as("e2"), $"cn".as("n2")), Seq("qid"))
          .filter($"v1" =!= $"v2")
          .select($"qid", $"v1", $"v2",
            round(Similarity.dotExact($"e1", $"e2") / ($"n1" * $"n2"), 9)
              .as("sim"))
        // Greedy MMR selection as ONE aggregation pass (round 15): the
        // per-probe candidate set is bounded by construction (top-10 per
        // probe at ANY corpus size), so the 4 selection rounds operate on
        // ≤10-row frames — as distributed joins they cost 4 checkpoint
        // barriers + ~20 near-empty stages of pure scheduler constant. Fold
        // them into built-in higher-order functions over the per-qid
        // candidate/similarity arrays instead: same IEEE arithmetic
        // (0.7·rel − 0.3·max sim, on the same round(…,9) inputs), same
        // (score DESC, vid ASC) tie order via an exact SQL comparator
        // (array_sort comparator uses SQL comparisons, so ±0.0 ties break by
        // vid exactly like the window did) — the result is hash-identical,
        // verified against the DuckDB recursive oracle. No Scala closure:
        // everything stays a Catalyst expression.
        val mmrExpr =
          """aggregate(
            |  sequence(2, 5),
            |  array(element_at(array_sort(
            |    transform(cs, c -> named_struct(
            |      'rank', 1, 'vid', c.vid, 'score', 0.7D * c.rel)),
            |    (x, y) -> CASE WHEN x.score > y.score THEN -1
            |                   WHEN x.score < y.score THEN 1
            |                   WHEN x.vid < y.vid THEN -1
            |                   WHEN x.vid > y.vid THEN 1 ELSE 0 END), 1)),
            |  (acc, r) -> CASE
            |    WHEN size(filter(cs, c ->
            |           !exists(acc, a -> a.vid = c.vid))) = 0 THEN acc
            |    ELSE concat(acc, array(element_at(array_sort(
            |      transform(
            |        filter(cs, c -> !exists(acc, a -> a.vid = c.vid)),
            |        c -> named_struct(
            |          'rank', r, 'vid', c.vid,
            |          'score', 0.7D * c.rel - 0.3D * array_max(transform(
            |            filter(ss, s -> s.v1 = c.vid AND
            |              exists(acc, a2 -> a2.vid = s.v2)),
            |            s -> s.sim)))),
            |      (x, y) -> CASE WHEN x.score > y.score THEN -1
            |                     WHEN x.score < y.score THEN 1
            |                     WHEN x.vid < y.vid THEN -1
            |                     WHEN x.vid > y.vid THEN 1 ELSE 0 END), 1)))
            |    END)""".stripMargin
        val candArr = cands.groupBy($"qid")
          .agg(collect_list(struct($"vid", $"rel")).as("cs"))
        val simArr = sims.groupBy($"qid")
          .agg(collect_list(struct($"v1", $"v2", $"sim")).as("ss"))
        candArr.join(simArr, Seq("qid"), "left")
          .select($"qid", explode(expr(mmrExpr)).as("p"))
          .select($"qid", $"p.rank".as("rank"), $"p.vid".as("vid"),
            round($"p.score", 9).as("score"))
          .orderBy($"qid", $"rank")
      },
      Some {
        // Every CTE referenced more than once is MATERIALIZED: DuckDB otherwise
        // inlines each reference, so the plan grows with the product of the
        // reference counts over the rounds and runs out of memory.
        val rounds = (2 to 5).map { r =>
          s"""sc$r AS (
             |  SELECT c.qid, c.vid, c.rel,
             |    0.7 * c.rel - 0.3 * (
             |      SELECT MAX(s.sim) FROM sims s
             |      JOIN s${r - 1} ON s${r - 1}.qid = s.qid
             |                    AND s${r - 1}.vid = s.v2
             |      WHERE s.qid = c.qid AND s.v1 = c.vid) AS score
             |  FROM cands c
             |  WHERE NOT EXISTS (SELECT 1 FROM s${r - 1}
             |    WHERE s${r - 1}.qid = c.qid AND s${r - 1}.vid = c.vid)),
             |p$r AS (
             |  SELECT qid, vid, $r AS rank, score FROM (
             |    SELECT qid, vid, score, ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY score DESC, vid) AS rn
             |    FROM sc$r) WHERE rn = 1),
             |s$r AS${if (r < 5) " MATERIALIZED" else ""} (SELECT qid, vid, rank, score FROM s${r - 1}
             |        UNION ALL SELECT qid, vid, rank, score FROM p$r)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH flat AS MATERIALIZED (
           |  SELECT vec_id, unnest(embedding) AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |norms AS MATERIALIZED (
           |  SELECT vec_id,
           |    sqrt(CAST(SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
           |      AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
           |  FROM flat GROUP BY vec_id),
           |rel0 AS (
           |  SELECT q.vec_id AS qid, c.vec_id AS vid,
           |    round(CAST(SUM(CAST(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)
           |      AS DECIMAL(30,12))) AS DOUBLE) /
           |      (nq.nrm * nc.nrm), 9) AS rel
           |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
           |  JOIN norms nq ON nq.vec_id = q.vec_id
           |  JOIN norms nc ON nc.vec_id = c.vec_id
           |  WHERE q.vec_id < 3
           |  GROUP BY q.vec_id, c.vec_id, nq.nrm, nc.nrm),
           |cands AS MATERIALIZED (
           |  SELECT qid, vid, rel FROM (
           |    SELECT qid, vid, rel, ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY rel DESC, vid) AS rr
           |    FROM rel0) WHERE rr <= 10),
           |sims AS MATERIALIZED (
           |  SELECT c1.qid, c1.vid AS v1, c2.vid AS v2,
           |    round(CAST(SUM(CAST(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)
           |      AS DECIMAL(30,12))) AS DOUBLE) /
           |      (n1.nrm * n2.nrm), 9) AS sim
           |  FROM cands c1 JOIN cands c2
           |    ON c1.qid = c2.qid AND c1.vid <> c2.vid
           |  JOIN flat a ON a.vec_id = c1.vid
           |  JOIN flat b ON b.vec_id = c2.vid AND b.pos = a.pos
           |  JOIN norms n1 ON n1.vec_id = c1.vid
           |  JOIN norms n2 ON n2.vec_id = c2.vid
           |  GROUP BY c1.qid, c1.vid, c2.vid, n1.nrm, n2.nrm),
           |s1 AS MATERIALIZED (
           |  SELECT qid, vid, 1 AS rank, 0.7 * rel AS score FROM (
           |    SELECT qid, vid, rel, ROW_NUMBER() OVER (PARTITION BY qid
           |      ORDER BY rel DESC, vid) AS rn
           |    FROM cands) WHERE rn = 1),
           |$rounds
           |SELECT qid, rank, vid, round(score, 9) AS score
           |FROM s5 ORDER BY qid, rank""".stripMargin
      }),

    // Friedman blocked rank test: does any event type consistently rank
    // higher by mean value across the 30 daily blocks? Ranks within each
    // day over the decimal-exact per-cell means (deterministic total order:
    // mean then type — a documented no-average-ties variant), then
    // Q = 12n/(k(k+1))·Σ(R̄ⱼ−(k+1)/2)². Integer rank sums until the one
    // final formula; all frames after the cell agg are k×n bounded.
    Q("stats_friedman_test",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cells = graft.Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"), $"event_type")
          .agg(davg($"value", 6).as("m"))
        val ranked = cells.withColumn("r", row_number().over(
          Window.partitionBy($"day").orderBy($"m", $"event_type")))
        val byType = ranked.groupBy($"event_type")
          .agg(sum($"r").cast("long").as("rank_sum"),
            count(lit(1)).as("n_blocks"))
        byType.agg(count(lit(1)).as("k"),
            max($"n_blocks").as("n"),
            sum(($"rank_sum" * $"rank_sum").cast("decimal(30,6)"))
              .cast("double").as("ss"))
          .select($"k", $"n",
            round(lit(12.0d) * $"ss" /
              ($"n" * $"k" * ($"k" + 1)).cast("double") -
              lit(3.0d) * $"n" * ($"k" + 1), 6).as("q_stat"))
      },
      Some(s"""WITH cells AS (
              |  SELECT CAST(ts AS DATE) AS day, event_type,
              |    ${sqlDavg("value", 6)} AS m
              |  FROM events GROUP BY 1, 2),
              |ranked AS (
              |  SELECT day, event_type,
              |    ROW_NUMBER() OVER (PARTITION BY day
              |      ORDER BY m, event_type) AS r
              |  FROM cells),
              |bt AS (
              |  SELECT event_type, CAST(SUM(r) AS BIGINT) AS rank_sum,
              |    COUNT(*) AS n_blocks
              |  FROM ranked GROUP BY event_type),
              |a AS (
              |  SELECT COUNT(*) AS k, MAX(n_blocks) AS n,
              |    CAST(SUM(CAST(rank_sum * rank_sum AS DECIMAL(30,6)))
              |      AS DOUBLE) AS ss
              |  FROM bt)
              |SELECT k, n,
              |  round(12.0 * ss / CAST(n * k * (k + 1) AS DOUBLE)
              |    - 3.0 * n * (k + 1), 6) AS q_stat
              |FROM a""".stripMargin)),

    // Delta + varint storage-encoding audit over the sorted event-timestamp
    // stream, bucketed the way a time-series columnar writer would (one row
    // group per day, millisecond deltas within it, bucket base stored raw):
    // per delta bit-width, how many values / total delta mass / varint
    // bytes — the layout diagnostic behind "will this timestamp column
    // compress" (the answer here: a 3..22-bit spectrum, ~2.5 varint bytes
    // vs 8 raw). Width via the length of the binary string
    // (engine-identical for non-negative ints; tie-broken by event_id so
    // equal-ms rows order identically); varint bytes = ceil(width/7). The
    // window partitions by day — independent bounded partitions at any
    // scale, never a global sort.
    Q("scale_delta_varint_audit",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"day").orderBy($"ms", $"event_id")
        graft.Tables.events(s, dir)
          .select(to_date($"ts").as("day"), unix_millis($"ts").as("ms"),
            $"event_id")
          .withColumn("delta", $"ms" - lag($"ms", 1).over(w))
          .filter($"delta".isNotNull)
          .withColumn("width", length(bin($"delta")))
          .groupBy($"width")
          .agg(count(lit(1)).as("n_keys"),
            sum($"delta").cast("long").as("delta_sum"))
          .select($"width", $"n_keys", $"delta_sum",
            ($"n_keys" * ceil($"width".cast("double") / 7).cast("long"))
              .as("varint_bytes"))
          .orderBy($"width")
      },
      Some("""WITH t AS (
             |  SELECT CAST(ts AS DATE) AS day, epoch_ms(ts) AS ms, event_id
             |  FROM events),
             |d AS (
             |  SELECT ms - lag(ms) OVER (
             |      PARTITION BY day ORDER BY ms, event_id) AS delta
             |  FROM t),
             |f AS (SELECT delta, length(bin(delta)) AS width FROM d
             |      WHERE delta IS NOT NULL)
             |SELECT width, COUNT(*) AS n_keys,
             |  CAST(SUM(delta) AS BIGINT) AS delta_sum,
             |  COUNT(*) * CAST(ceil(CAST(width AS DOUBLE) / 7) AS BIGINT)
             |    AS varint_bytes
             |FROM f GROUP BY width ORDER BY width""".stripMargin)),

    // Block-matching motion estimation between the first two frames of the
    // multi-frame payloads — the video-compression primitive (4×4 blocks,
    // ±2 full-search, integer SAD over the grayscale field, ties
    // lexicographic on (dy,dx)). Per-video aggregates carry the
    // (bx+7·by)·(dx+5·dy) checksum, so one block matched to the wrong
    // offset flips the hash; the oracle replays the whole search from the
    // closed-form pixel formula (frame term 17·f) and the same tie order.
    Q("multimodal_video_motion_vectors",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.motionStats(s,
            Multimodal.syntheticVideos(s,
              t(s, dir, "documents").filter($"doc_id" < 100)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some {
        def gg(f: String, xe: String, ye: String) =
          s"""((doc_id*31 + ($f)*17 + ($xe)*7 + ($ye)*13) % 256
             | + (doc_id*31 + ($f)*17 + ($xe)*7 + ($ye)*13 + 101) % 256
             | + (doc_id*31 + ($f)*17 + ($xe)*7 + ($ye)*13 + 202) % 256)"""
            .stripMargin.replaceAll("\\s+", " ")
        s"""WITH dims AS (
           |  SELECT doc_id, 12 + doc_id % 6 AS w, 10 + doc_id % 5 AS h
           |  FROM documents WHERE doc_id < 100),
           |bxs AS (SELECT doc_id, w, h, unnest(range(0, w // 4)) AS bx
           |        FROM dims),
           |blocks AS (SELECT doc_id, w, h, bx, unnest(range(0, h // 4)) AS by
           |           FROM bxs),
           |offs AS (SELECT doc_id, w, h, bx, by, unnest(range(-2, 3)) AS dy
           |         FROM blocks),
           |offs2 AS (SELECT doc_id, w, h, bx, by, dy,
           |            unnest(range(-2, 3)) AS dx
           |          FROM offs
           |          WHERE by * 4 + dy >= 0 AND by * 4 + 3 + dy < h),
           |valid AS (SELECT * FROM offs2
           |          WHERE bx * 4 + dx >= 0 AND bx * 4 + 3 + dx < w),
           |pxs AS (SELECT doc_id, bx, by, dx, dy,
           |          unnest(range(0, 4)) AS px
           |        FROM valid),
           |pxy AS (SELECT doc_id, bx, by, dx, dy, px,
           |          unnest(range(0, 4)) AS py
           |        FROM pxs),
           |sad AS (
           |  SELECT doc_id, bx, by, dx, dy,
           |    SUM(abs(
           |      ${gg("1", "bx*4 + px", "by*4 + py")} -
           |      ${gg("0", "bx*4 + px + dx", "by*4 + py + dy")})) AS sad
           |  FROM pxy GROUP BY doc_id, bx, by, dx, dy),
           |best AS (
           |  SELECT doc_id, bx, by, dx, dy, sad FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, bx, by
           |      ORDER BY sad, dy, dx) AS rn
           |    FROM sad) WHERE rn = 1)
           |SELECT doc_id, COUNT(*) AS n_blocks,
           |  CAST(SUM(sad) AS BIGINT) AS sum_sad,
           |  CAST(SUM(dx) AS BIGINT) AS sum_dx,
           |  CAST(SUM(dy) AS BIGINT) AS sum_dy,
           |  CAST(SUM((bx + 7*by) * (dx + 5*dy)) AS BIGINT) AS wsum_mv
           |FROM best GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Iterative proportional fitting (survey raking): adjust the
    // event_type × ISO-dow contingency weights to match uniform target
    // margins (total/5 per type, total/7 per dow) with 5 row/column scaling
    // rounds. The per-round margin sums go through decimal recasts so every
    // reduction is partitioning-independent; the cell grid stays
    // |types|×|dows| rows after the one fact-sized pass; scalars attach via
    // the sanctioned single-row cross. The oracle unrolls the same 10
    // scaling steps. Converged weights hash at round-6.
    Q("stats_ipf_raking",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
          .select($"event_type",
            (((dayofweek(to_date($"ts")) + lit(5)) % 7) + 1).as("dow"))
        val tot = ev.agg(count(lit(1)).as("n_tot"))
        var cells = ev.groupBy($"event_type", $"dow")
          .agg(count(lit(1)).as("n_obs"))
          .crossJoin(broadcast(tot))
          .select($"event_type", $"dow", $"n_obs",
            $"n_obs".cast("double").as("wgt"),
            ($"n_tot".cast("double") / 5).as("rt"),
            ($"n_tot".cast("double") / 7).as("ct"))
          .localCheckpoint()
        for (_ <- 1 to 5) {
          val rs = cells.groupBy($"event_type".as("et2"))
            .agg(sum($"wgt".cast("decimal(30,12)")).cast("double").as("rsum"))
          cells = cells.join(broadcast(rs), $"event_type" === $"et2")
            .select($"event_type", $"dow", $"n_obs",
              ($"wgt" * ($"rt" / $"rsum")).as("wgt"), $"rt", $"ct")
          val cs = cells.groupBy($"dow".as("dw2"))
            .agg(sum($"wgt".cast("decimal(30,12)")).cast("double").as("csum"))
          cells = cells.join(broadcast(cs), $"dow" === $"dw2")
            .select($"event_type", $"dow", $"n_obs",
              ($"wgt" * ($"ct" / $"csum")).as("wgt"), $"rt", $"ct")
            .localCheckpoint()
        }
        cells.select($"event_type", $"dow", $"n_obs",
            round($"wgt", 6).as("w_raked"),
            round($"wgt" / $"n_obs", 6).as("rake_factor"))
          .orderBy($"event_type", $"dow")
      },
      Some {
        val rounds = (1 to 5).map { r =>
          s"""r$r AS (
             |  SELECT c.event_type, c.dow, c.n_obs,
             |    c.wgt * (c.rt / m.rsum) AS wgt, c.rt, c.ct
             |  FROM c${r - 1} c JOIN (
             |    SELECT event_type,
             |      CAST(SUM(CAST(wgt AS DECIMAL(30,12))) AS DOUBLE) AS rsum
             |    FROM c${r - 1} GROUP BY event_type) m
             |    ON c.event_type = m.event_type),
             |c$r AS (
             |  SELECT c.event_type, c.dow, c.n_obs,
             |    c.wgt * (c.ct / m.csum) AS wgt, c.rt, c.ct
             |  FROM r$r c JOIN (
             |    SELECT dow,
             |      CAST(SUM(CAST(wgt AS DECIMAL(30,12))) AS DOUBLE) AS csum
             |    FROM r$r GROUP BY dow) m
             |    ON c.dow = m.dow)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (
           |  SELECT event_type, isodow(CAST(ts AS DATE)) AS dow
           |  FROM events),
           |tot AS (SELECT COUNT(*) AS n_tot FROM ev),
           |c0 AS (
           |  SELECT event_type, dow, COUNT(*) AS n_obs,
           |    CAST(COUNT(*) AS DOUBLE) AS wgt,
           |    CAST(n_tot AS DOUBLE) / 5 AS rt,
           |    CAST(n_tot AS DOUBLE) / 7 AS ct
           |  FROM ev CROSS JOIN tot
           |  GROUP BY event_type, dow, n_tot),
           |$rounds
           |SELECT event_type, dow, n_obs,
           |  round(wgt, 6) AS w_raked,
           |  round(wgt / n_obs, 6) AS rake_factor
           |FROM c5 ORDER BY event_type, dow""".stripMargin
      }),

    // Isotonic (monotone-increasing) regression of the daily mean value via
    // the minimax formula iso(i) = max_{j≤i} min_{k≥j} avg(y[j..k]) — the
    // closed form of pool-adjacent-violators, expressed entirely as bounded
    // join algebra (no sequential pooling): decimal-exact prefix sums, the
    // 30×30 segment lattice, one min per start, one max per position. Every
    // frame after the daily agg is ≤n_days² rows (sanctioned bounded
    // crosses); segment averages are single IEEE divisions of exact sums.
    Q("stats_isotonic_minimax",
      (s, dir) => {
        import s.implicits._
        val daily = graft.Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("cnt"),
            sum($"value".cast("decimal(20,6)")).as("sv"))
          .select($"day", $"cnt", $"sv",
            datediff($"day", lit("2024-01-01").cast("date")).as("t"))
          .localCheckpoint()
        val segs = daily.select($"t".as("j"), $"sv".as("svj"), $"cnt".as("cj"))
          .join(daily.select($"t".as("k"), $"sv".as("svk"),
            $"cnt".as("ck")), $"j" <= $"k")
        // avg over [j..k] from prefix-free pairwise sums: recompute the
        // segment sum as Σ over rows in [j,k] via a second bounded join
        val members = daily.select($"t".as("m"), $"sv".as("svm"),
          $"cnt".as("cm"))
        val segAvg = segs.select($"j", $"k")
          .join(members, $"m" >= $"j" && $"m" <= $"k")
          .groupBy($"j", $"k")
          .agg((sum($"svm").cast("double") /
            sum($"cm").cast("double")).as("avg"))
        val minPerStart = segAvg.groupBy($"j").agg(min($"avg").as("mj"))
        val iso = daily.select($"t".as("i"), $"day", $"sv", $"cnt")
          .join(minPerStart, $"j" <= $"i")
          .groupBy($"i", $"day", $"sv", $"cnt")
          .agg(max($"mj").as("iso"))
        iso.select($"day",
            round($"sv".cast("double") / $"cnt", 6).as("y_mean"),
            round($"iso", 6).as("y_iso"))
          .orderBy($"day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt,
             |    SUM(CAST(value AS DECIMAL(20,6))) AS sv,
             |    CAST(ts AS DATE) - DATE '2024-01-01' AS t
             |  FROM events GROUP BY 1, 4),
             |segavg AS (
             |  SELECT j.t AS j, k.t AS k,
             |    CAST(SUM(m.sv) AS DOUBLE) / CAST(SUM(m.cnt) AS DOUBLE)
             |      AS avg
             |  FROM daily j JOIN daily k ON j.t <= k.t
             |  JOIN daily m ON m.t >= j.t AND m.t <= k.t
             |  GROUP BY j.t, k.t),
             |mins AS (SELECT j, MIN(avg) AS mj FROM segavg GROUP BY j),
             |iso AS (
             |  SELECT d.t, d.day, d.sv, d.cnt, MAX(m.mj) AS iso
             |  FROM daily d JOIN mins m ON m.j <= d.t
             |  GROUP BY d.t, d.day, d.sv, d.cnt)
             |SELECT day,
             |  round(CAST(sv AS DOUBLE) / cnt, 6) AS y_mean,
             |  round(iso, 6) AS y_iso
             |FROM iso ORDER BY day""".stripMargin)),

    // Gap-filling by linear interpolation: synthetically blind every fifth
    // day of the daily revenue series, then reconstruct each missing day
    // from its nearest present neighbors — value = prev + (next−prev)·
    // (d−dp)/(dn−dp), exact date arithmetic, single IEEE interpolation of
    // decimal-exact day totals. The neighbor lookups are bounded non-equi
    // joins over the ≤|days| daily frame (the LOCF query's forward-fill
    // generalized to two-sided). Output marks real vs interpolated rows.
    Q("events_gapfill_interpolate",
      (s, dir) => {
        import s.implicits._
        val daily = graft.Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"))
          .agg(sum($"value".cast("decimal(20,6)")).as("sv"))
          .select($"day", $"sv",
            datediff($"day", lit("2024-01-01").cast("date")).as("d"))
          .localCheckpoint()
        val present = daily.filter($"d" % 5 =!= 2)
          .select($"day", $"d", $"sv".cast("double").as("v"))
        val missing = daily.filter($"d" % 5 === 2)
          .select($"day".as("mday"), $"d".as("md"))
        val prev = missing.join(present.select($"d".as("pd"),
            $"v".as("pv")), $"pd" < $"md")
          .groupBy($"mday", $"md")
          .agg(max(struct($"pd", $"pv")).as("p"))
          .select($"mday", $"md", $"p.pd".as("pd"), $"p.pv".as("pv"))
        val nxt = missing.join(present.select($"d".as("nd"),
            $"v".as("nv")), $"nd" > $"md")
          .groupBy($"mday", $"md")
          .agg(min(struct($"nd", $"nv")).as("q"))
          .select($"mday", $"md", $"q.nd".as("nd"), $"q.nv".as("nv"))
        val interp = prev.join(nxt, Seq("mday", "md"))
          .select($"mday".as("day"),
            ($"pv" + ($"nv" - $"pv") *
              (($"md" - $"pd").cast("double") /
               ($"nd" - $"pd").cast("double"))).as("v"),
            lit(1).as("interpolated"))
        present.select($"day", $"v", lit(0).as("interpolated"))
          .union(interp)
          .select($"day", round($"v", 6).as("value"), $"interpolated")
          .orderBy($"day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) AS day,
             |    SUM(CAST(value AS DECIMAL(20,6))) AS sv,
             |    CAST(ts AS DATE) - DATE '2024-01-01' AS d
             |  FROM events GROUP BY 1, 3),
             |present AS (SELECT day, d, CAST(sv AS DOUBLE) AS v
             |            FROM daily WHERE d % 5 <> 2),
             |missing AS (SELECT day AS mday, d AS md
             |            FROM daily WHERE d % 5 = 2),
             |prev AS (
             |  SELECT mday, md, MAX(d) AS pd,
             |    MAX_BY(v, d) AS pv
             |  FROM missing JOIN present ON d < md GROUP BY mday, md),
             |nxt AS (
             |  SELECT mday, md, MIN(d) AS nd,
             |    MIN_BY(v, d) AS nv
             |  FROM missing JOIN present ON d > md GROUP BY mday, md),
             |interp AS (
             |  SELECT p.mday AS day,
             |    pv + (nv - pv) * (CAST(md - pd AS DOUBLE) /
             |      CAST(nd - pd AS DOUBLE)) AS v,
             |    1 AS interpolated
             |  FROM prev p JOIN nxt n USING (mday, md))
             |SELECT day, round(v, 6) AS value, interpolated FROM (
             |  SELECT day, v, 0 AS interpolated FROM present
             |  UNION ALL SELECT day, v, interpolated FROM interp)
             |ORDER BY day""".stripMargin)),

    // Ljung–Box portmanteau test on the daily event-count series:
    // autocorrelations ρ₁..ρ₇ from decimal-exact demeaned products (the
    // events_period_detect demeaning discipline), then the cumulative
    // Q(h) = n(n+2)·Σ_{j≤h} ρ_j²/(n−j) per lag — the is-it-white-noise
    // gate before fitting any forecast model. Every frame after the daily
    // agg is ≤|days| rows; the lag fan-out is a sanctioned 7-row cross.
    Q("stats_ljung_box",
      (s, dir) => {
        import s.implicits._
        val daily = graft.Tables.events(s, dir)
          .groupBy(to_date($"ts").as("day"))
          .agg(count(lit(1)).as("c"))
          .select(datediff($"day", lit("2024-01-01").cast("date")).as("t"),
            $"c")
          .localCheckpoint()
        val mean = daily.agg(sum($"c").cast("long").as("sc"),
          count(lit(1)).cast("long").as("nd"))
        val dm = daily.crossJoin(broadcast(mean))
          .select($"t", $"nd",
            ($"c".cast("double") - $"sc".cast("double") / $"nd").as("cd"))
          .localCheckpoint()
        val s0 = dm.agg(sum(($"cd" * $"cd").cast("decimal(30,8)"))
          .cast("double").as("s0"))
        val ks = (1 to 7).toDF("k")
        val lagged = dm.crossJoin(broadcast(ks))
          .select($"k", ($"t" + $"k").as("t2"), $"cd".as("cd1"), $"nd")
          .join(dm.select($"t".as("t2"), $"cd".as("cd2")), Seq("t2"))
          .groupBy($"k")
          .agg(max($"nd").as("n"),
            sum(($"cd1" * $"cd2").cast("decimal(30,8)")).cast("double")
              .as("sk"))
          .crossJoin(broadcast(s0))
          .select($"k", $"n", ($"sk" / $"s0").as("rho"))
          .localCheckpoint()
        val cum = lagged.select($"k", $"n", $"rho")
          .join(lagged.select($"k".as("j"), $"n".as("nj"), $"rho".as("rhoj")),
            $"j" <= $"k")
          .groupBy($"k", $"n", $"rho")
          .agg(sum((($"rhoj" * $"rhoj") /
            ($"nj" - $"j").cast("double")).cast("decimal(30,12)"))
            .cast("double").as("ssum"))
        cum.select($"k", round($"rho", 6).as("rho"),
            round($"n" * ($"n" + 2).cast("double") * $"ssum", 6)
              .as("q_cum"))
          .orderBy($"k")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(ts AS DATE) - DATE '2024-01-01' AS t,
             |    COUNT(*) AS c
             |  FROM events GROUP BY 1),
             |m AS (SELECT CAST(SUM(c) AS BIGINT) AS sc,
             |        CAST(COUNT(*) AS BIGINT) AS nd FROM daily),
             |dm AS (SELECT t, nd,
             |    CAST(c AS DOUBLE) - CAST(sc AS DOUBLE) / nd AS cd
             |  FROM daily, m),
             |s0 AS (SELECT CAST(SUM(CAST(cd * cd AS DECIMAL(30,8)))
             |         AS DOUBLE) AS s0 FROM dm),
             |ks AS (SELECT unnest(range(1, 8)) AS k),
             |lagged AS (
             |  SELECT k, MAX(d1.nd) AS n,
             |    CAST(SUM(CAST(d1.cd * d2.cd AS DECIMAL(30,8))) AS DOUBLE)
             |      AS sk
             |  FROM dm d1 CROSS JOIN ks JOIN dm d2 ON d2.t = d1.t + k
             |  GROUP BY k),
             |rhos AS (SELECT k, n, sk / s0 AS rho FROM lagged, s0),
             |cum AS (
             |  SELECT a.k, a.n, a.rho,
             |    CAST(SUM(CAST((b.rho * b.rho) /
             |      CAST(b.n - b.k AS DOUBLE) AS DECIMAL(30,12)))
             |      AS DOUBLE) AS ssum
             |  FROM rhos a JOIN rhos b ON b.k <= a.k
             |  GROUP BY a.k, a.n, a.rho)
             |SELECT k, round(rho, 6) AS rho,
             |  round(n * CAST(n + 2 AS DOUBLE) * ssum, 6) AS q_cum
             |FROM cum ORDER BY k""".stripMargin)),

    // Hill tail-index estimator over the top-200 order statistics of the
    // event value distribution (the peaks-over-threshold companion of the
    // IQR report: HOW heavy is the right tail, not just how many points
    // cross a fence): α̂ = 1/mean(ln(x_i/x_(k+1))), plus the mean excess
    // over the threshold. Top-201 via distributed TakeOrdered (no global
    // sort); the only window runs over that limit-bounded frame; log terms
    // recast to decimal before the mean.
    Q("stats_hill_tail_index",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // no checkpoint: the TakeOrderedAndProject must stay in-plan so the
        // downstream global window is visibly limit-bounded (201 rows)
        val top = graft.Tables.events(s, dir)
          .select($"value", $"event_id")
          .orderBy($"value".desc, $"event_id").limit(201)
        val ranked = top.withColumn("rn",
          row_number().over(Window.orderBy($"value".desc, $"event_id")))
        val thr = ranked.filter($"rn" === 201)
          .select($"value".as("x_thr"))
        ranked.filter($"rn" <= 200)
          .crossJoin(broadcast(thr))
          .agg(count(lit(1)).as("k"),
            max($"x_thr").as("x_threshold"),
            sum(log($"value" / $"x_thr").cast("decimal(30,12)"))
              .cast("double").as("lsum"),
            sum(($"value" - $"x_thr").cast("decimal(20,6)")).cast("double")
              .as("esum"))
          .select($"k", round($"x_threshold", 6).as("x_threshold"),
            round($"lsum" / $"k", 6).as("hill_mean"),
            round($"k" / $"lsum", 6).as("alpha"),
            round($"esum" / $"k", 6).as("mean_excess"))
      },
      Some("""WITH ranked AS (
             |  SELECT value,
             |    ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn
             |  FROM events),
             |thr AS (SELECT value AS x_thr FROM ranked WHERE rn = 201),
             |a AS (
             |  SELECT COUNT(*) AS k, MAX(x_thr) AS x_threshold,
             |    CAST(SUM(CAST(ln(value / x_thr) AS DECIMAL(30,12)))
             |      AS DOUBLE) AS lsum,
             |    CAST(SUM(CAST(value - x_thr AS DECIMAL(20,6))) AS DOUBLE)
             |      AS esum
             |  FROM ranked CROSS JOIN thr WHERE rn <= 200)
             |SELECT k, round(x_threshold, 6) AS x_threshold,
             |  round(lsum / k, 6) AS hill_mean,
             |  round(k / lsum, 6) AS alpha,
             |  round(esum / k, 6) AS mean_excess
             |FROM a""".stripMargin)),

    // Histogram equalization through the real BMP decode: remap each
    // 256-level grayscale value to (cdf·255) div n — pure integer contrast
    // normalization, the preprocessing step before most classical vision
    // features. Output hashes distinct-output-level count, output range,
    // and the (x+2y)-weighted remap checksum; the oracle rebuilds the CDF
    // remap from the closed-form pixel formula with a window cumsum.
    Q("multimodal_image_hist_equalize",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.equalizeStats(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some {
        val gray =
          """((doc_id*31 + x*7 + y*13) % 256
            | + (doc_id*31 + x*7 + y*13 + 101) % 256
            | + (doc_id*31 + x*7 + y*13 + 202) % 256)""".stripMargin
            .replaceAll("\\s+", " ")
        s"""WITH dims AS (
           |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
           |  FROM documents WHERE doc_id < 60),
           |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
           |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
           |px AS (SELECT doc_id, w, h, x, y, ($gray) // 3 AS lv FROM xy),
           |hist AS (SELECT doc_id, lv, COUNT(*) AS c
           |         FROM px GROUP BY doc_id, lv),
           |cdf AS (
           |  SELECT doc_id, lv,
           |    SUM(c) OVER (PARTITION BY doc_id ORDER BY lv) AS cum
           |  FROM hist),
           |remap AS (
           |  SELECT cdf.doc_id, cdf.lv,
           |    (cum * 255) // (w * h) AS o
           |  FROM cdf JOIN dims ON dims.doc_id = cdf.doc_id),
           |outp AS (
           |  SELECT px.doc_id, px.x, px.y, remap.o
           |  FROM px JOIN remap ON remap.doc_id = px.doc_id
           |                    AND remap.lv = px.lv)
           |SELECT doc_id, COUNT(*) AS n_pix,
           |  COUNT(DISTINCT o) AS n_levels_out,
           |  CAST(MIN(o) AS INTEGER) AS min_out,
           |  CAST(MAX(o) AS INTEGER) AS max_out,
           |  CAST(SUM((x + 2*y) * o) AS BIGINT) AS wsum_out
           |FROM outp GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Lorenz-curve decile table of customer revenue concentration: rank the
    // per-customer revenue totals with the two-level banded global
    // row-number (no single-reducer sort), cut exact ANSI deciles with
    // ntileFromRank, and report each decile's customer count, revenue, and
    // cumulative revenue share — the table behind the Gini coefficient the
    // agg family already computes. Decimal revenue sums end-to-end; the
    // cumulative share is a bounded ≤10-row triangular join.
    Q("agg_lorenz_deciles",
      (s, dir) => {
        import s.implicits._
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_custkey")
          .agg(sum($"l_extendedprice".cast("decimal(20,2)")).as("rev"))
        val ranked = bandedRowNumber(rev,
          floor($"rev" / 100000).cast("long"),
          Seq($"rev", $"o_custkey"), "rnk", "tot")
        val dec = ranked
          .withColumn("decile", ntileFromRank($"rnk", $"tot", 10))
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_cust"),
            sum($"rev").as("dec_rev"))
          .localCheckpoint()
        val total = dec.agg(sum($"dec_rev").as("tot_rev"))
        val cum = dec.join(dec.select($"decile".as("d2"),
            $"dec_rev".as("r2")), $"d2" <= $"decile")
          .groupBy($"decile", $"n_cust", $"dec_rev")
          .agg(sum($"r2").as("cum_rev"))
        cum.crossJoin(broadcast(total))
          .select($"decile", $"n_cust",
            $"dec_rev".cast("double").as("dec_rev"),
            round($"cum_rev".cast("double") / $"tot_rev".cast("double"), 6)
              .as("cum_share"))
          .orderBy($"decile")
      },
      Some("""WITH rev AS (
             |  SELECT o_custkey,
             |    SUM(CAST(l_extendedprice AS DECIMAL(20,2))) AS rev
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  GROUP BY o_custkey),
             |d AS (
             |  SELECT o_custkey, rev,
             |    NTILE(10) OVER (ORDER BY rev, o_custkey) AS decile
             |  FROM rev),
             |dec AS (
             |  SELECT decile, COUNT(*) AS n_cust, SUM(rev) AS dec_rev
             |  FROM d GROUP BY decile),
             |tot AS (SELECT SUM(dec_rev) AS tot_rev FROM dec),
             |cum AS (
             |  SELECT a.decile, a.n_cust, a.dec_rev, SUM(b.dec_rev) AS cum_rev
             |  FROM dec a JOIN dec b ON b.decile <= a.decile
             |  GROUP BY a.decile, a.n_cust, a.dec_rev)
             |SELECT decile, n_cust,
             |  CAST(dec_rev AS DOUBLE) AS dec_rev,
             |  round(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
             |    AS cum_share
             |FROM cum CROSS JOIN tot ORDER BY decile""".stripMargin)),

    // Linear-counting set-algebra estimation: estimate |clickers ∩
    // purchasers| by inclusion–exclusion over three 4096-bucket occupancy
    // counts (A, B, A∪B — each deterministic integer work, the
    // agg_linear_counting machinery), pinned against the exact intersection
    // with relative error. The sketch-union identity (occupancy of A∪B from
    // one pass over both sets) is what production actually merges at scale;
    // bucket rollups only, never the fact table, after the dedup shuffles.
    Q("sketch_set_intersection_est",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
        def users(typ: String) = ev.filter($"event_type" === typ)
          .select($"user_id").distinct()
        def occ(df: org.apache.spark.sql.DataFrame, name: String) =
          df.select((conv(substring(md5($"user_id".cast("string")), 1, 6),
              16, 10).cast("long") % 4096).as("bucket"))
            .agg(countDistinct($"bucket").as(name))
        def lc(occCol: org.apache.spark.sql.Column) =
          lit(4096.0d) * log(lit(4096.0d) / (lit(4096L) - occCol))
        val a = users("click"); val b = users("purchase")
        val exact = a.join(b, Seq("user_id"))
          .agg(count(lit(1)).as("n_exact"))
        occ(a, "occ_a")
          .crossJoin(broadcast(occ(b, "occ_b")))
          .crossJoin(broadcast(occ(a.union(b).distinct(), "occ_u")))
          .crossJoin(broadcast(exact))
          .select($"occ_a", $"occ_b", $"occ_u", $"n_exact",
            round(lc($"occ_a") + lc($"occ_b") - lc($"occ_u"), 4)
              .as("est_intersect"),
            round((lc($"occ_a") + lc($"occ_b") - lc($"occ_u") - $"n_exact")
              / $"n_exact", 6).as("rel_err"))
      },
      Some(s"""WITH a AS (SELECT DISTINCT user_id FROM events
              |          WHERE event_type = 'click'),
              |b AS (SELECT DISTINCT user_id FROM events
              |      WHERE event_type = 'purchase'),
              |oa AS (SELECT COUNT(DISTINCT
              |    ${sqlHexInt("md5(CAST(user_id AS VARCHAR))", 1, 6)} % 4096)
              |    AS occ_a FROM a),
              |ob AS (SELECT COUNT(DISTINCT
              |    ${sqlHexInt("md5(CAST(user_id AS VARCHAR))", 1, 6)} % 4096)
              |    AS occ_b FROM b),
              |u AS (SELECT user_id FROM a UNION SELECT user_id FROM b),
              |ou AS (SELECT COUNT(DISTINCT
              |    ${sqlHexInt("md5(CAST(user_id AS VARCHAR))", 1, 6)} % 4096)
              |    AS occ_u FROM u),
              |x AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact
              |      FROM a JOIN b USING (user_id))
              |SELECT occ_a, occ_b, occ_u, n_exact,
              |  round(4096.0 * ln(4096.0 / (4096 - occ_a))
              |      + 4096.0 * ln(4096.0 / (4096 - occ_b))
              |      - 4096.0 * ln(4096.0 / (4096 - occ_u)), 4)
              |    AS est_intersect,
              |  round((4096.0 * ln(4096.0 / (4096 - occ_a))
              |      + 4096.0 * ln(4096.0 / (4096 - occ_b))
              |      - 4096.0 * ln(4096.0 / (4096 - occ_u)) - n_exact)
              |    / n_exact, 6) AS rel_err
              |FROM oa, ob, ou, x""".stripMargin)),

    // Lincoln–Petersen / Chapman capture–recapture: estimate the active
    // population from two daily "capture" samples (day-1 users, day-2
    // users, their overlap) — N̂ = (n1+1)(n2+1)/(m+1) − 1 — pinned against
    // the true month-wide distinct count. The ecology estimator is exactly
    // the dedup-rate math of overlapping crawl snapshots. Three distinct
    // shuffles + 1-row crosses; integer inputs, one final ratio.
    Q("stats_capture_recapture",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
        def dayUsers(d: String) = ev
          .filter(to_date($"ts") === lit(d).cast("date"))
          .select($"user_id").distinct()
        val d1 = dayUsers("2024-01-01"); val d2 = dayUsers("2024-01-02")
        val n1 = d1.agg(count(lit(1)).as("n1"))
        val n2 = d2.agg(count(lit(1)).as("n2"))
        val m = d1.join(d2, Seq("user_id")).agg(count(lit(1)).as("m"))
        val tot = ev.select($"user_id").distinct()
          .agg(count(lit(1)).as("n_true"))
        n1.crossJoin(broadcast(n2)).crossJoin(broadcast(m))
          .crossJoin(broadcast(tot))
          .select($"n1", $"n2", $"m", $"n_true",
            round((($"n1" + 1) * ($"n2" + 1)).cast("double") / ($"m" + 1)
              - 1, 4).as("n_hat"),
            round(((($"n1" + 1) * ($"n2" + 1)).cast("double") / ($"m" + 1)
              - 1 - $"n_true") / $"n_true", 6).as("rel_err"))
      },
      Some("""WITH d1 AS (SELECT DISTINCT user_id FROM events
             |           WHERE CAST(ts AS DATE) = DATE '2024-01-01'),
             |d2 AS (SELECT DISTINCT user_id FROM events
             |       WHERE CAST(ts AS DATE) = DATE '2024-01-02'),
             |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM d1),
             |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM d2),
             |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS m
             |      FROM d1 JOIN d2 USING (user_id)),
             |t AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true
             |      FROM events)
             |SELECT n1, n2, m, n_true,
             |  round(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1, 4)
             |    AS n_hat,
             |  round((CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1
             |    - n_true) / n_true, 6) AS rel_err
             |FROM a, b, c, t""".stripMargin)),

    // Binary 3×3 morphology through the real BMP decode: threshold at the
    // grayscale midpoint, then erosion (all 9 neighbors on) and dilation
    // (any of 9 on) over the interior — the despeckle/fill primitives of
    // classical segmentation, pure integer comparisons. The oracle
    // re-evaluates every neighborhood from the closed-form pixel formula;
    // the erosion checksum pins neighborhood addressing.
    Q("multimodal_image_morphology",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.morphStats(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some {
        def onExpr(xe: String, ye: String) =
          s"""(((doc_id*31 + ($xe)*7 + ($ye)*13) % 256
             | + (doc_id*31 + ($xe)*7 + ($ye)*13 + 101) % 256
             | + (doc_id*31 + ($xe)*7 + ($ye)*13 + 202) % 256) > 382)"""
            .stripMargin.replaceAll("\\s+", " ")
        val nine = (for { dy <- -1 to 1; dx <- -1 to 1 }
          yield onExpr(s"x+$dx", s"y+$dy"))
        val allOn = nine.map(e => s"CASE WHEN $e THEN 1 ELSE 0 END")
          .mkString("(", " + ", ") = 9")
        val anyOn = nine.map(e => s"CASE WHEN $e THEN 1 ELSE 0 END")
          .mkString("(", " + ", ") >= 1")
        s"""WITH dims AS (
           |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
           |  FROM documents WHERE doc_id < 60),
           |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
           |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
           |fullf AS (
           |  SELECT doc_id,
           |    CAST(SUM(CASE WHEN ${onExpr("x", "y")} THEN 1 ELSE 0 END)
           |      AS BIGINT) AS n_on,
           |    ANY_VALUE(w * h) AS n_pix
           |  FROM xy GROUP BY doc_id),
           |interior AS (
           |  SELECT doc_id, x, y,
           |    CASE WHEN $allOn THEN 1 ELSE 0 END AS er,
           |    CASE WHEN $anyOn THEN 1 ELSE 0 END AS di
           |  FROM xy
           |  WHERE x BETWEEN 1 AND w - 2 AND y BETWEEN 1 AND h - 2),
           |mi AS (
           |  SELECT doc_id, CAST(SUM(er) AS BIGINT) AS n_eroded,
           |    CAST(SUM(di) AS BIGINT) AS n_dilated,
           |    CAST(SUM((x + 2*y) * er) AS BIGINT) AS wsum_eroded
           |  FROM interior GROUP BY doc_id)
           |SELECT f.doc_id, n_pix, n_on, n_eroded, n_dilated, wsum_eroded
           |FROM fullf f JOIN mi ON mi.doc_id = f.doc_id
           |ORDER BY f.doc_id""".stripMargin
      }),

    // Session bounce rate per day: sessionize each user's stream with the
    // standard 30-minute inactivity gap (the events_sessionize window
    // shape), then per session-start day report sessions, single-event
    // "bounce" sessions, and the bounce rate — the engagement-quality
    // metric layered on top of sessionization. User-keyed windows, session and
    // day aggs — every frame after the lag pass is grouped.
    Q("events_bounce_rate",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val sess = graft.Tables.events(s, dir)
          .select($"user_id", $"ts", $"event_id")
          .withColumn("new_sess",
            when(unix_millis($"ts") -
              unix_millis(lag($"ts", 1).over(w)) > 1800000L, 1L)
              .when(lag($"ts", 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("sess_id",
            sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
          .groupBy($"user_id", $"sess_id")
          .agg(min($"ts").as("start_ts"), count(lit(1)).as("n_events"))
        sess.groupBy(to_date($"start_ts").as("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when($"n_events" === 1, 1L).otherwise(0L)).cast("long")
              .as("n_bounce"))
          .select($"day", $"n_sessions", $"n_bounce",
            round($"n_bounce".cast("double") / $"n_sessions", 6)
              .as("bounce_rate"))
          .orderBy($"day")
      },
      Some("""WITH g AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |          OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    SUM(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS sess_id
             |  FROM g),
             |sess AS (
             |  SELECT user_id, sess_id, MIN(ts) AS start_ts,
             |    COUNT(*) AS n_events
             |  FROM s GROUP BY user_id, sess_id)
             |SELECT CAST(start_ts AS DATE) AS day,
             |  COUNT(*) AS n_sessions,
             |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_bounce,
             |  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*), 6) AS bounce_rate
             |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
