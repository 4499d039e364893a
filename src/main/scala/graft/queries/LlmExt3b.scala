package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DataTypes
import graft.llm.{Multimodal, TextFunctions => TF}
import QueryDSL._

/** Fourth-wave operators, part 2 of the [[LlmExt3]] family (split for file
  * size only — same scope, same determinism rules; the family scaladoc lives
  * on [[LlmExt3]]): HdrHistogram-style log2 bucketing, KS drift, bitmask
  * funnels, MAD, random-walk corpora, banded Gini, de-hyphenation,
  * content-defined chunking + CDC shared-chunk dedup, geometric
  * augmentation, dataset cards, delta-method ratio variance, grouped OLS,
  * UUIDv3 minting, CUSUM drift, vocabulary-prune coverage, entity
  * resolution, Holt backtest, Wilson reach CI, Poisson-bootstrap SE. */
object LlmExt3b {

  /** DuckDB mirror of [[cdcChunks]]: the CTE chain from a `docs(doc_id,
    * text)` CTE to `cmd(doc_id, chunk_id, start, len, chunk_md5)`. Splice
    * after a WITH docs AS (...) prefix. */
  private val duckCdcSql: String = {
    val hTerms = (0 until 8).map { k =>
      val c = math.pow(31, k).toLong
      if (k == 0) s"CAST(a AS BIGINT) * $c"
      else s"CAST(COALESCE(lag(a, $k) OVER w, 0) AS BIGINT) * $c"
    }.mkString(" + ")
    s"""chars AS (
       |  SELECT doc_id, i,
       |    ascii(substring(text, CAST(i AS INT), 1)) AS a
       |  FROM docs, unnest(range(1, length(text) + 1)) t(i)),
       |h AS (
       |  SELECT doc_id, i, ($hTerms) % 2147483647 AS h
       |  FROM chars
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
       |b AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i >= 8 AND h % 64 = 0 THEN 1 ELSE 0 END AS boundary
       |  FROM h),
       |ch AS (
       |  SELECT doc_id, i,
       |    COALESCE(CAST(SUM(boundary) OVER (PARTITION BY doc_id
       |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS BIGINT), 0) AS chunk
       |  FROM b),
       |chunks AS (
       |  SELECT doc_id, chunk, MIN(i) AS start, COUNT(*) AS len
       |  FROM ch GROUP BY 1, 2),
       |cmd AS (
       |  SELECT c.doc_id, c.chunk AS chunk_id,
       |    CAST(c.start AS BIGINT) AS start, c.len,
       |    md5(substring(d.text, CAST(c.start AS INT), CAST(c.len AS INT)))
       |      AS chunk_md5
       |  FROM chunks c JOIN docs d USING (doc_id))""".stripMargin
  }

  /** Content-defined chunk frame over (doc_id, text): 8-char base-31 rolling
    * hash ≡ 0 (mod 64) boundaries (see text_cdc_chunking), returning one row
    * per chunk with its md5 digest. Shared by the chunking query and the
    * CDC-based dedup. All windows partition by doc. */
  private def cdcChunks(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val p = 2147483647L
    val chars = docs.select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")))).as("i"),
        col("text"))
      .select(col("doc_id"), col("i"),
        ascii(expr("substring(text, cast(i as int), 1)")).as("a"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val hTerms = (0 until 8).map { k =>
      coalesce(lag(col("a"), k).over(w), lit(0)).cast("long") *
        lit(math.pow(31, k).toLong)
    }.reduceLeft(_ + _)
    val withH = chars.withColumn("h", hTerms % p)
      .withColumn("boundary",
        when(col("i") >= 8 && col("h") % 64 === 0, 1L).otherwise(0L))
      .withColumn("chunk", coalesce(sum(col("boundary")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    withH.groupBy(col("doc_id"), col("chunk"))
      .agg(min(col("i")).as("start"), count(lit(1)).as("len"))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("chunk").as("chunk_id"),
        col("start").cast("long").as("start"), col("len"),
        md5(expr("substring(text, cast(start as int), cast(len as int))"))
          .as("chunk_md5"))
  }

  val queries: Seq[Q] = Seq(
    // Log2-bucketed value histogram (the HdrHistogram/latency-histogram
    // shape: exponentially-spaced buckets with bounded relative error) with
    // ZERO floating point: bucket = floor(log2(v)) computed as
    // length(bin(v))−1 — a binary-string bit-length trick both engines
    // evaluate identically, where a log2() call would hit libm. floor()
    // BEFORE the bigint cast pins the one cast divergence (Spark truncates
    // double→long, DuckDB rounds). Bounded state: ≤64 buckets ever.
    Q("agg_log2_histogram",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select(floor($"o_totalprice").cast("long").as("v"))
          .filter($"v" >= 1L)
          .select((length(bin($"v")) - 1).cast("long").as("bucket"), $"v")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"), min($"v").as("min_v"),
            max($"v").as("max_v"))
          .orderBy($"bucket")
      },
      Some("""WITH v AS (
             |  SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders
             |  WHERE floor(o_totalprice) >= 1)
             |SELECT CAST(length(bin(v)) - 1 AS BIGINT) AS bucket,
             |  COUNT(*) AS n, MIN(v) AS min_v, MAX(v) AS max_v
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Exact two-sample Kolmogorov-Smirnov drift test — distribution-drift
    // detection with NO logs (the PSI alternative that stays hashable):
    // D = max over pooled values of |F₁(v) − F₂(v)|, maximized as the
    // INTEGER |n₂·c₁(v) − n₁·c₂(v)| and divided once at the end. The two
    // empirical CDFs come from the banded two-level cumulative-sum pattern
    // (per-band totals + broadcast prefix offsets; the only single-partition
    // window runs over |bands| rows), so no corpus-sized frame ever collapses
    // to one partition. Fixture split: first half vs second half of orders by
    // key parity.
    Q("dq_ks_drift",
      (s, dir) => {
        import s.implicits._
        val o = t(s, dir, "orders")
          .select($"o_totalprice".as("v"), ($"o_orderkey" % 2 === 0).as("g1"))
        val perV = o.groupBy($"v")
          .agg(sum(when($"g1", 1L).otherwise(0L)).as("c1v"),
            sum(when(!$"g1", 1L).otherwise(0L)).as("c2v"))
          .withColumn("band", floor($"v" / 50000.0d).cast("long"))
        val offs = perV.groupBy($"band")
          .agg(sum($"c1v").as("b1"), sum($"c2v").as("b2"))
          .withColumn("off1", coalesce(sum($"b1").over(
            Window.orderBy($"band").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .withColumn("off2", coalesce(sum($"b2").over(
            Window.orderBy($"band").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select($"band".as("jb"), $"off1", $"off2")
        val wBand = Window.partitionBy($"band").orderBy($"v")
        val cum = perV.join(broadcast(offs), $"band" === $"jb")
          .withColumn("c1", $"off1" + sum($"c1v").over(wBand))
          .withColumn("c2", $"off2" + sum($"c2v").over(wBand))
        // Round 16 (guide §1.2 remove passes): the totals previously re-ran
        // the whole scan (census: twin 215 + 200 ms single-task scan stages).
        // n1 = Σ_v c1v and n2 = Σ_v c2v exactly, and perV's groupBy exchange
        // is shared with the cum branch via ReuseExchange — one scan total.
        val tot = perV.agg(sum($"c1v").as("n1"), sum($"c2v").as("n2"))
        cum.crossJoin(broadcast(tot))
          .select(abs($"n2" * $"c1" - $"n1" * $"c2").as("dnum"),
            $"n1", $"n2")
          .groupBy($"n1", $"n2").agg(max($"dnum").as("d_num"))
          .select($"n1", $"n2", $"d_num",
            ($"d_num".cast("double") / ($"n1" * $"n2").cast("double"))
              .as("ks_d"))
      },
      Some("""WITH o AS (
             |  SELECT o_totalprice AS v, o_orderkey % 2 = 0 AS g1
             |  FROM orders),
             |perv AS (
             |  SELECT v, SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS c1v,
             |    SUM(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS c2v
             |  FROM o GROUP BY 1),
             |cum AS (
             |  SELECT v,
             |    CAST(SUM(c1v) OVER (ORDER BY v) AS BIGINT) AS c1,
             |    CAST(SUM(c2v) OVER (ORDER BY v) AS BIGINT) AS c2
             |  FROM perv),
             |tot AS (
             |  SELECT CAST(SUM(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n1,
             |    CAST(SUM(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n2
             |  FROM o)
             |SELECT tot.n1, tot.n2,
             |  MAX(abs(tot.n2 * cum.c1 - tot.n1 * cum.c2)) AS d_num,
             |  CAST(MAX(abs(tot.n2 * cum.c1 - tot.n1 * cum.c2)) AS DOUBLE) /
             |    CAST(tot.n1 * tot.n2 AS DOUBLE) AS ks_d
             |FROM cum CROSS JOIN tot
             |GROUP BY tot.n1, tot.n2""".stripMargin)),

    // Bitmask funnel — the one-aggregation funnel for when stage ORDER does
    // not matter (did the user ever hit each stage?): OR each user's stages
    // into one integer mask, then count prefix-mask coverage. At 100 TB this
    // is the funnel you actually run first: ONE shuffle, 4-byte state per
    // user, no per-stage joins (the ordered funnel in EventsQ covers the
    // sequence-sensitive case). Pure integer bit arithmetic.
    Q("events_funnel_bitmask",
      (s, dir) => {
        import s.implicits._
        val bit = when($"event_type" === "signup", 1L)
          .when($"event_type" === "view", 2L)
          .when($"event_type" === "click", 4L)
          .when($"event_type" === "purchase", 8L)
          .otherwise(0L)
        // First-3-days window: over the full month every user hits every
        // stage (n_users constant 150 at each prefix — no funnel at all);
        // the early-adoption slice has real drop-off (105/82/65/50).
        val masks = graft.Tables.events(s, dir)
          .filter($"ts" < "2024-01-04")
          .select($"user_id", bit.as("b"))
          .groupBy($"user_id").agg(expr("bit_or(b)").as("mask"))
        val stages = Seq(("signup", 1L), ("signup>view", 3L),
          ("signup>view>click", 7L), ("signup>view>click>purchase", 15L))
        val aggCols = stages.zipWithIndex.map { case ((_, pre), i) =>
          sum(when($"mask".bitwiseAND(pre) === pre, 1L).otherwise(0L))
            .as(s"s$i")
        }
        val counts = masks.agg(aggCols.head, aggCols.tail: _*)
        counts.select(explode(array(
            stages.zipWithIndex.map { case ((name, pre), i) =>
              struct(lit(name).as("stage"), lit(pre).as("mask_required"),
                col(s"s$i").as("n_users"))
            }: _*)).as("r"))
          .select($"r.stage", $"r.mask_required", $"r.n_users")
          .orderBy($"mask_required")
      },
      Some("""WITH masks AS (
             |  SELECT user_id, bit_or(CASE event_type
             |      WHEN 'signup' THEN 1 WHEN 'view' THEN 2
             |      WHEN 'click' THEN 4 WHEN 'purchase' THEN 8
             |      ELSE 0 END) AS mask
             |  FROM events WHERE ts < TIMESTAMP '2024-01-04' GROUP BY 1),
             |req AS (
             |  SELECT * FROM (VALUES
             |    ('signup', 1), ('signup>view', 3),
             |    ('signup>view>click', 7),
             |    ('signup>view>click>purchase', 15)) t(stage, mask_required))
             |SELECT req.stage, CAST(req.mask_required AS BIGINT)
             |    AS mask_required,
             |  CAST(SUM(CASE WHEN (masks.mask & req.mask_required)
             |    = req.mask_required THEN 1 ELSE 0 END) AS BIGINT) AS n_users
             |FROM req CROSS JOIN masks
             |GROUP BY 1, 2 ORDER BY mask_required""".stripMargin)),

    // Median absolute deviation — the robust scale estimate quality gates
    // prefer over stddev (one wild outlier moves stddev, not MAD). Two exact
    // interpolated-median passes (percentile semantics already aligned with
    // DuckDB's quantile_cont by agg_percentile_cont): per order-status,
    // median of |price − median|. The absolute deviations are IEEE
    // subtractions of exact inputs; the interpolation division is pinned.
    Q("agg_mad_robust",
      (s, dir) => {
        import s.implicits._
        val med = t(s, dir, "orders")
          .groupBy($"o_orderstatus")
          .agg(expr("percentile(o_totalprice, 0.5D)").as("med"))
        t(s, dir, "orders")
          .join(broadcast(med), "o_orderstatus")
          .select($"o_orderstatus", abs($"o_totalprice" - $"med").as("ad"),
            $"med")
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), min($"med").as("median_price"),
            expr("percentile(ad, 0.5D)").as("mad"))
          .orderBy($"o_orderstatus")
      },
      Some("""WITH med AS (
             |  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
             |  FROM orders GROUP BY 1),
             |ad AS (
             |  SELECT o.o_orderstatus, abs(o.o_totalprice - m.med) AS ad,
             |    m.med
             |  FROM orders o JOIN med m USING (o_orderstatus))
             |SELECT o_orderstatus, COUNT(*) AS n,
             |  MIN(med) AS median_price,
             |  quantile_cont(ad, 0.5) AS mad
             |FROM ad GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Deterministic random-walk corpus (DeepWalk/node2vec data prep): 2 walks
    // of 4 steps from every node of the nation-trade graph, each step picking
    // neighbor ⌊md5(walk_id, step)⌋ mod degree — md5 stands in for the RNG
    // (the no-RNG-state rule every sampling query follows), so the walk
    // corpus is reproducible on any engine/partitioning. Each step is one
    // equi-join against the ranked adjacency (key-partitioned — Pregel-by-
    // joins); the walk count scales the corpus linearly, never quadratically.
    Q("graph_walk_corpus",
      (s, dir) => {
        import s.implicits._
        val raw = t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1997-06-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-06-04").cast("timestamp"))
          .select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .filter($"c_nationkey" =!= $"s_nationkey")
          .select($"c_nationkey".as("x"), $"s_nationkey".as("y")).distinct()
        val edges = raw.select($"x".as("u"), $"y".as("v"))
          .unionByName(raw.select($"y".as("u"), $"x".as("v"))).distinct()
        val adj = edges
          .withColumn("idx", row_number().over(
            Window.partitionBy($"u").orderBy($"v")) - 1)
          .withColumn("deg", count(lit(1)).over(Window.partitionBy($"u")))
          .localCheckpoint()
        def pick(walkId: org.apache.spark.sql.Column, step: Int,
            deg: org.apache.spark.sql.Column) =
          conv(substring(md5(concat(walkId.cast("string"), lit("_"),
            lit(step.toString))), 1, 12), 16, 10).cast("long") % deg
        var walks = adj.select($"u".as("node")).distinct()
          .select(explode(array(lit(0), lit(1))).as("w"), $"node")
          .select(($"node" * 2 + $"w").cast("long").as("walk_id"),
            $"node".as("cur"), $"node".cast("string").as("path"))
        (1 to 4).foreach { t =>
          walks = walks.join(adj, $"cur" === $"u")
            .filter($"idx" === pick($"walk_id", t, $"deg"))
            .select($"walk_id", $"v".as("cur"),
              concat($"path", lit(">"), $"v".cast("string")).as("path"))
        }
        walks.select($"walk_id", $"path").orderBy($"walk_id")
      },
      Some {
        val step = (t: Int) =>
          s"""w$t AS (
             |  SELECT w.walk_id, a.v AS cur,
             |    w.path || '>' || CAST(a.v AS VARCHAR) AS path
             |  FROM w${t - 1} w JOIN adj a ON a.u = w.cur
             |    AND a.idx = (${QueryDSL.sqlHexInt(
                 s"md5(CAST(w.walk_id AS VARCHAR) || '_' || '$t')", 1, 12)})
                 % a.deg)""".stripMargin
        s"""WITH raw AS (
           |  SELECT DISTINCT c_nationkey AS x, s_nationkey AS y
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  WHERE c_nationkey <> s_nationkey
           |    AND l_shipdate >= TIMESTAMP '1997-06-01'
           |    AND l_shipdate <  TIMESTAMP '1997-06-04'),
           |edges AS (
           |  SELECT DISTINCT u, v FROM (
           |    SELECT x AS u, y AS v FROM raw
           |    UNION ALL SELECT y, x FROM raw)),
           |adj AS (
           |  SELECT u, v,
           |    row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx,
           |    COUNT(*) OVER (PARTITION BY u) AS deg
           |  FROM edges),
           |w0 AS (
           |  SELECT CAST(node * 2 + w AS BIGINT) AS walk_id, node AS cur,
           |    CAST(node AS VARCHAR) AS path
           |  FROM (SELECT DISTINCT u AS node FROM adj),
           |    unnest(range(0, 2)) t(w)),
           |${(1 to 4).map(step).mkString(",\n")}
           |SELECT walk_id, path FROM w4 ORDER BY walk_id""".stripMargin
      }),

    // CORPUS-GLOBAL Gini coefficient — the whole-distribution counterpart of
    // agg_gini_concentration (which is per-priority-group and can rank inside
    // parallel partitioned windows; a global Gini has no partition key, which
    // is exactly when the naive row_number collapses the corpus onto one
    // reducer). Everything stays in INTEGER CENTS:
    // prices go through DECIMAL(30,2)·100 → BIGINT (exact — no float cents),
    // the global value-rank comes from the banded two-level pattern (never a
    // single-partition sort), and G = Σ(2i−n−1)·xᵢ / (n·Σx) divides two
    // exact longs once (long→double conversion is IEEE round-to-nearest on
    // both engines). At SF ≫ 0.1 the numerator sum would move to a decimal
    // accumulator — the shape is unchanged.
    Q("agg_gini_coefficient",
      (s, dir) => {
        import s.implicits._
        // bandedRowNumber consumes its input twice (band counts + the ranked
        // join side); both read one spread exchange via ReuseExchange.
        val li = spread(t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber",
            ($"l_extendedprice".cast("decimal(30,2)") * 100)
              .cast("bigint").as("cents")), $"cents")
        val ranked = bandedRowNumber(li,
          floor($"cents" / 1000000L).cast("long"),
          Seq($"cents", $"l_orderkey", $"l_linenumber"), "i", "n")
        ranked
          .select($"cents", $"i", $"n",
            ((lit(2L) * $"i" - $"n" - 1L) * $"cents").as("term"))
          .groupBy($"n")
          .agg(sum($"cents").as("s0"), sum($"term").as("num"))
          .select($"n", $"s0",
            ($"num".cast("double") / ($"n" * $"s0").cast("double"))
              .as("gini"))
      },
      Some("""WITH li AS (
             |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100
             |      AS BIGINT) AS cents
             |  FROM lineitem),
             |ranked AS (
             |  SELECT cents,
             |    row_number() OVER (ORDER BY cents) AS i,
             |    COUNT(*) OVER () AS n
             |  FROM li)
             |SELECT ANY_VALUE(n) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS s0,
             |  CAST(CAST(SUM((2 * i - n - 1) * cents) AS BIGINT) AS DOUBLE) /
             |    CAST(ANY_VALUE(n) * SUM(cents) AS DOUBLE) AS gini
             |FROM ranked""".stripMargin)),

    // De-hyphenation repair — the PDF/OCR-extraction cleanup every document
    // pipeline runs ("exam-\nple" → "example"). The synthetic corpus has no
    // linebreaks, so a deterministic hyphen-break suffix is injected into
    // doc_id < 40 (the standard fixture-injection pattern); repair is a
    // literal replace (all occurrences on both engines — no regex flag
    // divergence), and the repair count falls out of the exact length delta.
    Q("text_dehyphenate",
      (s, dir) => {
        import s.implicits._
        val suffix = " exam-\nple hy-\nphenated line-\nbreak"
        val docs = t(s, dir, "documents")
          .select($"doc_id",
            when($"doc_id" < 40, concat($"text", lit(suffix)))
              .otherwise($"text").as("text"))
        docs
          .select($"doc_id", $"text",
            expr("replace(text, '-\n', '')").as("fixed"))
          .select($"doc_id",
            ((length($"text") - length($"fixed")) / 2).cast("long")
              .as("n_breaks"),
            length($"text").cast("long").as("len_before"),
            length($"fixed").cast("long").as("len_after"),
            md5($"fixed").as("fixed_md5"))
          .orderBy($"doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id < 40 THEN text ||
             |      ' exam-' || chr(10) || 'ple hy-' || chr(10) ||
             |      'phenated line-' || chr(10) || 'break'
             |    ELSE text END AS text
             |  FROM documents),
             |fx AS (
             |  SELECT doc_id, text,
             |    replace(text, '-' || chr(10), '') AS fixed
             |  FROM docs)
             |SELECT doc_id,
             |  CAST((length(text) - length(fixed)) // 2 AS BIGINT)
             |    AS n_breaks,
             |  CAST(length(text) AS BIGINT) AS len_before,
             |  CAST(length(fixed) AS BIGINT) AS len_after,
             |  md5(fixed) AS fixed_md5
             |FROM fx ORDER BY doc_id""".stripMargin)),

    // Content-defined chunking (the Rabin/Gear boundary rule behind every
    // storage dedup system, and the chunking that keeps near-dup detection
    // stable under insertions — a fixed-width chunker shifts every boundary
    // after an edit; a content-defined one only moves the chunk containing
    // it). Boundary rule: an 8-char windowed polynomial rolling hash
    // (base 31 mod 2³¹−1 — expressed as 8 lag terms, so it is plain windowed
    // integer arithmetic on BOTH engines, no stateful UDF) hits ≡ 0 mod 64,
    // giving ~64-char expected chunks. Chunk ids fall out of a running
    // boundary count; chunk digests come from one substring+md5 join back to
    // the doc. All windows partition by doc — parallel at any corpus size.
    Q("text_cdc_chunking",
      (s, dir) => {
        import s.implicits._
        cdcChunks(t(s, dir, "documents").filter($"doc_id" < 100)
            .select($"doc_id", $"text"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
              |$duckCdcSql
              |SELECT doc_id, chunk_id, start, len, chunk_md5
              |FROM cmd ORDER BY doc_id, chunk_id""".stripMargin)),

    // CDC-based cross-doc dedup — the point of content-defined boundaries:
    // an EDITED copy (here: the first 300 chars of each doc_id < 20, plus a
    // fresh tail, injected as doc_id+1000) still shares its leading chunks
    // with the original, because boundaries derive from content, not offsets
    // — a fixed-width chunker would align only until the first length
    // change. One shuffle on chunk_md5 finds every cross-doc shared chunk;
    // the pair fan-out is bounded by per-digest df (the same boilerplate
    // consideration as the shingle joins — a df-cap slots in at corpus
    // scale). Output: each (original, copy) pair with its shared-chunk count.
    Q("dedup_cdc_shared_chunks",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "documents").filter($"doc_id" < 100)
          .select($"doc_id", $"text")
        val edited = base.filter($"doc_id" < 20)
          .select(($"doc_id" + 1000).as("doc_id"),
            concat(expr("substring(text, 1, 300)"),
              lit(" freshly appended editorial tail")).as("text"))
        // production CDC enforces a min chunk size; the same floor here keeps
        // trivial few-char chunks from matching across unrelated docs
        val chunks = cdcChunks(base.unionByName(edited))
          .filter($"len" >= 16)
          .select($"doc_id", $"chunk_md5")
        chunks.as("a").join(chunks.as("b"),
            $"a.chunk_md5" === $"b.chunk_md5" &&
              $"a.doc_id" < $"b.doc_id")
          .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
          .agg(count(lit(1)).as("n_shared_chunks"))
          .orderBy($"doc_a", $"doc_b")
      },
      Some(s"""WITH docs AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id < 100
              |  UNION ALL
              |  SELECT doc_id + 1000,
              |    substring(text, 1, 300) || ' freshly appended editorial tail'
              |  FROM documents WHERE doc_id < 20),
              |$duckCdcSql
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  COUNT(*) AS n_shared_chunks
              |FROM cmd a JOIN cmd b ON b.chunk_md5 = a.chunk_md5
              |  AND a.doc_id < b.doc_id
              |WHERE a.len >= 16 AND b.len >= 16
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Geometric augmentation (rotate 90° cw, then mirror) — the deterministic
    // augmentation-pipeline stage, validated by the POSITION-SENSITIVE
    // weighted checksum: the composed transform is exactly the transpose
    // (rot90cw ∘ flipH : out(x,y) = in(y,x)), so the oracle's closed form is
    // the original formula with the coordinate roles swapped — any off-by-one
    // in either coordinate remap breaks wsum_r even though plain channel sums
    // are rotation-invariant. Codec-stage, partition-wise, no shuffle.
    Q("multimodal_image_augment",
      (s, dir) => {
        import s.implicits._
        Multimodal.extractFeatures(s,
            Multimodal.rotateFlip(s,
              Multimodal.syntheticImages(s,
                t(s, dir, "documents").filter($"doc_id" < 60))))
          .toDF()
          .select($"doc_id", $"width".cast("long").as("width"),
            $"height".cast("long").as("height"), $"n_px",
            $"sum_r", $"sum_g", $"sum_b", $"wsum_r")
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
             |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
             |v AS (SELECT doc_id, w, h, x, y,
             |        doc_id * 31 + x * 7 + y * 13 AS base
             |      FROM xy)
             |SELECT doc_id, ANY_VALUE(h) AS width, ANY_VALUE(w) AS height,
             |  COUNT(*) AS n_px,
             |  CAST(SUM(base % 256) AS BIGINT) AS sum_r,
             |  CAST(SUM((base + 101) % 256) AS BIGINT) AS sum_g,
             |  CAST(SUM((base + 202) % 256) AS BIGINT) AS sum_b,
             |  CAST(SUM((y + 2 * x + 1) * (base % 256)) AS BIGINT) AS wsum_r
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Multimodal dataset card — the per-modality summary a dataset release
    // ships (HuggingFace-card-style): one row per media type with record
    // count, total payload bytes, and modality-appropriate size stats, over
    // the union of the synthetic image/mixed/video/audio corpora. Each
    // corpus reduces partition-wise in its codec stage to one bounded row —
    // the whole card is four bounded aggs and a union.
    Q("multimodal_dataset_card",
      (s, dir) => {
        import s.implicits._
        val ids = t(s, dir, "documents").filter($"doc_id" < 100)
        def card(media: org.apache.spark.sql.Dataset[graft.llm.MediaRecord]) =
          media.toDF()
            .select($"media_type", length($"payload").cast("long").as("bytes"))
            .groupBy($"media_type")
            .agg(count(lit(1)).as("n_records"), sum($"bytes").as("total_bytes"),
              min($"bytes").as("min_bytes"), max($"bytes").as("max_bytes"))
        card(Multimodal.syntheticMixedImages(s, ids))
          .unionByName(card(Multimodal.syntheticVideos(s, ids)))
          .unionByName(card(Multimodal.syntheticAudio(s, ids)))
          .orderBy($"media_type")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS iw, 12 + doc_id % 5 AS ih,
             |    12 + doc_id % 6 AS vw, 10 + doc_id % 5 AS vh,
             |    3 + doc_id % 4 AS nf,
             |    800 + (doc_id % 7) * 100 AS an
             |  FROM documents WHERE doc_id < 100),
             |rec AS (
             |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
             |    ELSE 'image/x-portable-pixmap' END AS media_type,
             |    CASE WHEN doc_id % 2 = 0
             |      THEN 54 + ih * ((3 * iw + 3) // 4 * 4)
             |      -- P6 header: "P6\\n{w} {h}\\n255\\n" = 3+len(w)+1+len(h)+1+4
             |      ELSE 3 + length(CAST(iw AS VARCHAR)) + 1
             |        + length(CAST(ih AS VARCHAR)) + 1 + 4 + 3 * iw * ih
             |    END AS bytes
             |  FROM dims
             |  UNION ALL
             |  SELECT 'video/x-bmp-seq',
             |    nf * (54 + vh * ((3 * vw + 3) // 4 * 4))
             |  FROM dims
             |  UNION ALL
             |  SELECT 'audio/wav', 44 + 2 * an FROM dims)
             |SELECT media_type, COUNT(*) AS n_records,
             |  CAST(SUM(bytes) AS BIGINT) AS total_bytes,
             |  CAST(MIN(bytes) AS BIGINT) AS min_bytes,
             |  CAST(MAX(bytes) AS BIGINT) AS max_bytes
             |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Ratio-metric variance via the delta method — the experimentation-
    // platform statistic for per-user ratio metrics (value per event):
    // var(X̄/Ȳ) ≈ (1/n)·(μx/μy)²·(σx²/μx² − 2σxy/(μxμy) + σy²/μy²), with all
    // moments decimal-exact per group and the delta formula one pinned IEEE
    // expression. Complements the Welch/CUPED tests with the ratio-metric
    // case they do not cover. One shuffle per group; bounded output.
    Q("events_ratio_metric_delta",
      (s, dir) => {
        import s.implicits._
        val per = graft.Tables.events(s, dir)
          .groupBy(($"user_id" % 2 === 0).as("treated"), $"user_id")
          .agg(dsum($"value").as("x"), count(lit(1)).cast("double").as("y"))
        val m = per.groupBy($"treated")
          .agg(count(lit(1)).as("n"),
            davg($"x", 8).as("mx"), davg($"y", 8).as("my"),
            davg($"x" * $"x", 8).as("mxx"),
            davg($"y" * $"y", 8).as("myy"),
            davg($"x" * $"y", 8).as("mxy"))
        m.select($"treated", $"n", ($"mx" / $"my").as("ratio"),
            ((lit(1.0d) / $"n".cast("double")) *
              (($"mx" / $"my") * ($"mx" / $"my")) *
              ((($"mxx" - $"mx" * $"mx") / ($"mx" * $"mx")) -
                (lit(2.0d) * ($"mxy" - $"mx" * $"my") / ($"mx" * $"my")) +
                (($"myy" - $"my" * $"my") / ($"my" * $"my"))))
              .as("var_ratio"))
          .orderBy($"treated")
      },
      Some(s"""WITH per AS (
              |  SELECT user_id % 2 = 0 AS treated, user_id,
              |    ${sqlDsum("value")} AS x,
              |    CAST(COUNT(*) AS DOUBLE) AS y
              |  FROM events GROUP BY 1, 2),
              |m AS (
              |  SELECT treated, COUNT(*) AS n,
              |    ${sqlDavg("x", 8)} AS mx, ${sqlDavg("y", 8)} AS my,
              |    ${sqlDavg("x * x", 8)} AS mxx,
              |    ${sqlDavg("y * y", 8)} AS myy,
              |    ${sqlDavg("x * y", 8)} AS mxy
              |  FROM per GROUP BY 1)
              |SELECT treated, n, mx / my AS ratio,
              |  (1.0::DOUBLE / CAST(n AS DOUBLE)) *
              |    ((mx / my) * (mx / my)) *
              |    (((mxx - mx * mx) / (mx * mx)) -
              |     (2.0::DOUBLE * (mxy - mx * my) / (mx * my)) +
              |     ((myy - my * my) / (my * my))) AS var_ratio
              |FROM m ORDER BY treated""".stripMargin)),

    // Grouped OLS regression (price on quantity per return flag) — the
    // simplest trend estimator every metrics stack ships: slope from CENTERED
    // decimal-exact moments (slope = (E[xy]−E[x]E[y])/(E[x²]−E[x]²) — the
    // centered form keeps every decimal-to-double cast in the safe-grid
    // magnitude range, where the raw n·Σxy form would cross the 2⁵³ exactness
    // line at scale), intercept and R² from the same moments, one pinned IEEE
    // expression each. One shuffle; map-side partials.
    Q("agg_ols_regression",
      (s, dir) => {
        import s.implicits._
        // Decimal sums are partitioning-independent; the groupBy output is
        // 3 rows.
        val m = spread(t(s, dir, "lineitem")
          .select($"l_returnflag", $"l_quantity", $"l_extendedprice"),
          $"l_extendedprice")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            davg($"l_quantity").as("mx"),
            davg($"l_extendedprice").as("my"),
            davg($"l_quantity" * $"l_extendedprice").as("mxy"),
            davg($"l_quantity" * $"l_quantity").as("mxx"),
            // scale 4, not 8: price^2 is ~3e9, where a 1e-8 grid is finer
            // than the double ulp (the QueryDSL cast-divergence hazard);
            // 1e-4 stays coarser and the inputs carry <= 4 decimal digits
            davg($"l_extendedprice" * $"l_extendedprice").as("myy"))
        // round(9) guard: at sf0.001 the unrounded r2 diverged by one ulp
        // between engines (FMA-contraction class — same expression tree,
        // different fused rounding on one operand combination)
        m.select($"l_returnflag", $"n",
            round(($"mxy" - $"mx" * $"my") / ($"mxx" - $"mx" * $"mx"), 9)
              .as("slope"),
            round($"my" - (($"mxy" - $"mx" * $"my") /
              ($"mxx" - $"mx" * $"mx")) * $"mx", 9).as("intercept"),
            round((($"mxy" - $"mx" * $"my") * ($"mxy" - $"mx" * $"my")) /
              (($"mxx" - $"mx" * $"mx") * ($"myy" - $"my" * $"my")), 9)
              .as("r2"))
          .orderBy($"l_returnflag")
      },
      Some(s"""WITH m AS (
              |  SELECT l_returnflag, COUNT(*) AS n,
              |    ${sqlDavg("l_quantity")} AS mx,
              |    ${sqlDavg("l_extendedprice")} AS my,
              |    ${sqlDavg("l_quantity * l_extendedprice")} AS mxy,
              |    ${sqlDavg("l_quantity * l_quantity")} AS mxx,
              |    ${sqlDavg("l_extendedprice * l_extendedprice")} AS myy
              |  FROM lineitem GROUP BY 1)
              |SELECT l_returnflag, n,
              |  round((mxy - mx * my) / (mxx - mx * mx), 9) AS slope,
              |  round(my - ((mxy - mx * my) / (mxx - mx * mx)) * mx, 9)
              |    AS intercept,
              |  round(((mxy - mx * my) * (mxy - mx * my)) /
              |    ((mxx - mx * mx) * (myy - my * my)), 9) AS r2
              |FROM m ORDER BY l_returnflag""".stripMargin)),

    // Deterministic UUIDv3-style ID minting — stable document identifiers
    // from a namespace + content key (the no-RNG rule applied to ID
    // generation: re-running the pipeline mints the SAME ids, which is what
    // makes downstream joins and incremental loads reproducible). md5 of
    // 'graft:' || doc_id, formatted 8-4-4-4-12 with the version nibble forced
    // to 3 (RFC 4122 reserves version 3 for MD5 name-based UUIDs — version 5
    // would falsely advertise SHA-1) and the variant nibble to RFC-4122's
    // 10xx — pure string/bit ops, identical on both engines. Map-only.
    Q("fn_uuid3_mint",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id",
            md5(concat(lit("graft:"), $"doc_id".cast("string"))).as("h"))
          .select($"doc_id", concat_ws("-",
            substring($"h", 1, 8), substring($"h", 9, 4),
            concat(lit("3"), substring($"h", 14, 3)),
            concat(
              element_at(array(lit("8"), lit("9"), lit("a"), lit("b")),
                (conv(substring($"h", 17, 1), 16, 10).cast("int") % 4) + 1),
              substring($"h", 18, 3)),
            substring($"h", 21, 12)).as("uuid3"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH h AS (
              |  SELECT doc_id, md5('graft:' || CAST(doc_id AS VARCHAR)) AS h
              |  FROM documents)
              |SELECT doc_id,
              |  substring(h, 1, 8) || '-' || substring(h, 9, 4) || '-' ||
              |  '3' || substring(h, 14, 3) || '-' ||
              |  substring('89ab',
              |    CAST((${QueryDSL.sqlHexInt("h", 17, 1)}) % 4 AS INT) + 1, 1)
              |    || substring(h, 18, 3) || '-' ||
              |  substring(h, 21, 12) AS uuid3
              |FROM h ORDER BY doc_id""".stripMargin)),

    // CUSUM change detection (Page 1954) over each user's daily series — the
    // drift detector that catches slow level shifts the rolling z-score
    // (spike detector) misses: Sₜ = max(0, Sₜ₋₁ + (vₜ − μ)), alarm when Sₜ
    // exceeds a SELF-CALIBRATING threshold (2× the user's mean absolute
    // deviation — computed decimal-exact, so the gate is reproducible, not a
    // magic constant). The recursion runs as a typed fold per bounded user
    // series (the Holt pattern); the oracle's recursive CTE steps identical
    // IEEE arithmetic including the max(0, ·) clamp.
    Q("events_cusum_drift",
      (s, dir) => {
        import s.implicits._
        val daily = graft.Tables.events(s, dir)
          .groupBy($"user_id", date_format(date_trunc("day", $"ts"),
            "yyyy-MM-dd").as("day"))
          .agg(dsum($"value").as("v"))
        val mu = daily.groupBy($"user_id").agg(davg($"v").as("mu"))
        val madev = daily.join(mu, "user_id")
          .groupBy($"user_id")
          .agg(davg(abs($"v" - $"mu"), 6).as("madev"))
        val full = daily.join(mu, "user_id").join(madev, "user_id")
          .select($"user_id".as[Long], $"day".as[String], $"v".as[Double],
            $"mu".as[Double], $"madev".as[Double])
        full.groupByKey(_._1)
          .mapGroups { (uid, it) =>
            val rows = it.toArray.sortBy(_._2)
            val mu = rows.head._4
            val thr = 2.0d * rows.head._5
            var s = 0.0d; var sMax = 0.0d; var nAlarm = 0L
            rows.foreach { case (_, _, v, _, _) =>
              s = math.max(0.0d, s + (v - mu))
              if (s > sMax) sMax = s
              if (s > thr) nAlarm += 1
            }
            (uid, rows.length.toLong, s, sMax, nAlarm)
          }
          .toDF("user_id", "n_days", "s_final", "s_max", "n_alarms")
          .orderBy($"user_id")
      },
      Some(s"""WITH RECURSIVE daily AS (
              |  SELECT user_id, date_trunc('day', ts) AS day,
              |    ${sqlDsum("value")} AS v
              |  FROM events GROUP BY 1, 2),
              |mu AS (SELECT user_id, ${sqlDavg("v")} AS mu
              |       FROM daily GROUP BY 1),
              |madev AS (
              |  SELECT d.user_id, ${sqlDavg("abs(d.v - mu.mu)", 6)} AS madev
              |  FROM daily d JOIN mu USING (user_id) GROUP BY 1),
              |idx AS (
              |  SELECT d.user_id, d.v, mu.mu, 2.0::DOUBLE * madev.madev AS thr,
              |    row_number() OVER (PARTITION BY d.user_id ORDER BY d.day)
              |      AS rn
              |  FROM daily d JOIN mu USING (user_id)
              |  JOIN madev USING (user_id)),
              |nn AS (SELECT user_id, MAX(rn) AS n FROM idx GROUP BY 1),
              |c AS (
              |  SELECT user_id, rn, thr,
              |    GREATEST(0.0::DOUBLE, 0.0::DOUBLE + (v - mu)) AS s,
              |    GREATEST(0.0::DOUBLE, 0.0::DOUBLE + (v - mu)) AS smax,
              |    CASE WHEN GREATEST(0.0::DOUBLE, 0.0::DOUBLE + (v - mu))
              |      > thr THEN 1 ELSE 0 END AS nal
              |  FROM idx WHERE rn = 1
              |  UNION ALL
              |  SELECT c.user_id, c.rn + 1, c.thr,
              |    GREATEST(0.0::DOUBLE, c.s + (i.v - i.mu)),
              |    GREATEST(c.smax, GREATEST(0.0::DOUBLE, c.s + (i.v - i.mu))),
              |    c.nal + CASE WHEN GREATEST(0.0::DOUBLE, c.s + (i.v - i.mu))
              |      > c.thr THEN 1 ELSE 0 END
              |  FROM c JOIN idx i
              |    ON i.user_id = c.user_id AND i.rn = c.rn + 1)
              |SELECT c.user_id, CAST(nn.n AS BIGINT) AS n_days, c.s AS s_final,
              |  c.smax AS s_max, CAST(c.nal AS BIGINT) AS n_alarms
              |FROM c JOIN nn ON nn.user_id = c.user_id AND c.rn = nn.n
              |ORDER BY c.user_id""".stripMargin)),

    // Vocabulary-pruning coverage curve — what fraction of token OCCURRENCES
    // the top-K vocabulary still covers, for a ladder of K (the tokenizer-
    // sizing trade-off chart). Frequency ranks break ties lexically; coverage
    // is an integer ratio divided once. The rank frame is the vocabulary
    // (bounded), so the K-ladder cross is bounded too.
    Q("text_vocab_prune_coverage",
      (s, dir) => {
        import s.implicits._
        import graft.llm.{TextFunctions => TF}
        // banded global rank (never a single-partition window, even though
        // this particular vocabulary is small — the shape must scale)
        val freq = bandedRowNumber(
          t(s, dir, "documents")
            .select(explode(TF.tokens($"text")).as("tok"))
            .groupBy($"tok").agg(count(lit(1)).as("f")),
          (-$"f").cast("long"), Seq($"f".desc, $"tok"), "rk", "nv")
        val tot = freq.agg(sum($"f").as("total"))
        val ks = Seq(8, 16, 24)
        freq.crossJoin(broadcast(tot))
          .select(explode(array(ks.map(lit): _*)).as("k"), $"rk", $"f",
            $"total")
          .filter($"rk" <= $"k")
          .groupBy($"k".cast("long").as("k"))
          .agg(max($"total").as("total_occurrences"),
            sum($"f").as("covered"))
          .select($"k", $"total_occurrences", $"covered",
            ($"covered".cast("double") / $"total_occurrences".cast("double"))
              .as("coverage"))
          .orderBy($"k")
      },
      Some("""WITH freq AS (
             |  SELECT tok, COUNT(*) AS f FROM (
             |    SELECT unnest(list_filter(
             |      regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |      x -> x <> '')) AS tok
             |    FROM documents)
             |  GROUP BY 1),
             |rk AS (
             |  SELECT tok, f, row_number() OVER (ORDER BY f DESC, tok) AS rk
             |  FROM freq),
             |tot AS (SELECT CAST(SUM(f) AS BIGINT) AS total FROM freq)
             |SELECT CAST(k AS BIGINT) AS k,
             |  (SELECT total FROM tot) AS total_occurrences,
             |  CAST(SUM(f) AS BIGINT) AS covered,
             |  CAST(SUM(f) AS DOUBLE) /
             |    CAST((SELECT total FROM tot) AS DOUBLE) AS coverage
             |FROM rk, unnest([8, 16, 24]) t(k)
             |WHERE rk <= k GROUP BY k ORDER BY k""".stripMargin)),

    // Entity-resolution pipeline — the composed record-linkage flow (block →
    // fuzzy-score → transitively merge → canonicalize) that the individual
    // pieces (banded Jaro-Winkler, connected components) exist to serve:
    // part names blocked by first word, matched at rounded JW ≥ 0.88, merged
    // by 3 synchronous min-label propagation rounds (the bounded-round
    // contract every iterative graph query here uses), and reported as
    // canonical clusters. Match edges are per-band quadratic in DISTINCT
    // names — vocabulary-bounded, never corpus-sized.
    Q("pipeline_entity_resolution",
      (s, dir) => {
        import s.implicits._
        import graft.functions.StringSimFunctions.jaro_winkler_similarity
        val names = t(s, dir, "part").select($"p_name").distinct()
          .select($"p_name", substring_index($"p_name", " ", 1).as("band"))
        val a = names.select($"band", $"p_name".as("n1"))
        val b = names.select($"band", $"p_name".as("n2"))
        val matched = a.join(b, Seq("band"))
          .filter($"n1" =!= $"n2")
          .filter(round(jaro_winkler_similarity($"n1", $"n2"), 9) >= 0.88)
          .select($"n1", $"n2")
        val und = matched
          .unionByName(names.select($"p_name".as("n1"), $"p_name".as("n2")))
          .distinct().localCheckpoint()
        var labels = names.select($"p_name".as("node"),
          $"p_name".as("lbl"))
        (1 to 3).foreach { _ =>
          labels = und.join(labels, $"n2" === $"node")
            .groupBy($"n1").agg(min($"lbl").as("lbl"))
            .select($"n1".as("node"), $"lbl")
        }
        labels.groupBy($"lbl".as("cluster_rep"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy($"cluster_rep")
      },
      Some {
        val round_ = (k: Int) =>
          s"""l$k AS (
             |  SELECT e.n1 AS node, MIN(l.lbl) AS lbl
             |  FROM und e JOIN l${k - 1} l ON l.node = e.n2
             |  GROUP BY 1)""".stripMargin
        s"""WITH names AS (
           |  SELECT DISTINCT p_name, split_part(p_name, ' ', 1) AS band
           |  FROM part),
           |matched AS (
           |  SELECT a.p_name AS n1, b.p_name AS n2
           |  FROM names a JOIN names b ON b.band = a.band
           |    AND a.p_name <> b.p_name
           |  WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 9)
           |    >= 0.88),
           |und AS (
           |  SELECT DISTINCT n1, n2 FROM (
           |    SELECT n1, n2 FROM matched
           |    UNION ALL SELECT p_name, p_name FROM names)),
           |l0 AS (SELECT p_name AS node, p_name AS lbl FROM names),
           |${(1 to 3).map(round_).mkString(",\n")}
           |SELECT lbl AS cluster_rep, COUNT(*) AS n_members
           |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Holt forecast BACKTEST — the validation loop that makes a forecaster
    // trustworthy: train the level/trend recursion on each user's first
    // n−1 days, forecast the held-out last day, report the absolute error.
    // Same typed-fold + recursive-CTE machinery as events_holt_linear, with
    // the holdout boundary the only change; |error| is one IEEE subtraction.
    Q("events_holt_backtest",
      (s, dir) => {
        import s.implicits._
        val daily = graft.Tables.events(s, dir)
          .groupBy($"user_id", date_format(date_trunc("day", $"ts"),
            "yyyy-MM-dd").as("day"))
          .agg(dsum($"value").as("v"))
          .select($"user_id".as[Long], $"day".as[String], $"v".as[Double])
        daily.groupByKey(_._1)
          .flatMapGroups { (uid, it) =>
            val vs = it.toArray.sortBy(_._2).map(_._3)
            if (vs.length < 3) Iterator.empty
            else {
              val train = vs.dropRight(1)
              var l = train(0)
              var b = train(1) - train(0)
              var i = 1
              while (i < train.length) {
                val lNew = 0.5 * train(i) + 0.5 * (l + b)
                b = 0.3 * (lNew - l) + 0.7 * b
                l = lNew
                i += 1
              }
              val fc = l + b
              val actual = vs.last
              Iterator.single(
                (uid, vs.length.toLong, fc, actual, math.abs(fc - actual)))
            }
          }
          .toDF("user_id", "n_days", "forecast", "actual", "abs_err")
          .orderBy($"user_id")
      },
      Some("""WITH RECURSIVE daily AS (
             |  SELECT user_id, date_trunc('day', ts) AS day,
             |    CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DOUBLE) AS v
             |  FROM events GROUP BY 1, 2),
             |idx AS (
             |  SELECT user_id, v,
             |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
             |  FROM daily),
             |nn AS (SELECT user_id, MAX(rn) AS n FROM idx GROUP BY 1
             |       HAVING MAX(rn) >= 3),
             |h AS (
             |  SELECT i1.user_id, 1 AS rn, i1.v AS l, i2.v - i1.v AS b
             |  FROM idx i1 JOIN idx i2
             |    ON i2.user_id = i1.user_id AND i2.rn = 2
             |  JOIN nn ON nn.user_id = i1.user_id
             |  WHERE i1.rn = 1
             |  UNION ALL
             |  SELECT h.user_id, h.rn + 1,
             |    0.5 * i.v + 0.5 * (h.l + h.b),
             |    0.3 * ((0.5 * i.v + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
             |  FROM h JOIN nn ON nn.user_id = h.user_id
             |  JOIN idx i ON i.user_id = h.user_id AND i.rn = h.rn + 1
             |  WHERE h.rn + 1 <= nn.n - 1)
             |SELECT h.user_id, CAST(nn.n AS BIGINT) AS n_days,
             |  h.l + h.b AS forecast, a.v AS actual,
             |  abs((h.l + h.b) - a.v) AS abs_err
             |FROM h
             |JOIN nn ON nn.user_id = h.user_id AND h.rn = nn.n - 1
             |JOIN idx a ON a.user_id = h.user_id AND a.rn = nn.n
             |ORDER BY h.user_id""".stripMargin)),

    // Wilson score interval for per-event-type reach (users touching the
    // type / all users) — the binomial CI that stays sane at extreme
    // proportions, unlike the normal approximation. Counts are exact; the
    // interval is one pinned IEEE expression per side (sqrt is correctly
    // rounded per IEEE-754, so the whole formula is engine-stable; z = 1.96
    // fixed). Bounded output: one row per event type.
    Q("events_reach_wilson_ci",
      (s, dir) => {
        import s.implicits._
        // Reach measured over the first 3 days (the full month saturates:
        // k = n = 150 for every type, so p, both CI bounds — the operator
        // under test — were identical constants on every row).
        val ev = graft.Tables.events(s, dir)
        val nUsers = ev.agg(countDistinct($"user_id").as("n"))
        val reach = ev.filter($"ts" < "2024-01-04")
          .select($"event_type", $"user_id").distinct()
          .groupBy($"event_type").agg(count(lit(1)).as("k"))
        val z = 1.96d
        val z2 = z * z
        reach.crossJoin(broadcast(nUsers))
          .select($"event_type", $"k", $"n",
            ($"k".cast("double") / $"n".cast("double")).as("p"))
          .select($"event_type", $"k", $"n", $"p",
            ((($"p" + lit(z2) / (lit(2.0d) * $"n".cast("double"))) -
              (lit(z) * sqrt(($"p" * (lit(1.0d) - $"p")) /
                $"n".cast("double") +
                lit(z2) / (lit(4.0d) * $"n".cast("double") *
                  $"n".cast("double"))))) /
              (lit(1.0d) + lit(z2) / $"n".cast("double"))).as("ci_low"),
            ((($"p" + lit(z2) / (lit(2.0d) * $"n".cast("double"))) +
              (lit(z) * sqrt(($"p" * (lit(1.0d) - $"p")) /
                $"n".cast("double") +
                lit(z2) / (lit(4.0d) * $"n".cast("double") *
                  $"n".cast("double"))))) /
              (lit(1.0d) + lit(z2) / $"n".cast("double"))).as("ci_high"))
          .orderBy($"event_type")
      },
      Some(s"""WITH nu AS (
              |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
              |  FROM events),
              |reach AS (
              |  SELECT event_type, COUNT(*) AS k FROM (
              |    SELECT DISTINCT event_type, user_id FROM events
              |    WHERE ts < TIMESTAMP '2024-01-04')
              |  GROUP BY 1),
              |pr AS (
              |  SELECT event_type, k, nu.n,
              |    CAST(k AS DOUBLE) / CAST(nu.n AS DOUBLE) AS p
              |  FROM reach CROSS JOIN nu)
              |SELECT event_type, k, n, p,
              |  ((p + ${1.96 * 1.96} / (2.0::DOUBLE * CAST(n AS DOUBLE))) -
              |   (1.96::DOUBLE * sqrt((p * (1.0::DOUBLE - p)) /
              |     CAST(n AS DOUBLE) +
              |     ${1.96 * 1.96} / (4.0::DOUBLE * CAST(n AS DOUBLE) *
              |       CAST(n AS DOUBLE))))) /
              |  (1.0::DOUBLE + ${1.96 * 1.96} / CAST(n AS DOUBLE)) AS ci_low,
              |  ((p + ${1.96 * 1.96} / (2.0::DOUBLE * CAST(n AS DOUBLE))) +
              |   (1.96::DOUBLE * sqrt((p * (1.0::DOUBLE - p)) /
              |     CAST(n AS DOUBLE) +
              |     ${1.96 * 1.96} / (4.0::DOUBLE * CAST(n AS DOUBLE) *
              |       CAST(n AS DOUBLE))))) /
              |  (1.0::DOUBLE + ${1.96 * 1.96} / CAST(n AS DOUBLE)) AS ci_high
              |FROM pr ORDER BY event_type""".stripMargin)),

    // Deterministic Poisson bootstrap (the one-pass resampling used for
    // standard errors at web scale — no resample shuffles, no RNG state):
    // each (row, replicate) draws a pseudo-Poisson(1) weight by mapping an
    // md5 integer through the FIXED integer CDF thresholds
    // [3679, 7358, 9197, 9810] (the Poisson(1) pmf at 4-digit precision), so
    // every engine draws identical weights. B=16 replicate means come from
    // decimal-exact weighted sums; the bootstrap SE is the replicate-mean
    // stddev (exact moments + one IEEE sqrt). One pass over the data,
    // B-bounded state per group.
    Q("agg_poisson_bootstrap_se",
      (s, dir) => {
        import s.implicits._
        val b = 16
        // TWO md5s per row supply all 16 replicate draws (4-nibble windows,
        // 8 per digest) — hashing once per (row, replicate) was the 4 s
        // hotspot; windowing the digest is 8x less hashing for identical
        // determinism (the 16-bit-window % 10000 modulo bias is irrelevant
        // to a bootstrap and identical on both engines).
        // The md5+conv draw work is ~16 expression evaluations per order row,
        // so the projection is spread BEFORE the hashing. Weights, groups and
        // sums are partitioning-independent (decimal).
        val rows = spread(t(s, dir, "orders")
          .select($"o_orderkey", $"o_totalprice"), $"o_orderkey")
          .select($"o_orderkey", $"o_totalprice",
            md5($"o_orderkey".cast("string")).as("h1"),
            md5(concat($"o_orderkey".cast("string"), lit("x"))).as("h2"))
          .select($"o_orderkey", $"o_totalprice",
            explode(array((0 until b).map(lit): _*)).as("rep"),
            $"h1", $"h2")
          .withColumn("u",
            conv(expr("substring(if(rep < 8, h1, h2), " +
              "cast((rep % 8) * 4 + 1 as int), 4)"), 16, 10)
              .cast("long") % 10000L)
          .withColumn("w",
            when($"u" < 3679L, 0L).when($"u" < 7358L, 1L)
              .when($"u" < 9197L, 2L).when($"u" < 9810L, 3L).otherwise(4L))
        val reps = rows.groupBy($"rep")
          .agg((sum(($"o_totalprice" * $"w".cast("double"))
            .cast("decimal(30,4)")).cast("double") /
            sum($"w").cast("double")).as("rep_mean"))
        reps.agg(count(lit(1)).as("n_reps"),
            davg($"rep_mean").as("boot_mean"),
            davg($"rep_mean" * $"rep_mean", 2).as("boot_m2"))
          .select($"n_reps", $"boot_mean",
            sqrt(($"boot_m2" - $"boot_mean" * $"boot_mean") *
              ($"n_reps".cast("double") / ($"n_reps" - 1).cast("double")))
              .as("boot_se"))
      },
      Some(s"""WITH hh AS (
              |  SELECT o_orderkey, o_totalprice,
              |    md5(CAST(o_orderkey AS VARCHAR)) AS h1,
              |    md5(CAST(o_orderkey AS VARCHAR) || 'x') AS h2
              |  FROM orders),
              |win AS (
              |  SELECT o_orderkey, o_totalprice, t.rep,
              |    CASE WHEN t.rep < 8 THEN h1 ELSE h2 END AS h,
              |    CAST((t.rep % 8) * 4 + 1 AS INT) AS p
              |  FROM hh, unnest(range(0, 16)) t(rep)),
              |rows_ AS (
              |  SELECT o_orderkey, o_totalprice, rep,
              |    ((instr('0123456789abcdef', substring(h, p, 1)) - 1) * 4096
              |     + (instr('0123456789abcdef', substring(h, p + 1, 1)) - 1)
              |       * 256
              |     + (instr('0123456789abcdef', substring(h, p + 2, 1)) - 1)
              |       * 16
              |     + (instr('0123456789abcdef', substring(h, p + 3, 1)) - 1))
              |      % 10000 AS u
              |  FROM win),
              |w AS (
              |  SELECT rep, o_totalprice,
              |    CASE WHEN u < 3679 THEN 0 WHEN u < 7358 THEN 1
              |      WHEN u < 9197 THEN 2 WHEN u < 9810 THEN 3 ELSE 4 END AS w
              |  FROM rows_),
              |reps AS (
              |  SELECT rep,
              |    CAST(SUM(CAST(o_totalprice * CAST(w AS DOUBLE)
              |      AS DECIMAL(30,4))) AS DOUBLE) /
              |      CAST(SUM(w) AS DOUBLE) AS rep_mean
              |  FROM w GROUP BY 1)
              |SELECT COUNT(*) AS n_reps,
              |  ${sqlDavg("rep_mean")} AS boot_mean,
              |  sqrt((${sqlDavg("rep_mean * rep_mean", 2)} -
              |    ${sqlDavg("rep_mean")} * ${sqlDavg("rep_mean")}) *
              |    (CAST(COUNT(*) AS DOUBLE) /
              |      CAST(COUNT(*) - 1 AS DOUBLE))) AS boot_se
              |FROM reps""".stripMargin))
  )
}
