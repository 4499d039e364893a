package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QueryDSL._

/** Scale-infrastructure operators: the techniques that keep a 100 TB pipeline fast —
  * bloom runtime filters ahead of selective joins, mergeable distinct sketches,
  * one-pass column profiling, deterministic weighted sampling, range-clustered data
  * layout, cohort rollups, banded fuzzy dedup — each expressed as a declarative plan
  * and hash-checked against DuckDB (sketch estimates excepted, rows-only).
  */
object Scale {

  /** DuckDB: integer value of the first 6 hex nibbles of md5(doc_id) — the oracle
    * mirror of Spark's `conv(substring(md5(x),1,6),16,10)`. DuckDB has no hex-string
    * to integer cast, so the nibbles are summed positionally. */
  private def duckHex6(x: String): String =
    (1 to 6).map { i =>
      val place = math.pow(16, 6 - i).toLong
      s"(instr('0123456789abcdef', substring(md5($x), $i, 1)) - 1) * ${place}"
    }.mkString("(", " + ", ")")

  val queries: Seq[Q] = Seq(

    // Bloom runtime-filter semi-join: the dim side (customers with acctbal > 9000,
    // ~10% selective) is collapsed to ONE binary bloom value via an uncorrelated
    // scalar subquery; `might_contain` prunes fact rows at the scan, BEFORE the
    // shuffle; the exact LEFT SEMI join then scrubs bloom false positives, so the
    // result is exactly the semi-join. This is Catalyst's InjectRuntimeFilter shape,
    // written out declaratively (SketchFunctions registers the internal expressions).
    // At 100 TB the shuffle carries only the ~10% of orders that might match.
    Q("join_bloom_prefilter",
      (s, dir) => {
        graft.functions.SketchFunctions.register(s)
        graft.Tables.registerAll(s, dir)
        s.sql(s"""WITH rich AS (
                 |  SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
                 |probe AS (
                 |  SELECT o_custkey, o_totalprice, o_orderpriority FROM orders
                 |  WHERE graft_might_contain(
                 |    (SELECT graft_bloom_agg(xxhash64(c_custkey),
                 |            CAST(4000 AS BIGINT), CAST(65536 AS BIGINT)) FROM rich),
                 |    xxhash64(o_custkey)))
                 |SELECT o_orderpriority, COUNT(*) AS n_orders,
                 |  ${sqlDsum("o_totalprice")} AS sum_price
                 |FROM probe LEFT SEMI JOIN rich ON probe.o_custkey = rich.c_custkey
                 |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              |  ${sqlDsum("o_totalprice")} AS sum_price
              |FROM orders o
              |WHERE EXISTS (SELECT 1 FROM customer c
              |              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9000)
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Mergeable distinct-count sketches (Apache DataSketches HLL, built into Spark):
    // per-source sketches union into a corpus-wide estimate WITHOUT re-scanning —
    // the map-side partials are the sketch itself, so at 100 TB the shuffle carries
    // one ~KB buffer per source per partition. Rows-only (estimates are
    // approximate; BASELINE.md keeps approximate ops out of the hash gate).
    Q("approx_hll_mergeable",
      (s, dir) => {
        graft.Tables.registerAll(s, dir)
        s.sql("""WITH sk AS (
                |  SELECT source, hll_sketch_agg(doc_id, 12) AS sk,
                |         COUNT(DISTINCT doc_id) AS exact_nd
                |  FROM documents GROUP BY source)
                |SELECT source, hll_sketch_estimate(sk) AS approx_nd, exact_nd FROM sk
                |UNION ALL
                |SELECT 'ALL', hll_sketch_estimate(hll_union_agg(sk)),
                |       SUM(exact_nd) FROM sk
                |ORDER BY source""".stripMargin)
      },
      None),

    // Mergeable QUANTILE sketches (custom TypedImperativeAggregate over the
    // DataSketches KLL sketch in Spark's own jars — graft.functions.KllSketchAgg):
    // per-group p50/p90/p99 from a few-KB bounded-error summary, plus the 'ALL'
    // row folded from the PER-GROUP SKETCHES via kll_merge_agg — the store-daily-
    // artifacts / roll-up-on-demand pattern for percentiles, which Spark's
    // percentile_approx cannot do (its summaries aren't exposed or mergeable).
    // Approximate ⇒ BENCH/rows-only, like the HLL twin above.
    Q("approx_kll_quantiles",
      (s, dir) => {
        graft.functions.KllFunctions.register(s)
        graft.Tables.registerAll(s, dir)
        s.sql("""WITH sk AS (
                |  SELECT l_returnflag AS grp,
                |    kll_sketch_agg(CAST(l_extendedprice AS DOUBLE)) AS sk,
                |    COUNT(*) AS n
                |  FROM lineitem GROUP BY 1)
                |SELECT grp, kll_quantile(sk, 0.5D) AS p50,
                |  kll_quantile(sk, 0.9D) AS p90, kll_quantile(sk, 0.99D) AS p99, n
                |FROM sk
                |UNION ALL
                |SELECT 'ALL', kll_quantile(kll_merge_agg(sk), 0.5D),
                |  kll_quantile(kll_merge_agg(sk), 0.9D),
                |  kll_quantile(kll_merge_agg(sk), 0.99D), SUM(n)
                |FROM sk
                |ORDER BY grp""".stripMargin)
      },
      None),

    // One-pass column profiler (data-quality stats collection): row count, null
    // count, distinct count, min/max for four columns in a SINGLE aggregation over
    // the table, unpivoted to one row per column with `inline`. The multi-distinct
    // Expand is the exact-profile cost; the 100 TB variant swaps countDistinct for
    // approx_count_distinct / hll (see approx_hll_mergeable) with the same shape.
    Q("profile_columns",
      (s, dir) => {
        import s.implicits._
        // Unpivot to the (column, value) grain FIRST, then profile with a
        // two-level aggregate: level 1 collapses to per-(column, value) counts
        // (map-side combinable — the shuffle carries distinct values, not
        // rows), level 2 reads every statistic off that collapsed frame
        // (n_distinct = surviving non-null value rows). No multi-countDistinct
        // in one aggregate — that plans as a |columns|-way Expand multiplying
        // every input row, the profiler anti-pattern at 100 TB.
        val up = t(s, dir, "orders").selectExpr(
          """stack(4,
            |  'o_custkey', CAST(NULL AS STRING), CAST(o_custkey AS DOUBLE),
            |  'o_orderpriority', o_orderpriority, CAST(NULL AS DOUBLE),
            |  'o_orderstatus', o_orderstatus, CAST(NULL AS DOUBLE),
            |  'o_totalprice', CAST(NULL AS STRING), o_totalprice)
            |  AS (col, vs, vn)""".stripMargin)
        up.groupBy($"col", $"vs", $"vn").agg(count(lit(1)).as("c"))
          .groupBy($"col")
          .agg(sum($"c").cast("bigint").as("n_rows"),
            sum(when($"vs".isNull && $"vn".isNull, $"c").otherwise(0L))
              .cast("bigint").as("n_null"),
            count(when($"vs".isNotNull || $"vn".isNotNull, lit(1)))
              .as("n_distinct"),
            min($"vs").as("min_str"), max($"vs").as("max_str"),
            min($"vn").as("min_num"), max($"vn").as("max_num"))
          .select($"col".as("column"), $"n_rows", $"n_null", $"n_distinct",
            $"min_str", $"max_str", $"min_num", $"max_num")
          .orderBy($"column")
      },
      Some("""WITH n AS (SELECT COUNT(*) AS n_rows FROM orders)
             |SELECT 'o_custkey' AS "column", n_rows,
             |  n_rows - COUNT(o_custkey) AS n_null,
             |  COUNT(DISTINCT o_custkey) AS n_distinct,
             |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
             |  CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
             |  CAST(MAX(o_custkey) AS DOUBLE) AS max_num
             |FROM orders, n GROUP BY n_rows
             |UNION ALL
             |SELECT 'o_orderpriority', n_rows, n_rows - COUNT(o_orderpriority),
             |  COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority),
             |  MAX(o_orderpriority), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
             |FROM orders, n GROUP BY n_rows
             |UNION ALL
             |SELECT 'o_orderstatus', n_rows, n_rows - COUNT(o_orderstatus),
             |  COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus),
             |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
             |FROM orders, n GROUP BY n_rows
             |UNION ALL
             |SELECT 'o_totalprice', n_rows, n_rows - COUNT(o_totalprice),
             |  COUNT(DISTINCT o_totalprice), CAST(NULL AS VARCHAR),
             |  CAST(NULL AS VARCHAR), MIN(o_totalprice), MAX(o_totalprice)
             |FROM orders, n GROUP BY n_rows
             |ORDER BY "column"""".stripMargin)),

    // Deterministic weighted sampling (Efraimidis–Spirakis A-ES top-k): weight each
    // document by n_chars, draw its uniform from md5(doc_id) (no RNG — reproducible
    // across engines, retries, and partitionings), keep the k smallest -ln(u)/w
    // keys. Spark's TakeOrderedAndProject computes the top-k per partition and
    // merges k rows per partition — no global sort, no single reducer.
    Q("sample_weighted_topk",
      (s, dir) => {
        import s.implicits._
        val u = (conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("double") + lit(1.0)) / lit(16777217.0)
        val top = t(s, dir, "documents")
          .select($"doc_id", $"n_chars", (-log(u) / $"n_chars").as("k"))
          .orderBy($"k", $"doc_id").limit(50)
        top.select(
            row_number().over(Window.orderBy($"k", $"doc_id")).as("rank"),
            $"doc_id", $"n_chars")
          .orderBy($"rank")
      },
      Some(s"""WITH k AS (
              |  SELECT doc_id, n_chars,
              |    -ln((${duckHex6("CAST(doc_id AS VARCHAR)")} + 1.0) / 16777217.0)
              |      / n_chars AS k
              |  FROM documents),
              |top AS (SELECT * FROM k ORDER BY k, doc_id LIMIT 50)
              |SELECT row_number() OVER (ORDER BY k, doc_id) AS rank, doc_id, n_chars
              |FROM top ORDER BY rank""".stripMargin)),

    // Range-clustered data layout: repartitionByRange + sortWithinPartitions writes
    // parquet where each file covers a disjoint o_orderdate range, so a date filter
    // on read prunes to ~1/8 of files via row-group min/max stats (the poor man's
    // Z-order; at 100 TB this layout is the difference between scanning a year and
    // scanning everything). The read-back aggregate hash-matches the unclustered
    // oracle — layout never changes semantics.
    Q("sorted_layout_scan",
      (s, dir) => {
        import s.implicits._
        val out = s"${Sinks.scratchDir}/orders_range_clustered"
        t(s, dir, "orders")
          .repartitionByRange(8, $"o_orderdate")
          .sortWithinPartitions($"o_orderdate", $"o_orderkey")
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .filter($"o_orderdate".between("1997-01-01", "1997-12-31"))
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .orderBy($"o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
              |  ${sqlDsum("o_totalprice")} AS sum_price
              |FROM orders
              |WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
              |                      AND TIMESTAMP '1997-12-31 00:00:00'
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Cohort retention rollup: users bucketed by first-seen day, activity counted
    // per (cohort, day offset). Two key-partitioned shuffles (per-user min, then the
    // cohort×offset rollup) — the standard product-analytics shape, no window over
    // the global stream.
    Q("events_cohort_retention",
      (s, dir) => {
        import s.implicits._
        val e = graft.Tables.events(s, dir)
          .select($"user_id", to_date($"ts").as("d"))
        val cohorts = e.groupBy($"user_id").agg(min($"d").as("cohort"))
        e.join(cohorts, "user_id")
          .groupBy($"cohort", datediff($"d", $"cohort").as("offset_days"))
          .agg(countDistinct($"user_id").as("n_users"))
          .orderBy($"cohort", $"offset_days")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
             |f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id)
             |SELECT cohort, date_diff('day', cohort, d) AS offset_days,
             |  COUNT(DISTINCT e.user_id) AS n_users
             |FROM e JOIN f ON e.user_id = f.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Banded fuzzy (edit-distance) near-dup: candidate pairs come from an EQUI-join
    // on an 8-char lowercase prefix band (hash-partitioned, no all-pairs scan);
    // Levenshtein runs only within bands, on a bounded 120-char head. Prefix banding
    // is the cheap recall heuristic for templated/boilerplate duplicates; MinHash
    // (dedup_minhash_lsh) covers reordered text.
    Q("dedup_fuzzy_edit",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents").select(
          $"doc_id", substring(lower($"text"), 1, 8).as("band"),
          substring($"text", 1, 120).as("head"))
        // Boilerplate guard (part of the operator's semantics, mirrored in the
        // oracle): a band shared by > 64 documents is template/boilerplate text, and
        // its quadratic pair set would dominate the join at corpus scale — the same
        // df-cap rule the shared-shingle edge builder uses (ConnectedComponents).
        //
        // Round 16 (guide §2.4 remove shuffles; the copurchase/basket/pmi
        // in-row idiom): the band self-join shuffled the (band, id, head)
        // frame TWICE plus a separate count aggregation for the cap, and the
        // join's probe-side DP work ran in the 1-row-group scan stage
        // (census: one 1.75 s single-task stage). ONE groupBy(band) now
        // collects each band's ≤64 members and expands pairs as a nested HOF
        // inside the row. Equivalence: size(ms) = COUNT(*) per band (struct
        // of non-null fields is never null, so collect_list drops nothing),
        // so the ≤64 cap keeps exactly okBands; per member a, every member b
        // with a.doc_id < b.doc_id yields the join's id_a < id_b pair
        // multiset (order-independent of collect_list ordering); the
        // length-delta prune and thresholded levenshtein are the same
        // per-pair expressions, now evaluated band-parallel after the
        // exchange instead of single-threaded in the scan stage.
        val pairs = d.groupBy($"band")
          .agg(collect_list(struct($"doc_id", $"head")).as("ms"))
          .filter(size($"ms") <= 64)
          .select(explode(expr(
            """flatten(transform(ms, a ->
              |  transform(filter(ms, b -> b.doc_id > a.doc_id AND
              |      abs(length(b.head) - length(a.head)) <= 30),
              |    b -> struct(a.doc_id AS id_a, b.doc_id AS id_b,
              |      levenshtein(a.head, b.head, 30) AS edit_dist))))"""
              .stripMargin)).as("p"))
        pairs
          .select($"p.id_a".as("id_a"), $"p.id_b".as("id_b"),
            $"p.edit_dist".as("edit_dist"))
          .filter($"edit_dist" >= 0)
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH d AS (SELECT doc_id, substring(lower(text), 1, 8) AS band,
             |                  substring(text, 1, 120) AS head FROM documents),
             |ok AS (SELECT band FROM d GROUP BY band HAVING COUNT(*) <= 64),
             |c AS (SELECT d.* FROM d JOIN ok ON d.band = ok.band)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  levenshtein(a.head, b.head) AS edit_dist
             |FROM c a JOIN c b ON a.band = b.band AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.head, b.head) <= 30
             |ORDER BY 1, 2""".stripMargin)),

    // Custom Catalyst Generator (UDTF surface beyond explode): shingle_gen streams
    // (pos, shingle) rows without materializing the per-document shingle array —
    // peak memory per input row is O(shingle width), not O(document length), which
    // is what survives heavy-tailed web documents at 100 TB. Registered per-session
    // (ShingleGen.register), invoked through LATERAL VIEW.
    Q("fn_shingle_generator",
      (s, dir) => {
        graft.functions.ShingleGen.register(s)
        graft.Tables.documents(s, dir).createOrReplaceTempView("docs_sg")
        s.sql("""WITH d AS (
                |  SELECT doc_id,
                |    filter(split(lower(text), '[^\\p{L}\\p{N}]+'), t -> t <> '') AS tk
                |  FROM docs_sg WHERE doc_id < 50)
                |SELECT doc_id, pos, shingle
                |FROM d LATERAL VIEW shingle_gen(tk, 3) g AS pos, shingle
                |ORDER BY doc_id, pos""".stripMargin)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |                x -> x <> '') AS tk
             |  FROM documents WHERE doc_id < 50),
             |l AS (
             |  SELECT doc_id,
             |    range(1, CASE WHEN len(tk) >= 3 THEN len(tk) - 1 ELSE 1 END) AS idx,
             |    tk FROM toks)
             |SELECT doc_id, unnest(list_transform(idx, i -> i - 1)) AS pos,
             |  unnest(list_transform(idx, i -> array_to_string(tk[i:i+2], ' ')))
             |    AS shingle
             |FROM l ORDER BY doc_id, pos""".stripMargin)),

    // regexp_extract_all as a table-valued extraction primitive (entity/pattern
    // mining): all ≥8-letter words per document, with positional access and a joined
    // preview. Map-only, stays in whole-stage codegen. try_element_at (not
    // element_at) — ANSI mode makes out-of-bounds element_at an error, DuckDB
    // list[1] on an empty list is NULL.
    Q("fn_regexp_extract_all",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").filter($"doc_id" < 100)
          .select($"doc_id",
            regexp_extract_all(lower($"text"), lit("[a-z]{8,}"), lit(0)).as("words"))
          .select($"doc_id",
            size($"words").as("n_long"),
            coalesce(try_element_at($"words", lit(1)), lit("")).as("first_long"),
            array_join(slice($"words", 1, 3), "|").as("first3"))
          .orderBy($"doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
             |  regexp_extract_all(lower(text), '[a-z]{8,}') AS words
             |  FROM documents WHERE doc_id < 100)
             |SELECT doc_id, len(words) AS n_long,
             |  COALESCE(words[1], '') AS first_long,
             |  COALESCE(array_to_string(words[1:3], '|'), '') AS first3
             |FROM w ORDER BY doc_id""".stripMargin)),

    // Mergeable EXACT distinct counts via fixed-width bitmaps (Spark 3.5+ bitmap_*
    // family): each (group, bucket) collapses to one 4 KB bitmap whose bits mark the
    // custkeys seen; per-group counts sum bitmap_count over buckets, and the
    // corpus-wide distinct count comes from bitmap_or_agg over the SAME partials —
    // no second scan of orders. This is the exact counterpart of the HLL row
    // (approx_hll_mergeable): rollups across arbitrary group combinations reuse one
    // materialized sketch table, the pattern that makes daily→monthly→all-time
    // distinct-user rollups O(sketches), not O(events), at 100 TB.
    Q("agg_bitmap_distinct",
      (s, dir) => {
        graft.Tables.registerAll(s, dir)
        // materialize the partials ONCE (a WITH would inline into both consumers
        // and re-scan the fact twice) — this small table of (group, bucket, 4 KB
        // bitmap) rows IS the reusable sketch artifact downstream rollups fold
        s.sql("""SELECT o_orderpriority AS pri,
                |       bitmap_bucket_number(o_custkey) AS bkt,
                |       bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS b
                |FROM orders GROUP BY 1, 2""".stripMargin)
          .localCheckpoint()
          .createOrReplaceTempView("bitmap_partials")
        s.sql(s"""SELECT pri, CAST(SUM(bitmap_count(b)) AS BIGINT) AS n_cust
                 |FROM bitmap_partials GROUP BY pri
                 |UNION ALL
                 |SELECT 'ALL', CAST(SUM(c) AS BIGINT) FROM (
                 |  SELECT bitmap_count(bitmap_or_agg(b)) AS c
                 |  FROM bitmap_partials GROUP BY bkt)
                 |ORDER BY pri""".stripMargin)
      },
      Some("""SELECT o_orderpriority AS pri,
             |  COUNT(DISTINCT o_custkey) AS n_cust
             |FROM orders GROUP BY 1
             |UNION ALL
             |SELECT 'ALL', COUNT(DISTINCT o_custkey) FROM orders
             |ORDER BY pri""".stripMargin)),

    // Two-level skew-safe aggregation: when one group key carries a hot share of a
    // 100 TB fact (l_returnflag has 3 values — every row lands on 3 reducers in a
    // naive plan), aggregate FIRST on (key, salt) so the hot key's rows spread over
    // 32 reducers, THEN collapse the 32 partials per key (decimal sums re-aggregate
    // exactly). count distinct gets the same treatment with the value itself as the
    // spreader: distinct (key, suppkey) pairs hash-partition by pair, then a count
    // per key — no reducer ever sees more than one group's pair set. Catalyst's
    // map-side partial aggregation already bounds sum/count skew; the explicit salt
    // stage is the pattern that also covers collect/distinct aggregates where
    // partials cannot collapse.
    Q("agg_skew_twolevel",
      (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val partial = li
          .groupBy($"l_returnflag",
            pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(32)).as("salt"))
          .agg(sum($"l_quantity".cast("decimal(30,4)")).as("p_qty"),
            count(lit(1)).as("p_n"))
        val sums = partial.groupBy($"l_returnflag")
          .agg(sum($"p_qty").cast("double").as("sum_qty"),
            sum($"p_n").cast("long").as("n_rows"))
        val dist = li.select($"l_returnflag", $"l_suppkey").distinct()
          .groupBy($"l_returnflag").agg(count(lit(1)).as("n_supp"))
        sums.join(dist, "l_returnflag").orderBy($"l_returnflag")
      },
      Some(s"""SELECT l_returnflag, ${sqlDsum("l_quantity")} AS sum_qty,
              |  COUNT(*) AS n_rows, COUNT(DISTINCT l_suppkey) AS n_supp
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Z-order (Morton-curve) clustered layout: interleave the bits of TWO dimensions
    // (custkey, order day) into one z-value — pure bitwise Column expressions, fully
    // codegen'd — and range-partition + sort the write by it. Each parquet row group
    // then covers a small rectangle in (custkey, date) space, so a predicate on
    // EITHER dimension (or both, as here) prunes via row-group min/max stats.
    // sorted_layout_scan is the 1-D special case; Morton interleaving is what keeps
    // multi-tenant 100 TB scans selective on more than one access path at once.
    // Layout never changes semantics: the read-back aggregate hash-matches an oracle
    // that scans the unclustered table.
    Q("zorder_layout_scan",
      (s, dir) => {
        import s.implicits._
        def interleave16(x: org.apache.spark.sql.Column,
            y: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
            acc.bitwiseOR(shiftleft(x.bitwiseAND(lit(1L << i)), i))
              .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << i)), i + 1))
          }
        val out = s"${Sinks.scratchDir}/orders_zorder"
        t(s, dir, "orders")
          .withColumn("z", interleave16($"o_custkey",
            datediff($"o_orderdate", lit("1995-01-01")).cast("long")))
          .repartitionByRange(16, $"z")
          .sortWithinPartitions($"z")
          .drop("z")
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .filter($"o_custkey".between(100, 500) &&
            $"o_orderdate".between("1996-01-01", "1996-12-31"))
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .orderBy($"o_orderpriority")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
              |  ${sqlDsum("o_totalprice")} AS sum_price
              |FROM orders
              |WHERE o_custkey BETWEEN 100 AND 500
              |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
              |                      AND TIMESTAMP '1996-12-31 00:00:00'
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Incremental aggregate maintenance: materialize per-day PARTIAL aggregates
    // (count + exact decimal sum — both mergeable), then answer the monthly rollup
    // from the partials alone, never rescanning the fact. This is the incremental-
    // view pattern: at 100 TB a day's late-arriving partition updates one day-row
    // and every downstream rollup folds partials, so refresh cost is O(days), not
    // O(events). Decimal sums make the two-level fold bit-identical to the direct
    // single-pass oracle.
    Q("agg_incremental_merge",
      (s, dir) => {
        import s.implicits._
        val out = s"${Sinks.scratchDir}/orders_daily_partials"
        t(s, dir, "orders")
          .groupBy(to_date($"o_orderdate").as("day"))
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(30,4)")).as("s"))
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          .groupBy(trunc($"day", "month").as("month"))
          .agg(sum($"n").cast("long").as("n_orders"),
            sum($"s").cast("double").as("sum_price"))
          .orderBy($"month")
      },
      Some(s"""SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
              |    AS month,
              |  COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS sum_price
              |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PageRank, 5 synchronous iterations over the customer-nation → supplier-nation
    // trade graph (edge weight = lineitem count). Each iteration is ONE
    // key-partitioned join + grouped sum — the Pregel shape in plain DataFrames; no
    // driver-side state, ranks never leave the cluster. Per-edge contributions are
    // computed in double (deterministic IEEE ops on identical inputs) but SUMMED in
    // decimal, so the reduction is associative and partitioning-independent — the
    // property that lets the same plan run on 32 threads or 1000 executors and
    // hash-match an unrolled DuckDB oracle bit-for-bit. Complements
    // dedup_cluster_cc (iterate-to-convergence) with fixed-point-free weighted
    // iteration.
    Q("graph_pagerank",
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
        // Round 15: the 5 join+groupBy rounds over the ≤625-row edge frame
        // fold into ONE single-row expression (graft.ops.PowerFold — decimal
        // sums order-free, empty inflow = decimal zero = the old
        // coalesce(NULL, 0)); the corpus-scale edge rollup above is
        // unchanged. Replaces 15 tiny exchanges + 2 checkpoint barriers.
        val row = graft.ops.PowerFold.edgeRow(ew)
        row.select(explode(zip_with($"nodes",
            graft.ops.PowerFold.ranks($"es", $"nodes",
              transform($"nodes", _ => lit(1.0d)),
              transform($"nodes", _ => lit(0.15d)), 0.85, 5),
            (n, r) => struct(n.as("node"), r.as("pr")))).as("z"))
          .select($"z.node".as("node"), $"z.pr".as("pr"))
          .orderBy($"node")
      },
      Some {
        val iter = (k: Int) =>
          s"""r$k AS (SELECT n.node,
             |  0.15 + 0.85 * COALESCE(i.inflow, 0.0) AS pr
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
           |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
           |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS pr FROM n),
           |${(1 to 5).map(iter).mkString(",\n")}
           |SELECT node, pr FROM r5 ORDER BY node""".stripMargin
      }),

    // Data-quality constraint gate (the validate-before-run discipline of the spec
    // layer, applied to DATA): primary-key uniqueness, referential integrity,
    // not-null, and range rules each reduce to one count — a grouped distinct, an
    // anti-join, two pushed-down filter scans — and the gate is their tiny union.
    // At 100 TB each rule is a single pruned columnar pass (no row ever leaves the
    // executors), and a pipeline aborts on `passed = false` before any downstream
    // stage runs, the same fail-fast hoisting Job.execute applies to parameters.
    Q("dq_constraint_check",
      (s, dir) => {
        import s.implicits._
        // The gate runs against a frame with INJECTED deterministic corruption
        // (3 dangling foreign keys, 1 negative price) so it demonstrably
        // catches violations: on the clean table every rule reports 0/passed —
        // a report that stays green even if the checks were no-ops. pk and
        // not-null stay clean, so both verdicts appear.
        val o = t(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        val badFk = o.filter($"o_orderkey" < 3)
          .select(($"o_orderkey" + 10000000L).as("o_orderkey"),
            ($"o_custkey" + 10000000L).as("o_custkey"), $"o_totalprice")
        val badRng = o.filter($"o_orderkey" === 4)
          .select(($"o_orderkey" + 20000000L).as("o_orderkey"),
            $"o_custkey", lit(-1.0).as("o_totalprice"))
        val data = o.unionByName(badFk).unionByName(badRng)
        val c = t(s, dir, "customer")
        val pk = data.agg((count(lit(1)) - countDistinct($"o_orderkey")).as("n_violations"))
          .select(lit("pk_unique_o_orderkey").as("rule"), $"n_violations")
        val fk = data.join(c, $"o_custkey" === $"c_custkey", "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("fk_orders_customer").as("rule"), $"n_violations")
        val nn = data.filter($"o_totalprice".isNull)
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("not_null_o_totalprice").as("rule"), $"n_violations")
        val rng = data.filter($"o_totalprice" <= 0.0)
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("range_o_totalprice_pos").as("rule"), $"n_violations")
        pk.union(fk).union(nn).union(rng)
          .withColumn("passed", $"n_violations" === 0L)
          .orderBy($"rule")
      },
      Some("""WITH data AS (
             |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |  UNION ALL
             |  SELECT o_orderkey + 10000000, o_custkey + 10000000, o_totalprice
             |  FROM orders WHERE o_orderkey < 3
             |  UNION ALL
             |  SELECT o_orderkey + 20000000, o_custkey, -1.0
             |  FROM orders WHERE o_orderkey = 4)
             |SELECT rule, n_violations, n_violations = 0 AS passed FROM (
             |  SELECT 'pk_unique_o_orderkey' AS rule,
             |    COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations FROM data
             |  UNION ALL
             |  SELECT 'fk_orders_customer', COUNT(*) FROM data o
             |  WHERE NOT EXISTS (SELECT 1 FROM customer c
             |                    WHERE c.c_custkey = o.o_custkey)
             |  UNION ALL
             |  SELECT 'not_null_o_totalprice', COUNT(*) FROM data
             |  WHERE o_totalprice IS NULL
             |  UNION ALL
             |  SELECT 'range_o_totalprice_pos', COUNT(*) FROM data
             |  WHERE o_totalprice <= 0)
             |ORDER BY rule""".stripMargin)),

    // Dynamic partition pruning: the fact is laid out partitioned by l_returnflag;
    // joining it to a dim filtered on a NON-key column ("returned") lets Spark prune
    // fact partitions at RUNTIME from the dim's build side (the plan carries
    // `dynamicpruningexpression` on the scan). Distinct from partitioned_write_scan,
    // whose pruning predicate is static. At 100 TB this is the difference between
    // scanning one partition and scanning the whole fact when the selective filter
    // lives on the dimension, not the fact.
    Q("scan_dpp_prune",
      (s, dir) => {
        import s.implicits._
        val out = Sinks.scoped(dir, "dpp_lineitem")
        if (!new java.io.File(s"$out/_SUCCESS").exists()) {
          t(s, dir, "lineitem")
            .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        }
        // The dim must be a FILE scan, not a LocalRelation: Catalyst constant-folds
        // Filter(LocalRelation) into a bare LocalRelation, and with no surviving
        // selective predicate the PartitionPruning rule declines to inject the
        // dynamic filter.
        val dimPath = s"${Sinks.scratchDir}/dpp_flagdim"
        if (!new java.io.File(s"$dimPath/_SUCCESS").exists()) {
          Seq(("A", "available"), ("N", "new"), ("R", "returned"))
            .toDF("flag", "label").coalesce(1)
            .write.mode("overwrite").parquet(dimPath)
        }
        val fact = s.read.parquet(out)
        val dim = s.read.parquet(dimPath)
        fact.join(broadcast(dim.filter($"label" === "returned")),
            $"l_returnflag" === $"flag")
          .groupBy($"l_linestatus")
          .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("total"))
          .orderBy($"l_linestatus")
      },
      Some(s"""SELECT l_linestatus, COUNT(*) AS n,
              |  ${sqlDsum("l_extendedprice")} AS total
              |FROM lineitem WHERE l_returnflag = 'R'
              |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    // k-anonymity audit (privacy gate for training-data release): group the
    // quasi-identifier tuple (nation, market segment) and surface equivalence
    // classes smaller than k=8 — the rows a release would have to generalize or
    // suppress. One hash aggregation at any scale; the violating set is tiny by
    // construction, so the gate's output never strains the driver-side decision.
    Q("dq_k_anonymity",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .groupBy($"c_nationkey", $"c_mktsegment")
          .agg(count(lit(1)).as("class_size"))
          .filter($"class_size" < 8L)
          .orderBy($"c_nationkey", $"c_mktsegment")
      },
      Some("""SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
             |FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 8
             |ORDER BY 1, 2""".stripMargin)),

    // Feature standardization (z-score scaling for model inputs): two-pass — exact
    // per-group moments (decimal inputs, decimal products, per agg_stats_exact's
    // boundary rule), then a BROADCAST join back onto the fact (the moment table is
    // |groups| rows) so the normalize pass is map-side, no second fact shuffle. The
    // mean/std/z chain is the same exactly-rounded double sequence in both engines.
    Q("feat_standardize",
      (s, dir) => {
        import s.implicits._
        val xd = ($"l_quantity" - 25.0d).cast("decimal(18,2)")
        val li = t(s, dir, "lineitem")
        val moments = li.groupBy($"l_returnflag".as("mf"))
          .agg(count(lit(1)).as("n"),
            sum(xd).cast("double").as("sx"),
            sum(xd * xd).cast("double").as("sxx"))
          .select($"mf",
            ($"sx" / $"n" + 25.0d).as("mean_qty"),
            sqrt(($"sxx" - $"sx" * $"sx" / $"n") / $"n").as("std_qty"))
        li.filter($"l_orderkey" <= 2000)
          .join(broadcast(moments), $"l_returnflag" === $"mf")
          .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
            $"l_quantity",
            (($"l_quantity" - $"mean_qty") / $"std_qty").as("qty_z"))
          // (orderkey, linenumber) is NOT unique in this synthetic data — order by
          // every output column so ties are exact-duplicate rows (hash-immune)
          .orderBy($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_quantity")
      },
      Some("""WITH m AS (
             |  SELECT l_returnflag AS mf, COUNT(*) AS n,
             |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_quantity - 25.0 AS DECIMAL(18,2)) *
             |             CAST(l_quantity - 25.0 AS DECIMAL(18,2))) AS DOUBLE) AS sxx
             |  FROM lineitem GROUP BY 1),
             |s AS (
             |  SELECT mf, sx / n + 25.0 AS mean_qty,
             |    sqrt((sxx - sx * sx / n) / n) AS std_qty
             |  FROM m)
             |SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
             |  (l_quantity - mean_qty) / std_qty AS qty_z
             |FROM lineitem JOIN s ON l_returnflag = mf
             |WHERE l_orderkey <= 2000
             |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin)),

    // Small-files compaction: the silent 100 TB killer — a table fragmented into
    // tiny files pays per-file open/footer cost on every scan and floods the driver
    // with splits. The compaction pass is ONE repartition write (shuffle sized by
    // target file count, here 4); the gate proves the rewrite is lossless (count +
    // exact sum) and actually compacted (distinct input_file_name() = 4). Fixture:
    // the source is deliberately shattered into 64 files.
    Q("compact_small_files",
      (s, dir) => {
        import s.implicits._
        val src = Sinks.scoped(dir, "smallfiles_src")
        if (!new java.io.File(s"$src/_SUCCESS").exists()) {
          t(s, dir, "documents").select($"doc_id", $"n_chars")
            .repartition(64).write.mode("overwrite").parquet(src)
        }
        val out = Sinks.scoped(dir, "smallfiles_compacted")
        s.read.parquet(src).repartition(4)
          .write.mode("overwrite").parquet(out)
        s.read.parquet(out)
          // nondeterministic exprs may not sit INSIDE an aggregate — project first
          .select($"n_chars", input_file_name().as("f"))
          .agg(count(lit(1)).as("n_rows"),
            sum($"n_chars").cast("long").as("sum_chars"),
            countDistinct($"f").as("n_files"))
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(4 AS BIGINT) AS n_files
             |FROM documents""".stripMargin)),

    // Deterministic corpus permutation + sharding (training-data prep: the corpus
    // must be "shuffled" so each shard is an unbiased sample, yet reproducibly —
    // retries and backfills must produce byte-identical shards). Shard = md5(doc_id)
    // mod 8: a cryptographic permutation needs no RNG state, and any subset of
    // shards is a uniform sample. One hash-partition shuffle writes all shards in
    // parallel (partitionBy directory layout + maxRecordsPerFile bounds file
    // sizes); the read-back rollup proves the assignment round-trips losslessly.
    Q("shard_shuffle_write",
      (s, dir) => {
        import s.implicits._
        val out = s"${Sinks.scratchDir}/doc_shards"
        val sh = pmod(
          conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10).cast("long"),
          lit(8L))
        t(s, dir, "documents")
          .select($"doc_id", $"n_chars", sh.as("shard"))
          .repartition(8, $"shard")
          .write.mode("overwrite")
          .option("maxRecordsPerFile", 100000)
          .partitionBy("shard").parquet(out)
        s.read.parquet(out)
          .groupBy($"shard".cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").cast("long").as("sum_chars"),
            min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
          .orderBy($"shard")
      },
      Some(s"""WITH a AS (
              |  SELECT doc_id, n_chars,
              |    ${duckHex6("CAST(doc_id AS VARCHAR)")} % 8 AS shard
              |  FROM documents)
              |SELECT shard, COUNT(*) AS n_docs,
              |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
              |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
              |FROM a GROUP BY shard ORDER BY shard""".stripMargin)),

    // Frequent-items via a mergeable Misra-Gries sketch (native
    // TypedImperativeAggregate, graft.functions.MisraGriesAgg) + EXACT
    // verification: the sketch pass produces a ≤k candidate set (bounded-memory
    // partials, associative merges), and only candidate rows enter the exact
    // count pass (broadcast semi-filter) — so the expensive exact aggregation
    // never materializes the full key space. Deterministic despite merge-order-
    // dependent candidates: every term with true share ≥ 1/30 is GUARANTEED in a
    // 60-counter summary (MG bound: freq > n/61), and the output thresholds on
    // exact counts (integer cross-multiply — no division at the boundary).
    Q("agg_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        import graft.functions.MisraGriesFunctions.mg_topk_candidates
        val terms = t(s, dir, "documents")
          .select(explode(graft.llm.TextFunctions.tokens($"text")).as("term"))
        val cands = terms
          .agg(mg_topk_candidates($"term", 60).as("cands"))
          .select(explode($"cands").as("term"))
        val total = terms.agg(count(lit(1)).as("total"))
        terms.join(broadcast(cands), Seq("term"), "left_semi")
          .groupBy($"term").agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .filter($"cnt" * 30 >= $"total")
          .select($"term", $"cnt", ($"cnt" * lit(1.0) / $"total").as("share"))
          .orderBy($"term")
      },
      Some("""WITH terms AS (
             |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |         x -> x <> '')) AS term
             |  FROM documents),
             |c AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM terms)
             |SELECT term, cnt, cnt * 1.0 / total AS share
             |FROM c CROSS JOIN tot
             |WHERE cnt * 30 >= total ORDER BY term""".stripMargin)),

    // Distributed global row-id assignment — zipWithIndex without a single-
    // partition window: (1) bucket rows by a fixed key range (the deterministic
    // stand-in for sampled range-partition boundaries), (2) count per bucket and
    // prefix-sum the offsets on the TINY bucket frame, (3) rank within each
    // bucket in parallel and add the broadcast offset. The only global sort ever
    // materialized is over #buckets rows; the classic "row_number() OVER ()" —
    // which moves the whole table through one reducer — never happens.
    Q("scan_global_row_ids",
      (s, dir) => {
        import s.implicits._
        val keyed = t(s, dir, "orders")
          .select($"o_orderkey", floor($"o_orderkey" / 2000).cast("long").as("bucket"))
        val offsets = keyed.groupBy($"bucket").agg(count(lit(1)).as("cnt"))
          .withColumn("offset",
            coalesce(sum($"cnt").over(
              Window.orderBy($"bucket")
                .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"bucket", $"offset")
        keyed.join(broadcast(offsets), Seq("bucket"))
          .select($"o_orderkey",
            ($"offset" +
              row_number().over(
                Window.partitionBy($"bucket").orderBy($"o_orderkey")).cast("long")
              - lit(1L)).as("row_id"))
          .orderBy($"o_orderkey")
      },
      Some("""WITH keyed AS (
             |  SELECT o_orderkey,
             |    CAST(floor(o_orderkey / 2000) AS BIGINT) AS bucket
             |  FROM orders),
             |offs AS (
             |  SELECT bucket,
             |    COALESCE(SUM(cnt) OVER (ORDER BY bucket
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset
             |  FROM (SELECT bucket, count(*) AS cnt FROM keyed GROUP BY bucket))
             |SELECT k.o_orderkey,
             |  CAST(o.offset + row_number() OVER (PARTITION BY k.bucket
             |    ORDER BY k.o_orderkey) - 1 AS BIGINT) AS row_id
             |FROM keyed k JOIN offs o ON k.bucket = o.bucket
             |ORDER BY k.o_orderkey""".stripMargin)),

    // l-diversity audit — the companion of the k-anonymity gate: for each
    // quasi-identifier equivalence class, how many DISTINCT sensitive values
    // (account-balance band) does it contain? Classes with low l leak the
    // sensitive attribute even when k-anonymous. One grouped pass; the sensitive
    // band uses an exact integer floor so the class boundary is engine-exact.
    Q("dq_l_diversity",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .groupBy($"c_nationkey", $"c_mktsegment")
          .agg(count(lit(1)).as("class_size"),
            countDistinct(floor($"c_acctbal" / 1000.0).cast("long")).as("l_distinct"))
          .withColumn("diverse_ok", $"l_distinct" >= 3)
          .orderBy($"c_nationkey", $"c_mktsegment")
      },
      Some("""SELECT c_nationkey, c_mktsegment,
             |  count(*) AS class_size,
             |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) AS l_distinct,
             |  count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) >= 3
             |    AS diverse_ok
             |FROM customer GROUP BY c_nationkey, c_mktsegment
             |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // Privacy-style noise injection with SEEDED reproducible noise: per-day event
    // counts perturbed by approximate-Gaussian noise built as an Irwin-Hall sum
    // of 12 md5-derived uniforms — pure arithmetic (no transcendental inverse
    // CDF), so the noisy values are bit-reproducible across engines and reruns,
    // which is what makes a privacy perturbation auditable. Map-side combine on
    // the day key; the 12 hashes are per GROUP, not per row.
    Q("agg_noise_injection",
      (s, dir) => {
        import s.implicits._
        val dayStr = date_format($"day", "yyyy-MM-dd")
        val us = (1 to 12).map { i =>
          (conv(substring(md5(concat(dayStr, lit(s":$i"))), 1, 6), 16, 10)
            .cast("double") + lit(1.0)) / lit(16777217.0)
        }
        val noise = us.reduceLeft(_ + _) - lit(6.0)
        graft.Tables(s, dir, "events")
          .groupBy(date_trunc("day", $"ts").as("day"))
          .agg(count(lit(1)).as("n"))
          .select($"day", $"n",
            round($"n" + noise * lit(5.0), 6).as("n_noisy"))
          .orderBy($"day")
      },
      Some {
        val us = (1 to 12).map { i =>
          s"((${duckHex6(s"strftime(day, '%Y-%m-%d') || ':$i'")}) + 1.0) / 16777217.0"
        }
        val noise = us.reduceLeft((a, b) => s"($a + $b)")
        s"""WITH d AS (
           |  SELECT date_trunc('day', ts) AS day, count(*) AS n
           |  FROM events GROUP BY 1)
           |SELECT day, n,
           |  round(n + ($noise - 6.0) * 5.0, 6) AS n_noisy
           |FROM d ORDER BY day""".stripMargin
      }),

    // Bucketed table checksums (anti-entropy replica compare): each side reduces
    // to |buckets| order-independent digest SUMS — comparing two 100 TB replicas
    // then costs one scan per side plus a |buckets|-row join, and a mismatched
    // bucket pinpoints where to drill (the dq_table_diff full diff runs only on
    // the flagged bucket). Digest sums accumulate in DECIMAL(38,0) so they cannot
    // overflow at any row count; the row rendering pins formats (decimal string,
    // yyyy-MM-dd) so both engines hash identical bytes. Replica B carries one
    // deliberately corrupted row — exactly one bucket flags.
    Q("dq_table_checksum_buckets",
      (s, dir) => {
        import s.implicits._
        def digestOf(price: org.apache.spark.sql.Column) =
          conv(substring(md5(concat_ws("|",
            $"o_orderkey".cast("string"), $"o_orderstatus",
            price.cast("decimal(18,2)").cast("string"),
            date_format($"o_orderdate", "yyyy-MM-dd"))), 1, 12), 16, 10)
            .cast("decimal(38,0)")
        // Both replicas read the same physical rows here, so ONE scan
        // computes both digest sums per bucket — the inner join on identical
        // bucket sets is exactly the shared groupBy, and n_b equals n_a
        // row-for-row by construction. The per-row double-md5 work runs on
        // the spread projection (digest sums are partitioning-independent).
        // At 100 TB with REAL separate replicas the two-scan shape comes back
        // by construction — this fusion is valid precisely because both
        // sides name one table.
        spread(t(s, dir, "orders")
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
            $"o_orderdate"), $"o_orderkey")
          .groupBy(pmod($"o_orderkey", lit(16)).as("bucket"))
          .agg(sum(digestOf($"o_totalprice")).as("sum_a"),
            count(lit(1)).as("n_a"),
            sum(digestOf(
              when($"o_orderkey" === 42, $"o_totalprice" + 1.0)
                .otherwise($"o_totalprice"))).as("sum_b"),
            count(lit(1)).as("n_b"))
          .select($"bucket", $"n_a", $"n_b",
            ($"sum_a" === $"sum_b" && $"n_a" === $"n_b").as("matches"))
          .orderBy($"bucket")
      },
      Some {
        def digest(price: String) = QueryDSL.sqlHexInt(
          s"md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' || " +
            s"CAST(CAST($price AS DECIMAL(18,2)) AS VARCHAR) || '|' || " +
            "strftime(o_orderdate, '%Y-%m-%d'))", 1, 12)
        s"""WITH a AS (
           |  SELECT o_orderkey % 16 AS bucket,
           |    SUM(CAST(${digest("o_totalprice")} AS DECIMAL(38,0))) AS sum_a,
           |    count(*) AS n_a
           |  FROM orders GROUP BY 1),
           |b AS (
           |  SELECT o_orderkey % 16 AS bucket,
           |    SUM(CAST(${digest(
            "CASE WHEN o_orderkey = 42 THEN o_totalprice + 1.0 ELSE o_totalprice END")}
           |      AS DECIMAL(38,0))) AS sum_b,
           |    count(*) AS n_b
           |  FROM orders GROUP BY 1)
           |SELECT a.bucket, n_a, n_b,
           |  (sum_a = sum_b AND n_a = n_b) AS matches
           |FROM a JOIN b ON a.bucket = b.bucket
           |ORDER BY a.bucket""".stripMargin
      }),

    // Snapshot versioning / time travel (lakehouse-lite): immutable version
    // directories plus a tiny JSON manifest mapping version → path; reading
    // "@v1" resolves ONE manifest row (bounded driver read, like the IVF seed
    // fetch) and scans only that snapshot's files. This is the mechanism behind
    // table-format time travel, reduced to its scalable core: the data of old
    // versions is never rewritten, and version resolution never touches data.
    Q("table_time_travel",
      (s, dir) => {
        import s.implicits._
        val base = Sinks.scoped(dir, "tt_orders")
        t(s, dir, "orders")
          .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
          .write.mode("overwrite").parquet(s"$base/v1")
        t(s, dir, "orders").write.mode("overwrite").parquet(s"$base/v2")
        Seq((1L, s"$base/v1"), (2L, s"$base/v2")).toDF("version", "path")
          .coalesce(1).write.mode("overwrite").json(s"$base/_manifest")
        val v1Path = s.read.json(s"$base/_manifest")
          .filter($"version" === 1).select($"path").head().getString(0)
        s.read.parquet(v1Path)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .orderBy($"o_orderstatus")
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n,
              |  ${sqlDsum("o_totalprice")} AS sum_price
              |FROM orders
              |WHERE o_orderdate < TIMESTAMP '1998-01-01'
              |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Data-freshness SLA monitor: per-source last-event lag against the global
    // horizon, in exact integer minutes (µs arithmetic — no fractional-epoch
    // divergence), with the breach flag computed on the integer. One rollup plus
    // a window over the |sources| frame.
    Q("dq_freshness_sla",
      (s, dir) => {
        import s.implicits._
        val per = graft.Tables(s, dir, "events")
          .groupBy($"event_type")
          .agg(max(unix_micros($"ts")).as("last_us"), count(lit(1)).as("n_events"))
        per
          .withColumn("horizon_us",
            max($"last_us").over(Window.partitionBy()))
          .select($"event_type", $"n_events",
            timestamp_micros($"last_us").as("last_event"),
            floor(($"horizon_us" - $"last_us") / 60000000L).cast("long")
              .as("lag_minutes"))
          // SLA threshold sits INSIDE the observed lag spread (18-33 min at
          // sf0.01), so the breach flag carries both values; at 120 every
          // source was trivially fresh and the flag was a constant.
          .withColumn("fresh_ok", $"lag_minutes" <= 30)
          .orderBy($"event_type")
      },
      Some("""WITH per AS (
             |  SELECT event_type, MAX(epoch_us(ts)) AS last_us,
             |    COUNT(*) AS n_events
             |  FROM events GROUP BY event_type),
             |h AS (SELECT per.*, MAX(last_us) OVER () AS horizon_us FROM per)
             |SELECT event_type, n_events,
             |  make_timestamp(last_us) AS last_event,
             |  CAST(floor((horizon_us - last_us) / 60000000) AS BIGINT) AS lag_minutes,
             |  CAST(floor((horizon_us - last_us) / 60000000) AS BIGINT) <= 30
             |    AS fresh_ok
             |FROM h ORDER BY event_type""".stripMargin))
  )
}
