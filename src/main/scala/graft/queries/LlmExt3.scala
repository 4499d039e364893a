package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DataTypes
import graft.llm.{Multimodal, TextFunctions => TF}
import QueryDSL._

/** Fourth-wave operators, grouped by what a data team runs them for:
  *
  *  - model/selection math: interpolated Kneser-Ney bigram LM estimation
  *    (the n-gram-LM side of CCNet-style perplexity filtering), greedy
  *    k-center (Gonzalez) coreset selection, systematic importance
  *    resampling (the selection step after DSIR scoring), balanced class
  *    downsampling, first-occurrence n-gram novelty, feature-hash collision
  *    audit, IVF list-balance audit (decimal-exact assignment);
  *  - multimodal codec-stage passes: ViT-style 4×4 patch extraction, corpus
  *    normalization constants (mean/var/std per channel), pixel histograms,
  *    frame-delta shot detection, energy-delta audio fingerprints, audio SNR
  *    gating, anti-aliased 7-tap integer FIR resampling;
  *  - analytics/causal/graph: Holt linear-trend smoothing and its backtest
  *    (typed mapGroups + recursive-CTE oracles), Kaplan-Meier
  *    time-to-conversion with administrative censoring,
  *    difference-in-differences, exact Shapley attribution over the bounded
  *    touch-mask lattice, Markov stationary distribution, CUSUM drift and
  *    Shewhart control charts, sequential pattern mining, bitmask funnels,
  *    exact audience overlap, Newman modularity, degree assortativity,
  *    random-walk corpus generation, cohort LTV projection, max drawdown,
  *    Wald-Wolfowitz runs test, bot-detection heuristics;
  *  - statistics for experimentation and QA: Wilson and Beta-posterior reach
  *    intervals, power-analysis MDE, delta-method ratio variance,
  *    deterministic Poisson bootstrap SE, grouped OLS, Hodges-Lehmann,
  *    MAD, Gini (corpus-global, banded), KS and total-variation drift,
  *    log2/HdrHistogram bucketing, Neyman allocation, XYZ classification;
  *  - dedup/chunking/identifiers: content-defined chunking + CDC shared-chunk
  *    dedup, entity-resolution pipeline, de-hyphenation repair, UTF-8
  *    byte-density audit, UUIDv5 and Luhn minting, IPv4/CIDR enrichment,
  *    geohash encoding + prefix-bucketed neighbor join;
  *  - further codec-stage passes: geometric augmentation (transpose-closed
  *    form), mipmap pyramids, letterbox border detection, stereo
  *    deinterleave, dynamic-range compression, dataset cards;
  *  - SQL surface sugar: ORDER BY ALL, SELECT * EXCEPT.
  *
  * The family spans four files for size only — this one plus [[LlmExt3b]],
  * [[LlmExt3c]] and [[LlmExt3d]] (same scope, same rules; query names
  * unchanged).
  *
  * Determinism rules in force throughout: integer counts + IEEE double ops in
  * pinned parenthesization (no libm; sqrt is correctly-rounded per IEEE-754
  * and allowed), decimal-exact sums for anything order-sensitive (grid scale
  * chosen coarser than the operand ulp per the QueryDSL boundary rule),
  * integer cross-multiplied comparisons instead of float thresholds, and
  * recursive oracles (Holt, KM, Markov) stepping bit-identical arithmetic. */
object LlmExt3 {

  private val dec12 = DataTypes.createDecimalType(30, 12)

  /** Resample positions for `sample_systematic_importance` — shared by the
    * Spark side and the interpolated DuckDB oracle so the two engines can't
    * silently desynchronize on the divisor. */
  private val sysResampleM = 50

  val queries: Seq[Q] = Seq(

    // Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen & Goodman
    // 1999 eq. 4.25) with fixed discount d=0.75 — the estimator behind KenLM
    // models used for CCNet perplexity filtering:
    //   P_KN(w2|w1) = (c(w1w2) − d)/c(w1·)
    //               + (d · N1+(w1·)/c(w1·)) · (N1+(·w2)/T)
    // where N1+ are distinct-continuation counts and T the number of distinct
    // bigram types (c ≥ 1 for every observed bigram, so max(c−d,0) = c−d).
    // All inputs are exact integer aggregations; the final expression is IEEE
    // double arithmetic in a parenthesization mirrored exactly in the oracle.
    // Scale shape: bigrams come from a per-doc window (no self-join); the
    // count tables shuffle on w1/w2/bigram keys; the scalar T joins as a
    // literal-sized cross (sanctioned aggregated-frame cross). Top-50 via
    // orderBy+limit (TakeOrdered).
    Q("text_kneser_ney_bigram",
      (s, dir) => {
        import s.implicits._
        val toks = t(s, dir, "documents")
          .select($"doc_id", posexplode(TF.tokens($"text")).as(Seq("pos", "w")))
        val big = toks
          .withColumn("w2",
            lead($"w", 1).over(Window.partitionBy($"doc_id").orderBy($"pos")))
          .filter($"w2".isNotNull)
          .select($"w".as("w1"), $"w2")
        val cBg = big.groupBy($"w1", $"w2").agg(count(lit(1)).as("c_bg"))
        val cW1 = cBg.groupBy($"w1").agg(sum($"c_bg").as("c_w1"),
          count(lit(1)).as("n1_fwd"))
        val n1Bwd = cBg.groupBy($"w2").agg(count(lit(1)).as("n1_bwd"))
        val tTypes = cBg.agg(count(lit(1)).as("t_types"))
        cBg.join(cW1, "w1").join(n1Bwd, "w2").crossJoin(broadcast(tTypes))
          .select($"w1", $"w2", $"c_bg",
            ((($"c_bg".cast("double") - 0.75d) / $"c_w1".cast("double")) +
              (((lit(0.75d) * $"n1_fwd".cast("double")) /
                $"c_w1".cast("double")) *
                ($"n1_bwd".cast("double") / $"t_types".cast("double"))))
              .as("p_kn"))
          .orderBy($"c_bg".desc, $"w1", $"w2").limit(50)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(list_filter(
             |      regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |      x -> x <> '')) AS w,
             |    generate_subscripts(list_filter(
             |      regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |      x -> x <> ''), 1) AS pos
             |  FROM documents),
             |big AS (
             |  SELECT w AS w1,
             |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
             |  FROM toks QUALIFY w2 IS NOT NULL),
             |c_bg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM big GROUP BY 1, 2),
             |c_w1 AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_w1,
             |           COUNT(*) AS n1_fwd FROM c_bg GROUP BY 1),
             |n1_bwd AS (SELECT w2, COUNT(*) AS n1_bwd FROM c_bg GROUP BY 1),
             |t_types AS (SELECT COUNT(*) AS t_types FROM c_bg)
             |SELECT b.w1, b.w2, b.c_bg,
             |  ((CAST(b.c_bg AS DOUBLE) - 0.75) / CAST(c.c_w1 AS DOUBLE)) +
             |  (((0.75 * CAST(c.n1_fwd AS DOUBLE)) / CAST(c.c_w1 AS DOUBLE)) *
             |    (CAST(n.n1_bwd AS DOUBLE) / CAST(t.t_types AS DOUBLE)))
             |    AS p_kn
             |FROM c_bg b
             |JOIN c_w1 c USING (w1)
             |JOIN n1_bwd n USING (w2)
             |CROSS JOIN t_types t
             |ORDER BY b.c_bg DESC, b.w1, b.w2 LIMIT 50""".stripMargin)),

    // Greedy k-center coreset selection (Gonzalez 1985, 2-approximation to the
    // k-center objective) — the geometry-coverage data-pruning pass: start
    // from vec_id 0, repeatedly add the candidate FARTHEST from the chosen
    // set, then assign every candidate to its nearest exemplar. Distances are
    // decimal-exact sums of squared double differences, so argmax/argmin ties
    // are exact (broken by vec_id). Scale shape: each of the k−1 rounds
    // broadcasts ONE new center's 64 components and keeps a running min — n·k
    // distance evaluations total, never the oracle's all-pairs matrix; the
    // per-round driver action is a single argmax row (k−1 rows total, the
    // Lloyd-iteration pattern). k and the candidate slice are fixtures; at
    // 100 TB candidates would be a per-shard sample feeding the same loop.
    Q("sample_kcenter_coreset",
      (s, dir) => {
        import s.implicits._
        val k = 4
        // Round 16 (the r15 array-native VecL2Exact idiom, guide §4 + §2.4):
        // each round's distance pass was a posexplode + pos-join + grouped
        // decimal sum (2 exchanges × (k−1 rounds + k assignment legs) + a
        // union + window). vec_l2_exact over the double-cast arrays is
        // bit-identical to sum(((v−cv)·(v−cv)).cast(dec(30,12))) (the
        // VectorFunctionsSpec contract) with ONE double conversion at the
        // end — and distinct scale-12 decimals stay distinct (and ordered)
        // as doubles at these magnitudes, so every argmax/least/argmin
        // decision is unchanged. The assignment argmin runs as a HOF over
        // the collected k-center row (= the old ROW_NUMBER ORDER BY
        // (d2, center) pick); distances are map-only, so only the driver's
        // k−1 greedy argmax actions remain as jobs.
        import graft.functions.VectorFunctions.vec_l2_exact
        val vecs3 = t(s, dir, "embeddings").filter($"vec_id" < 300)
          .select($"vec_id",
            transform($"embedding", x => x.cast("double")).as("emb"))
        def d2To(center: Long) = {
          val cv = vecs3.filter($"vec_id" === center).select($"emb".as("cemb"))
          vecs3.crossJoin(broadcast(cv))
            .select($"vec_id", vec_l2_exact($"emb", $"cemb").as("d2"))
        }
        var centers = List(0L)
        var minD = d2To(0L)
        (1 until k).foreach { _ =>
          val next = minD.orderBy($"d2".desc, $"vec_id").head().getLong(0)
          centers = next :: centers
          minD = minD.join(d2To(next).withColumnRenamed("d2", "d2n"), "vec_id")
            .select($"vec_id", least($"d2", $"d2n").as("d2"))
        }
        val centArr = vecs3.filter($"vec_id".isInCollection(centers))
          .agg(collect_list(struct($"vec_id".as("center"), $"emb")).as("cs"))
        vecs3.crossJoin(broadcast(centArr))
          .select($"vec_id", array_min(transform($"cs", c =>
            struct(vec_l2_exact($"emb", c("emb")).as("d2"),
              c("center").as("center")))).as("b"))
          .select($"vec_id", $"b.center".as("center"),
            round($"b.d2", 9).as("d2"))
          .orderBy($"vec_id")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
             |    CAST(unnest(embedding) AS DOUBLE) AS v
             |  FROM embeddings WHERE vec_id < 300),
             |d2 AS (
             |  SELECT a.vec_id AS x, b.vec_id AS c,
             |    SUM(CAST((a.v - b.v) * (a.v - b.v) AS DECIMAL(30,12))) AS d2
             |  FROM flat a JOIN flat b ON b.pos = a.pos
             |  GROUP BY 1, 2),
             |m1 AS (SELECT x, d2 FROM d2 WHERE c = 0),
             |c1 AS (SELECT x FROM m1 ORDER BY d2 DESC, x LIMIT 1),
             |m2 AS (SELECT m1.x, LEAST(m1.d2, d.d2) AS d2
             |       FROM m1 JOIN d2 d ON d.x = m1.x
             |         AND d.c = (SELECT x FROM c1)),
             |c2 AS (SELECT x FROM m2 ORDER BY d2 DESC, x LIMIT 1),
             |m3 AS (SELECT m2.x, LEAST(m2.d2, d.d2) AS d2
             |       FROM m2 JOIN d2 d ON d.x = m2.x
             |         AND d.c = (SELECT x FROM c2)),
             |c3 AS (SELECT x FROM m3 ORDER BY d2 DESC, x LIMIT 1),
             |cents AS (
             |  SELECT 0::BIGINT AS c UNION ALL SELECT x FROM c1
             |  UNION ALL SELECT x FROM c2 UNION ALL SELECT x FROM c3),
             |ranked AS (
             |  SELECT d.x, d.c, d.d2,
             |    row_number() OVER (PARTITION BY d.x ORDER BY d.d2, d.c) AS rn
             |  FROM d2 d JOIN cents ON cents.c = d.c)
             |SELECT x AS vec_id, c AS center,
             |  round(CAST(d2 AS DOUBLE), 9) AS d2
             |FROM ranked WHERE rn = 1 ORDER BY x""".stripMargin)),

    // Philips-robust-hash-style audio fingerprint: 40-sample analysis frames,
    // one bit per successive frame pair (1 iff energy increased), packed
    // little-endian into a BIGINT — the standard energy-delta sign signature
    // that survives volume scaling (energy deltas keep their sign under gain).
    // Pure integer compares and shifts, computed from the REAL decoded frames
    // of the gated corpus; the oracle re-derives every bit from the sample
    // formula. Map-only after the per-doc window; n_bits ≤ 31 so shifts never
    // approach either engine's sign-bit divergence.
    Q("multimodal_audio_fingerprint",
      (s, dir) => {
        import s.implicits._
        val frames = Multimodal.frameEnergies(s,
          Multimodal.syntheticGatedAudio(s,
            t(s, dir, "documents").filter($"doc_id" < 100)), frameLen = 40)
          .toDF()
        frames
          .withColumn("prev", lag($"energy", 1).over(
            Window.partitionBy($"doc_id").orderBy($"frame_idx")))
          .filter($"prev".isNotNull && $"frame_idx" <= 31)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bits"),
            sum(when($"energy" > $"prev",
              expr("shiftleft(1L, cast(frame_idx - 1 as int))"))
              .otherwise(0L)).as("fp"))
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 800 + (doc_id % 7) * 100 AS n
             |  FROM documents WHERE doc_id < 100),
             |sm AS (SELECT doc_id, unnest(range(0, (n // 40) * 40)) AS i
             |       FROM dims),
             |v AS (SELECT doc_id, i // 40 AS f,
             |        CASE WHEN (i // 200) % 3 = 2
             |          THEN ((doc_id*37 + i*13) % 2048 - 1024) // 16
             |          ELSE (doc_id*37 + i*13) % 2048 - 1024 END AS s
             |      FROM sm),
             |fe AS (SELECT doc_id, f, SUM(s * s) AS e FROM v GROUP BY 1, 2),
             |de AS (SELECT doc_id, f, e,
             |         lag(e) OVER (PARTITION BY doc_id ORDER BY f) AS pe
             |       FROM fe)
             |SELECT doc_id, COUNT(*) AS n_bits,
             |  CAST(SUM(CASE WHEN e > pe
             |    THEN 1::BIGINT << CAST(f - 1 AS INT) ELSE 0 END) AS BIGINT)
             |    AS fp
             |FROM de WHERE pe IS NOT NULL AND f <= 31
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ViT-style patch extraction: decode → crop to whole 4×4 patches → per-
    // patch integer channel sums, the tokenization grid every vision
    // transformer consumes. Decode and patch reduction happen in ONE
    // partition-wise pass (no shuffle leaves the codec stage); the oracle
    // recomputes every patch from the (doc, x, y) pixel formula, so patch
    // addressing (crop bounds, row order, channel order) is hash-pinned.
    Q("multimodal_image_patches",
      (s, dir) => {
        import s.implicits._
        Multimodal.imagePatches(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)), p = 4)
          .toDF()
          .select($"doc_id", $"py".cast("long").as("py"),
            $"px".cast("long").as("px"), $"n_px",
            $"sum_r", $"sum_g", $"sum_b")
          .orderBy($"doc_id", $"py", $"px")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, h, unnest(range(0, (w // 4) * 4)) AS x
             |       FROM dims),
             |xy AS (SELECT doc_id, x, unnest(range(0, (h // 4) * 4)) AS y
             |       FROM xs),
             |v AS (SELECT doc_id, y // 4 AS py, x // 4 AS px,
             |        doc_id * 31 + x * 7 + y * 13 AS base
             |      FROM xy)
             |SELECT doc_id, py, px, COUNT(*) AS n_px,
             |  CAST(SUM(base % 256) AS BIGINT) AS sum_r,
             |  CAST(SUM((base + 101) % 256) AS BIGINT) AS sum_g,
             |  CAST(SUM((base + 202) % 256) AS BIGINT) AS sum_b
             |FROM v GROUP BY 1, 2, 3
             |ORDER BY doc_id, py, px""".stripMargin)),

    // Systematic (low-variance) importance resampling — the SELECTION step
    // after importance scoring (the resampler used by DSIR-style pipelines
    // and particle filters): m=50 evenly-spaced quantile positions
    // t_j = ⌊(2j+1)·W / 2m⌋ over the cumulative weight W, each picking the
    // document whose cumulative-weight interval contains it. Deterministic —
    // the "random" offset is pinned at the midpoint, and all positions are
    // integer arithmetic. Scale shape: the cumulative sum is the banded
    // two-level pattern (per-band sums + broadcast prefix offsets; the only
    // single-partition window runs over |bands| rows), and the 50-position
    // pick set is a bounded broadcast probed against each row's interval.
    Q("sample_systematic_importance",
      (s, dir) => {
        import s.implicits._
        val m = sysResampleM
        val docs = t(s, dir, "documents").select($"doc_id", $"n_chars".as("w"))
        val b = docs.withColumn("band", floor($"doc_id" / 64).cast("long"))
        val offs = b.groupBy($"band").agg(sum($"w").as("bw"))
          .withColumn("off", coalesce(sum($"bw").over(
            Window.orderBy($"band").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
          .select($"band".as("jb"), $"off")
        val cum = b.join(broadcast(offs), $"band" === $"jb")
          .withColumn("cum", $"off" + sum($"w").over(
            Window.partitionBy($"band").orderBy($"doc_id")))
          .select($"doc_id", $"w", ($"cum" - $"w").as("cum_prev"), $"cum")
        val tot = docs.agg(sum($"w").as("W"))
        val th = s.range(m).select($"id".as("j"))
          .crossJoin(broadcast(tot))
          .select($"j", expr(s"((2*j + 1) * W) div ${2 * m}").as("t"))
        cum.join(broadcast(th), $"cum_prev" <= $"t" && $"t" < $"cum")
          .select($"j", $"t", $"doc_id", $"w")
          .orderBy($"j")
      },
      Some(s"""WITH w AS (SELECT doc_id, n_chars AS w FROM documents),
              |cum AS (SELECT doc_id, w,
              |          CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum
              |        FROM w),
              |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS W FROM w),
              |th AS (SELECT j,
              |         ((2*j + 1) * (SELECT W FROM tot))
              |           // ${2 * sysResampleM} AS t
              |       FROM unnest(range(0, $sysResampleM)) u(j))
              |SELECT th.j, th.t, c.doc_id, c.w
              |FROM th JOIN cum c ON c.cum - c.w <= th.t AND th.t < c.cum
              |ORDER BY th.j""".stripMargin)),

    // First-occurrence n-gram novelty — the curriculum/diversity signal: what
    // fraction of a document's 3-shingles has never appeared in any earlier
    // document (corpus ordered by doc_id; "earlier" = smaller id)? One
    // shuffle on shingle computes each shingle's first-occurrence doc; docs
    // whose shingles are all inherited score 0. Integer counts + one IEEE
    // division. At 100 TB this is the same digest-keyed aggregation as exact
    // dedup — the first-occurrence table doubles as the dedup index.
    Q("text_ngram_novelty",
      (s, dir) => {
        import s.implicits._
        // `sh` feeds two consumers (first-occurrence agg + the join probe),
        // so it is persisted once, HASH-PARTITIONED BY SHINGLE: the
        // groupBy(shingle) AND both sort-merge-join sides reuse that one
        // exchange (no further shuffle of the corpus-scale frame), and the
        // result materializes eagerly so the cache can be released in the
        // shared session.
        val sh = graft.llm.Dedup.shingleFrame(
            spread(t(s, dir, "documents")), "doc_id", "text")
          .repartition(s.sparkContext.defaultParallelism, $"shingle")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val first = sh.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
        val res = sh.join(first, "shingle")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L))
              .as("n_novel"))
          .select($"doc_id", $"n_sh", $"n_novel",
            ($"n_novel".cast("double") / $"n_sh".cast("double"))
              .as("novelty"))
          .orderBy($"doc_id")
          .localCheckpoint(true)
        sh.unpersist()
        res
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, list_filter(
             |    regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |    x -> x <> '') AS tk
             |  FROM documents),
             |shing AS (
             |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
             |    THEN list_distinct(list_transform(range(1, len(tk) - 1),
             |           i -> array_to_string(tk[i:i+2], ' ')))
             |    ELSE [] END) AS shingle
             |  FROM toks),
             |first AS (
             |  SELECT shingle, MIN(doc_id) AS first_doc FROM shing GROUP BY 1)
             |SELECT s.doc_id, COUNT(*) AS n_sh,
             |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_novel,
             |  CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty
             |FROM shing s JOIN first f USING (shingle)
             |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Newman modularity of the label-propagation communities — the quality
    // score that tells you whether a community structure is real:
    // Q_c = w_in_c/2m − (d_c/2m)², summed over communities. Rebuilds the same
    // 3-day nation-trade graph and 3 LPA rounds as graph_label_propagation,
    // then scores the partition with exact integer edge weights and a pinned
    // IEEE expression. Scale shape: degree and within-community sums are
    // key-partitioned aggs; 2m joins as a sanctioned single-row scalar cross.
    Q("graph_modularity",
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
          .groupBy($"c_nationkey".as("x"), $"s_nationkey".as("y"))
          .agg(count(lit(1)).as("w"))
        val und = raw.select($"x".as("u"), $"y".as("v"), $"w")
          .unionByName(raw.select($"y".as("u"), $"x".as("v"), $"w"))
          .groupBy($"u", $"v").agg(sum($"w").as("w"))
          .localCheckpoint()
        var labels = und.select($"u".as("node")).distinct()
          .withColumn("lbl", $"node")
        for (_ <- 1 to 3) {
          labels = und.join(labels, $"v" === $"node")
            .groupBy($"u", $"lbl").agg(sum($"w").as("wsum"))
            .groupBy($"u")
            .agg(min(struct((-$"wsum").as("nw"), $"lbl".as("l"))).as("m"))
            .select($"u".as("node"), $"m.l".as("lbl"))
        }
        // ONE post-loop checkpoint (≤|V| rows): the final labels frame feeds
        // THREE consumers (deg join + both sides of the within-community
        // join) — unchecked, each consumer re-expands the full 3-round LPA
        // lineage, tripling the plan. Per-round checkpointing was measured
        // (r12) and the extra job barriers cost more than they save on this
        // bounded ≤25-node frame; one barrier captures the 3x reuse win.
        labels = labels.localCheckpoint()
        val deg = und.groupBy($"u").agg(sum($"w").as("du"))
        val m2 = und.agg(sum($"w").as("m2"))
        val ein = und
          .join(labels.select($"node".as("u"), $"lbl".as("lu")), "u")
          .join(labels.select($"node".as("v"), $"lbl".as("lv")), "v")
          .filter($"lu" === $"lv")
          .groupBy($"lu".as("lbl")).agg(sum($"w").as("w_in"))
        deg.join(labels.select($"node".as("u"), $"lbl"), "u")
          .groupBy($"lbl")
          .agg(sum($"du").as("d_c"), count(lit(1)).as("n_nodes"))
          .join(ein, Seq("lbl"), "left")
          .crossJoin(broadcast(m2))
          .select($"lbl", $"n_nodes",
            coalesce($"w_in", lit(0L)).as("w_in"), $"d_c",
            ((coalesce($"w_in", lit(0L)).cast("double") /
              $"m2".cast("double")) -
              (($"d_c".cast("double") / $"m2".cast("double")) *
                ($"d_c".cast("double") / $"m2".cast("double"))))
              .as("q_contrib"))
          .orderBy($"lbl")
      },
      Some {
        val round = (k: Int) =>
          s"""l$k AS (
             |  SELECT u AS node, lbl FROM (
             |    SELECT e.u, l.lbl,
             |      ROW_NUMBER() OVER (PARTITION BY e.u
             |        ORDER BY SUM(e.w) DESC, l.lbl) AS rn
             |    FROM und e JOIN l${k - 1} l ON l.node = e.v
             |    GROUP BY e.u, l.lbl) WHERE rn = 1)""".stripMargin
        s"""WITH raw AS (
           |  SELECT c_nationkey AS x, s_nationkey AS y, COUNT(*) AS w
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  WHERE c_nationkey <> s_nationkey
           |    AND l_shipdate >= TIMESTAMP '1997-06-01'
           |    AND l_shipdate <  TIMESTAMP '1997-06-04'
           |  GROUP BY 1, 2),
           |und AS (
           |  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
           |    SELECT x AS u, y AS v, w FROM raw
           |    UNION ALL SELECT y, x, w FROM raw)
           |  GROUP BY 1, 2),
           |l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und),
           |${(1 to 3).map(round).mkString(",\n")},
           |deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS du FROM und GROUP BY 1),
           |m2 AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM und),
           |ein AS (
           |  SELECT la.lbl, CAST(SUM(e.w) AS BIGINT) AS w_in
           |  FROM und e
           |  JOIN l3 la ON la.node = e.u
           |  JOIN l3 lb ON lb.node = e.v
           |  WHERE la.lbl = lb.lbl GROUP BY 1),
           |dc AS (
           |  SELECT l.lbl, CAST(SUM(d.du) AS BIGINT) AS d_c,
           |    COUNT(*) AS n_nodes
           |  FROM deg d JOIN l3 l ON l.node = d.u GROUP BY 1)
           |SELECT dc.lbl, dc.n_nodes,
           |  COALESCE(ein.w_in, 0) AS w_in, dc.d_c,
           |  (CAST(COALESCE(ein.w_in, 0) AS DOUBLE) /
           |    CAST(m2.m2 AS DOUBLE)) -
           |  ((CAST(dc.d_c AS DOUBLE) / CAST(m2.m2 AS DOUBLE)) *
           |    (CAST(dc.d_c AS DOUBLE) / CAST(m2.m2 AS DOUBLE))) AS q_contrib
           |FROM dc LEFT JOIN ein USING (lbl) CROSS JOIN m2
           |ORDER BY dc.lbl""".stripMargin
      }),

    // Exact audience overlap — the set-intersection statistic theta sketches
    // approximate, computed exactly: for every pair of event types, the number
    // of users who did both, plus the Jaccard overlap of the audiences. The
    // self-join keys on user_id (the natural shuffle key: at 100 TB each user
    // bucket holds that user's type set, and the pair explosion is bounded by
    // types-per-user², not corpus size). Jaccard is one IEEE division of two
    // exact integers.
    Q("agg_audience_overlap",
      (s, dir) => {
        import s.implicits._
        val tu = t(s, dir, "events")
          .select($"event_type", $"user_id").distinct()
        val sizes = tu.groupBy($"event_type").agg(count(lit(1)).as("n"))
        tu.as("a").join(tu.as("b"),
            $"a.user_id" === $"b.user_id" &&
              $"a.event_type" < $"b.event_type")
          .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
          .agg(count(lit(1)).as("n_both"))
          .join(broadcast(sizes.select($"event_type".as("type_a"),
            $"n".as("n_a"))), "type_a")
          .join(broadcast(sizes.select($"event_type".as("type_b"),
            $"n".as("n_b"))), "type_b")
          .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_both",
            ($"n_both".cast("double") /
              ($"n_a" + $"n_b" - $"n_both").cast("double")).as("jaccard"))
          .orderBy($"type_a", $"type_b")
      },
      Some("""WITH tu AS (
             |  SELECT DISTINCT event_type, user_id FROM events),
             |sizes AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY 1),
             |pairs AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    COUNT(*) AS n_both
             |  FROM tu a JOIN tu b ON b.user_id = a.user_id
             |    AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT p.type_a, p.type_b, sa.n AS n_a, sb.n AS n_b, p.n_both,
             |  CAST(p.n_both AS DOUBLE) /
             |    CAST(sa.n + sb.n - p.n_both AS DOUBLE) AS jaccard
             |FROM pairs p
             |JOIN sizes sa ON sa.event_type = p.type_a
             |JOIN sizes sb ON sb.event_type = p.type_b
             |ORDER BY p.type_a, p.type_b""".stripMargin)),

    // Holt linear-trend smoothing (double exponential smoothing, α=0.5 β=0.3)
    // over each user's daily value series — the trend-aware upgrade of the
    // finite-tap EWMA already in Analytics: level and trend update
    // recursively, so the batch implementation is a typed mapGroups (shuffle
    // by user, one ordered pass per bounded series — the batch analogue of
    // the streaming state operator), and the oracle is a recursive CTE
    // stepping the SAME IEEE arithmetic in the same order. Daily inputs go
    // through decimal-exact sums before entering the recursion, so both
    // engines recurse on identical doubles. Users need ≥ 2 days (trend init
    // b₁ = v₂ − v₁); forecast is the 1-step-ahead level + trend.
    Q("events_holt_linear",
      (s, dir) => {
        import s.implicits._
        val daily = t(s, dir, "events")
          .groupBy($"user_id", date_format(date_trunc("day", $"ts"),
            "yyyy-MM-dd").as("day"))
          .agg(dsum($"value").as("v"))
          .select($"user_id".as[Long], $"day".as[String], $"v".as[Double])
          .as[(Long, String, Double)]
        daily.groupByKey(_._1)
          .flatMapGroups { (uid, it) =>
            val vs = it.toArray.sortBy(_._2).map(_._3)
            if (vs.length < 2) Iterator.empty
            else {
              var l = vs(0)
              var b = vs(1) - vs(0)
              var i = 1
              while (i < vs.length) {
                val lNew = 0.5 * vs(i) + 0.5 * (l + b)
                b = 0.3 * (lNew - l) + 0.7 * b
                l = lNew
                i += 1
              }
              Iterator.single((uid, vs.length.toLong, l, b, l + b))
            }
          }
          .toDF("user_id", "n_days", "level", "trend", "forecast")
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
             |nn AS (SELECT user_id, MAX(rn) AS n FROM idx GROUP BY 1),
             |h AS (
             |  SELECT i1.user_id, 1 AS rn, i1.v AS l, i2.v - i1.v AS b
             |  FROM idx i1 JOIN idx i2
             |    ON i2.user_id = i1.user_id AND i2.rn = 2
             |  WHERE i1.rn = 1
             |  UNION ALL
             |  SELECT h.user_id, h.rn + 1,
             |    0.5 * i.v + 0.5 * (h.l + h.b),
             |    0.3 * ((0.5 * i.v + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
             |  FROM h JOIN idx i
             |    ON i.user_id = h.user_id AND i.rn = h.rn + 1)
             |SELECT h.user_id, CAST(nn.n AS BIGINT) AS n_days, h.l AS level,
             |  h.b AS trend, h.l + h.b AS forecast
             |FROM h JOIN nn ON nn.user_id = h.user_id AND h.rn = nn.n
             |ORDER BY h.user_id""".stripMargin)),

    // Corpus normalization constants — the per-channel mean/std every vision
    // pipeline bakes into its input transform (the "ImageNet stats" pass).
    // Decode emits per-image integer (sum, sum-of-squares) partials in the
    // codec stage; the corpus-wide reduction is a single bounded-state agg
    // (3 channels regardless of corpus size — the mergeable-partials shape).
    // mean and variance are single IEEE divisions of exact integers
    // (var = (n·Σx² − (Σx)²)/n², all < 2⁵³); std is IEEE sqrt (correctly
    // rounded by the standard, unlike libm trig — engine-stable).
    Q("multimodal_image_normalize_stats",
      (s, dir) => {
        import s.implicits._
        val cs = Multimodal.channelStats(s,
          Multimodal.syntheticImages(s,
            t(s, dir, "documents").filter($"doc_id" < 60))).toDF()
        val tot = cs.agg(sum($"n_px").as("n"),
          sum($"sum_r").as("s_r"), sum($"sq_r").as("q_r"),
          sum($"sum_g").as("s_g"), sum($"sq_g").as("q_g"),
          sum($"sum_b").as("s_b"), sum($"sq_b").as("q_b"))
        tot.select(explode(array(
            struct(lit("b").as("channel"), $"n", $"s_b".as("s"), $"q_b".as("q")),
            struct(lit("g").as("channel"), $"n", $"s_g".as("s"), $"q_g".as("q")),
            struct(lit("r").as("channel"), $"n", $"s_r".as("s"), $"q_r".as("q"))
          )).as("c"))
          .select($"c.channel".as("channel"), $"c.n".as("n_px"),
            $"c.s".as("sum_v"), $"c.q".as("sum_sq"),
            ($"c.s".cast("double") / $"c.n".cast("double")).as("mean_px"),
            ((($"c.n" * $"c.q" - $"c.s" * $"c.s").cast("double")) /
              (($"c.n" * $"c.n").cast("double"))).as("var_px"),
            sqrt((($"c.n" * $"c.q" - $"c.s" * $"c.s").cast("double")) /
              (($"c.n" * $"c.n").cast("double"))).as("std_px"))
          .orderBy($"channel")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
             |xy AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
             |px AS (SELECT doc_id * 31 + x * 7 + y * 13 AS base FROM xy),
             |vals AS (
             |  SELECT 'r' AS channel, base % 256 AS v FROM px
             |  UNION ALL SELECT 'g', (base + 101) % 256 FROM px
             |  UNION ALL SELECT 'b', (base + 202) % 256 FROM px),
             |agg AS (
             |  SELECT channel, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
             |    CAST(SUM(v * v) AS BIGINT) AS q
             |  FROM vals GROUP BY 1)
             |SELECT channel, n AS n_px, s AS sum_v, q AS sum_sq,
             |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_px,
             |  CAST(n * q - s * s AS DOUBLE) / CAST(n * n AS DOUBLE) AS var_px,
             |  sqrt(CAST(n * q - s * s AS DOUBLE) / CAST(n * n AS DOUBLE))
             |    AS std_px
             |FROM agg ORDER BY channel""".stripMargin)),

    // Degree assortativity (Newman 2002) of the nation-trade graph: Pearson
    // correlation of endpoint degrees over the directed edge list — positive
    // when hubs link hubs. All five moment sums are exact integers (degrees
    // are counts); the coefficient is one pinned IEEE expression with sqrt
    // (correctly rounded, engine-stable) and a zero-variance NULL guard.
    // Scale shape: degree table joins to the edge list on each endpoint
    // (key-partitioned), moments reduce map-side to one row.
    Q("graph_assortativity",
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
          .unionByName(raw.select($"y".as("u"), $"x".as("v")))
          .distinct()
        val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
        val m = edges
          .join(deg.select($"u", $"d".as("du")), "u")
          .join(deg.select($"u".as("v"), $"d".as("dv")), "v")
          .agg(count(lit(1)).as("m"),
            sum($"du").as("sx"), sum($"dv").as("sy"),
            sum($"du" * $"du").as("sxx"), sum($"dv" * $"dv").as("syy"),
            sum($"du" * $"dv").as("sxy"))
        m.select($"m".as("n_edges"),
            when(($"m" * $"sxx" - $"sx" * $"sx") > 0 &&
              ($"m" * $"syy" - $"sy" * $"sy") > 0,
              (($"m" * $"sxy" - $"sx" * $"sy").cast("double")) /
                (sqrt(($"m" * $"sxx" - $"sx" * $"sx").cast("double")) *
                  sqrt(($"m" * $"syy" - $"sy" * $"sy").cast("double"))))
              .as("assortativity"))
      },
      Some("""WITH raw AS (
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
             |deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY 1),
             |mm AS (
             |  SELECT COUNT(*) AS m,
             |    CAST(SUM(a.d) AS BIGINT) AS sx, CAST(SUM(b.d) AS BIGINT) AS sy,
             |    CAST(SUM(a.d * a.d) AS BIGINT) AS sxx,
             |    CAST(SUM(b.d * b.d) AS BIGINT) AS syy,
             |    CAST(SUM(a.d * b.d) AS BIGINT) AS sxy
             |  FROM edges e JOIN deg a ON a.u = e.u JOIN deg b ON b.u = e.v)
             |SELECT m AS n_edges,
             |  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
             |    THEN CAST(m * sxy - sx * sy AS DOUBLE) /
             |      (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
             |        sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
             |  END AS assortativity
             |FROM mm""".stripMargin)),

    // Frame-delta shot detection over the multi-frame (video-shaped) corpus:
    // consecutive-frame |Δsum_r| per doc, boundary wherever the delta exceeds
    // the doc's mean delta — SELF-CALIBRATING (a strict max>mean comparison
    // always fires unless every delta is equal), and the compare is
    // cross-multiplied to stay in integers (delta·n > Σdelta). The container
    // walk, per-frame decode, and windowed delta all run partitioned by doc.
    Q("multimodal_video_shot_detect",
      (s, dir) => {
        import s.implicits._
        val ff = Multimodal.frameSample(s,
            Multimodal.syntheticVideos(s,
              t(s, dir, "documents").filter($"doc_id" < 100)), everyK = 1)
          .toDF()
        val deltas = ff
          .withColumn("prev", lag($"sum_r", 1).over(
            Window.partitionBy($"doc_id").orderBy($"frame_idx")))
          .filter($"prev".isNotNull)
          .select($"doc_id", $"frame_idx", abs($"sum_r" - $"prev").as("delta"))
        val per = deltas.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_deltas"), sum($"delta").as("sum_delta"))
        deltas.join(per, "doc_id")
          .filter($"delta" * $"n_deltas" > $"sum_delta")
          .select($"doc_id", $"frame_idx".cast("long").as("boundary_frame"),
            $"delta", $"n_deltas")
          .orderBy($"doc_id", $"boundary_frame")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 12 + doc_id % 6 AS w, 10 + doc_id % 5 AS h,
             |    3 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 100),
             |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM dims),
             |xs AS (SELECT doc_id, h, f, unnest(range(0, w)) AS x FROM fr),
             |xy AS (SELECT doc_id, f, x, unnest(range(0, h)) AS y FROM xs),
             |sums AS (
             |  SELECT doc_id, f,
             |    SUM((doc_id * 31 + f * 17 + x * 7 + y * 13) % 256) AS sum_r
             |  FROM xy GROUP BY 1, 2),
             |deltas AS (
             |  SELECT doc_id, f, abs(sum_r -
             |    lag(sum_r) OVER (PARTITION BY doc_id ORDER BY f)) AS delta
             |  FROM sums QUALIFY delta IS NOT NULL),
             |per AS (
             |  SELECT doc_id, COUNT(*) AS n_deltas,
             |    CAST(SUM(delta) AS BIGINT) AS sum_delta
             |  FROM deltas GROUP BY 1)
             |SELECT d.doc_id, d.f AS boundary_frame,
             |  CAST(d.delta AS BIGINT) AS delta, p.n_deltas
             |FROM deltas d JOIN per p USING (doc_id)
             |WHERE d.delta * p.n_deltas > p.sum_delta
             |ORDER BY d.doc_id, d.f""".stripMargin)),

    // Difference-in-differences — the workhorse causal estimate next to the
    // Welch/CUPED tests already in EventsQ: treated = even user_ids (fixture
    // split), post = on/after the series midpoint (2024-01-16), outcome =
    // group mean value. All four cell means are decimal-exact sums divided
    // once (IEEE), and the DiD double-difference is a pinned expression.
    // One shuffle (4-cell groupBy with map-side partials), then a scalar
    // pivot — bounded state at any scale.
    Q("events_did_estimate",
      (s, dir) => {
        import s.implicits._
        val cells = t(s, dir, "events")
          .select(($"user_id" % 2 === 0).as("treated"),
            ($"ts" >= lit("2024-01-16").cast("timestamp")).as("post"),
            $"value")
          .groupBy($"treated", $"post")
          .agg(davg($"value").as("mean_v"), count(lit(1)).as("n"))
        cells.agg(
            max(when($"treated" && !$"post", $"mean_v")).as("t_pre"),
            max(when($"treated" && $"post", $"mean_v")).as("t_post"),
            max(when(!$"treated" && !$"post", $"mean_v")).as("c_pre"),
            max(when(!$"treated" && $"post", $"mean_v")).as("c_post"),
            sum($"n").as("n_events"))
          .select($"n_events", $"t_pre", $"t_post", $"c_pre", $"c_post",
            (($"t_post" - $"t_pre") - ($"c_post" - $"c_pre")).as("did"))
      },
      Some(s"""WITH cells AS (
              |  SELECT user_id % 2 = 0 AS treated,
              |    ts >= TIMESTAMP '2024-01-16' AS post,
              |    ${sqlDavg("value")} AS mean_v, COUNT(*) AS n
              |  FROM events GROUP BY 1, 2)
              |SELECT CAST(SUM(n) AS BIGINT) AS n_events,
              |  MAX(CASE WHEN treated AND NOT post THEN mean_v END) AS t_pre,
              |  MAX(CASE WHEN treated AND post THEN mean_v END) AS t_post,
              |  MAX(CASE WHEN NOT treated AND NOT post THEN mean_v END)
              |    AS c_pre,
              |  MAX(CASE WHEN NOT treated AND post THEN mean_v END) AS c_post,
              |  (MAX(CASE WHEN treated AND post THEN mean_v END) -
              |   MAX(CASE WHEN treated AND NOT post THEN mean_v END)) -
              |  (MAX(CASE WHEN NOT treated AND post THEN mean_v END) -
              |   MAX(CASE WHEN NOT treated AND NOT post THEN mean_v END))
              |    AS did
              |FROM cells""".stripMargin)),

    // IVF list-balance audit — the production health check for a coarse-
    // quantized ANN index (one hot list and probe latency collapses to
    // brute force on it). Assignment here is DECIMAL-EXACT (score
    // ‖c‖² − 2⟨v,c⟩ via vec_dot_exact, ties to the lower list id), so unlike
    // the float-dot ivf search rows (rows-only by design) the audit itself is
    // hash-checked. The 16-entry centroid set is a bounded broadcast; load
    // factor is one IEEE division per list.
    Q("embed_ivf_balance",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vec_dot_exact
        // The 16 centroids collapse to ONE collected row and the argmin runs
        // as a HOF inside each corpus row (array_min over (score, list_id)
        // structs = min(struct(score, list_id)) — identical struct ordering,
        // ties to the lower list id) on the spread (vec_id, embedding)
        // projection. n_total derives from the 16-row grouped frame
        // (Σ n_vecs — every vector is assigned exactly once) instead of a
        // second corpus pass.
        val vecs = t(s, dir, "embeddings")
        val cents = vecs.filter($"vec_id" < 16)
          .select($"vec_id".cast("int").as("list_id"),
            $"embedding".as("cent"))
          .withColumn("cself", vec_dot_exact($"cent", $"cent"))
        val cb = cents
          .agg(collect_list(struct($"list_id", $"cent", $"cself")).as("cbs"))
        val assigned = spread(vecs.select($"vec_id", $"embedding"), $"vec_id")
          .crossJoin(broadcast(cb))
          .select($"vec_id",
            array_min(transform($"cbs", c =>
              struct((c("cself") - lit(2.0d) *
                vec_dot_exact($"embedding", c("cent"))).as("score"),
                c("list_id").as("list_id"))))
              .getField("list_id").as("list_id"))
        val counts = assigned.groupBy($"list_id")
          .agg(count(lit(1)).as("n_vecs"))
        // n_total = Σ n_vecs (every vector is assigned exactly once); the
        // scalar derives from the 16-row grouped frame, whose exchange both
        // consumers share (ReuseExchange — identical subtree), not from a
        // second corpus pass over `assigned`.
        val tot = counts.agg(sum($"n_vecs").as("n_total"))
        counts.crossJoin(broadcast(tot))
          .select($"list_id", $"n_vecs",
            (($"n_vecs" * 16).cast("double") / $"n_total".cast("double"))
              .as("load_factor"))
          .orderBy($"list_id")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |cb AS (SELECT vec_id AS list_id, pos, v AS cval FROM flat
             |       WHERE vec_id < 16),
             |cself AS (
             |  SELECT list_id,
             |    CAST(SUM(CAST(cval * cval AS DECIMAL(30,12))) AS DOUBLE) AS cs
             |  FROM cb GROUP BY 1),
             |dots AS (
             |  SELECT f.vec_id, c.list_id,
             |    CAST(SUM(CAST(f.v * c.cval AS DECIMAL(30,12))) AS DOUBLE)
             |      AS dot
             |  FROM flat f JOIN cb c ON c.pos = f.pos GROUP BY 1, 2),
             |assigned AS (
             |  SELECT vec_id, CAST(list_id AS INT) AS list_id FROM (
             |    SELECT d.vec_id, d.list_id,
             |      ROW_NUMBER() OVER (PARTITION BY d.vec_id
             |        ORDER BY cs - 2.0 * dot, d.list_id) AS rn
             |    FROM dots d JOIN cself USING (list_id)) x
             |  WHERE rn = 1),
             |tot AS (SELECT COUNT(*) AS n_total FROM assigned)
             |SELECT list_id, COUNT(*) AS n_vecs,
             |  CAST(COUNT(*) * 16 AS DOUBLE) /
             |    CAST((SELECT n_total FROM tot) AS DOUBLE) AS load_factor
             |FROM assigned GROUP BY 1 ORDER BY 1""".stripMargin)),

  )
}
