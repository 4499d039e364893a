package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.{Similarity, TextFunctions => TF}
import QueryDSL._

/** Third-wave LLM-data-pipeline operators, part 3 (split from LlmExt2 for
  * file-size hygiene — same contract, registration names unchanged):
  * multimodal keyframe selection, binary-sign Hamming search, perceptual-hash
  * image dedup, the MinHash-LSH precision/recall audit, tokenizer fertility,
  * and the end-to-end `pipeline_pretrain_funnel` composition. */
object LlmExt2c {

  val queries: Seq[Q] = Seq(

    // Keyframe selection over multi-frame (video-shaped) payloads: decode every
    // frame (real container walk + BMP decode), score each by red-channel mass,
    // keep the argmax frame per video (ties to the earliest frame) — the
    // thumbnail/representative-frame pick every video ingestion pipeline runs.
    // One grouped argmax after the map-only decode pass; the oracle recomputes
    // frame scores from the pixel formula with no decoder.
    Q("multimodal_keyframe_select",
      (s, dir) => {
        import s.implicits._
        val ff = graft.llm.Multimodal.frameSample(s,
            graft.llm.Multimodal.syntheticVideos(s,
              t(s, dir, "documents").filter($"doc_id" < 100)), everyK = 1)
          .toDF()
        ff.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_frames"),
            min(struct((-$"sum_r").as("ns"), $"frame_idx".as("fi"))).as("m"))
          .select($"doc_id", $"n_frames",
            $"m.fi".cast("long").as("keyframe_idx"),
            (-$"m.ns").as("keyframe_sum_r"))
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 12 + doc_id % 6 AS w, 10 + doc_id % 5 AS h,
             |         3 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 100),
             |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM dims),
             |xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x FROM fr),
             |px AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs),
             |fsum AS (
             |  SELECT doc_id, f,
             |    CAST(SUM((doc_id*31 + f*17 + x*7 + y*13) % 256) AS BIGINT)
             |      AS sum_r
             |  FROM px GROUP BY 1, 2),
             |pick AS (
             |  SELECT doc_id, f, sum_r,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY sum_r DESC, f) AS rn,
             |    COUNT(*) OVER (PARTITION BY doc_id) AS n_frames
             |  FROM fsum)
             |SELECT doc_id, n_frames, f AS keyframe_idx, sum_r AS keyframe_sum_r
             |FROM pick WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Binary sign quantization + exact Hamming ranking (32x compression: one
    // sign bit per dimension, packed 32 dims per word): similarity = small
    // Hamming distance between packed sign words — xor + popcount, the
    // cheapest ANN prescreen there is, and INTEGER-exact so fully
    // hash-matchable (the float-scored LSH variants are rows-only). Scale
    // shape: packing is map-only; the 10-probe query side broadcasts; corpus
    // scan reads 2 longs per vector instead of 64 floats. At 100 TB this is
    // the in-cache first stage in front of int8/PQ rerank.
    Q("sim_binary_sign_hamming",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val words = e
          .select($"vec_id", posexplode($"embedding").as(Seq("pos", "vf")))
          .withColumn("wd", floor($"pos" / 32).cast("int"))
          .withColumn("bitv", when($"vf" >= 0f,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
            .otherwise(lit(0L)))
          .groupBy($"vec_id", $"wd").agg(sum($"bitv").as("wv"))
          .groupBy($"vec_id")
          .agg(max(when($"wd" === 0, $"wv")).as("w0"),
            coalesce(max(when($"wd" === 1, $"wv")), lit(0L)).as("w1"))
        val qs = words.filter($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"w0".as("q0"), $"w1".as("q1"))
        val ham = words.join(broadcast(qs), $"qid" =!= $"vec_id")
          .withColumn("hamming",
            expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)"))
        val w = Window.partitionBy($"qid").orderBy($"hamming", $"vec_id")
        ham.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
          .select($"qid", $"rank", $"vec_id".as("vid"),
            $"hamming".cast("int").as("hamming"))
          .orderBy($"qid", $"rank")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, unnest(embedding) AS v,
             |         generate_subscripts(embedding, 1) - 1 AS pos
             |  FROM embeddings),
             |wrd AS (
             |  SELECT vec_id, pos // 32 AS wd,
             |    CAST(SUM(CASE WHEN v >= 0
             |      THEN (CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER))
             |      ELSE 0 END) AS BIGINT) AS wv
             |  FROM flat GROUP BY 1, 2),
             |packed AS (
             |  SELECT vec_id,
             |    MAX(CASE WHEN wd = 0 THEN wv END) AS w0,
             |    COALESCE(MAX(CASE WHEN wd = 1 THEN wv END), 0) AS w1
             |  FROM wrd GROUP BY 1),
             |ham AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1))
             |      AS hamming
             |  FROM packed q JOIN packed c ON q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 10),
             |ranked AS (
             |  SELECT qid, vid, hamming,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY hamming, vid) AS rank
             |  FROM ham)
             |SELECT qid, rank, vid, CAST(hamming AS INTEGER) AS hamming
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Perceptual-hash image dedup (the multimodal complement of the text dedup
    // family): every image is decoded with the real codec, resized 8x8, and
    // fingerprinted with the classic average-hash (bit = pixel >= mean, as the
    // exact integer compare 64*R >= sum — no float mean), packed 32 bits/word;
    // images sharing a fingerprint form a duplicate group. The oracle
    // recomputes the hash from the pixel formula at the nearest-neighbor
    // resize coordinates, so decode + resample + threshold arithmetic are all
    // hash-checked. Scale shape: hashing is map-only; the dup-group join is a
    // 64-bit-key groupBy — the image twin of dedup_hash_collapse.
    Q("multimodal_phash_dedup",
      (s, dir) => {
        import s.implicits._
        val ph = graft.llm.Multimodal.perceptualHashes(s,
            graft.llm.Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 100)))
          .toDF("doc_id", "w0", "w1")
        val groups = ph.groupBy($"w0", $"w1")
          .agg(count(lit(1)).as("group_size"), min($"doc_id").as("keeper"))
        ph.join(groups, Seq("w0", "w1"))
          .select($"doc_id", $"w0", $"w1", $"group_size",
            ($"doc_id" === $"keeper").as("keep"))
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 100),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x2 FROM dims),
             |px AS (SELECT doc_id, w, h, x2, unnest(range(0, 8)) AS y2 FROM xs),
             |v AS (SELECT doc_id, x2, y2,
             |        (doc_id*31 + ((x2*w)//8)*7 + ((y2*h)//8)*13) % 256 AS r
             |      FROM px),
             |sums AS (SELECT doc_id, CAST(SUM(r) AS BIGINT) AS s
             |         FROM v GROUP BY 1),
             |bits AS (
             |  SELECT v.doc_id,
             |    CAST(SUM(CASE WHEN 64 * v.r >= sums.s AND y2 * 8 + x2 < 32
             |      THEN (CAST(1 AS BIGINT) << CAST(y2 * 8 + x2 AS INTEGER))
             |      ELSE 0 END) AS BIGINT) AS w0,
             |    CAST(SUM(CASE WHEN 64 * v.r >= sums.s AND y2 * 8 + x2 >= 32
             |      THEN (CAST(1 AS BIGINT) << CAST(y2 * 8 + x2 - 32 AS INTEGER))
             |      ELSE 0 END) AS BIGINT) AS w1
             |  FROM v JOIN sums ON sums.doc_id = v.doc_id
             |  GROUP BY 1),
             |groups AS (
             |  SELECT w0, w1, COUNT(*) AS group_size, MIN(doc_id) AS keeper
             |  FROM bits GROUP BY 1, 2)
             |SELECT b.doc_id, b.w0, b.w1, g.group_size,
             |  b.doc_id = g.keeper AS keep
             |FROM bits b JOIN groups g ON g.w0 = b.w0 AND g.w1 = b.w1
             |ORDER BY b.doc_id""".stripMargin)),

    // MinHash-LSH quality audit: precision/recall/F1 of the banded candidate
    // generator against exact-Jaccard ground truth (tau = 0.4) on a bounded
    // doc subset — the measured quality number an approximate dedup ships
    // with (sim_ann_recall's analogue for the lexical family). Ground-truth
    // pairs come from the shared-shingle equi-join (never an all-pairs
    // cross), and the whole chain — md5-derived minhashes included — is
    // integer/rational arithmetic, so unlike the float-cosine ANN recall
    // report this audit is fully hash-matched.
    Q("dedup_minhash_eval",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Dedup
        val docs = t(s, dir, "documents").filter($"doc_id" < 150)
        // r15 persist-sizing rule: a 1-row-group scan caches as ONE partition
        val sets = Dedup.shingleSets(docs, "doc_id", "text")
          .repartition(s.sparkContext.defaultParallelism, $"doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val sh = sets.select($"doc_id", explode($"shingles").as("shingle"))
        val shared = sh.select($"doc_id".as("id1"), $"shingle")
          .join(sh.select($"doc_id".as("id2"), $"shingle"), "shingle")
          .filter($"id1" < $"id2").select($"id1", $"id2").distinct()
        val truth = Dedup.pairJaccard(shared, sets, "doc_id")
          .filter($"jaccard" >= 0.4).select($"id1", $"id2")
        val cand = Dedup.lshCandidates(sets, "doc_id", numHashes = 8, bandSize = 2)
        val j = cand.withColumn("c", lit(1))
          .join(truth.withColumn("tr", lit(1)), Seq("id1", "id2"), "full_outer")
        val res = j.agg(
            sum(coalesce($"tr", lit(0))).as("n_truth"),
            sum(coalesce($"c", lit(0))).as("n_cand"),
            sum(when($"c".isNotNull && $"tr".isNotNull, 1L).otherwise(0L))
              .as("tp"))
          .select($"n_truth", $"n_cand", $"tp",
            // empty candidate/truth sets are legal at other scale factors
            // (sf0.1's doc_id<150 slice yields zero banded candidates) —
            // NULL, not a divide-by-zero under ANSI mode
            when($"n_cand" > 0, round($"tp" / $"n_cand".cast("double"), 6))
              .as("prec"),
            when($"n_truth" > 0, round($"tp" / $"n_truth".cast("double"), 6))
              .as("recall"))
          .localCheckpoint(true) // materialize before releasing the cache
        sets.unpersist()
        res.orderBy($"n_truth")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id,
              |    list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
              |                x -> x <> '') AS tk
              |  FROM documents WHERE doc_id < 150),
              |shing AS (
              |  SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
              |    THEN list_distinct(list_transform(range(1, len(tk) - 1),
              |           i -> array_to_string(tk[i:i+2], ' ')))
              |    ELSE [] END) AS shingle
              |  FROM toks),
              |shared AS (
              |  SELECT DISTINCT s1.doc_id AS id1, s2.doc_id AS id2
              |  FROM shing s1 JOIN shing s2
              |    ON s2.shingle = s1.shingle AND s1.doc_id < s2.doc_id),
              |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shing GROUP BY doc_id),
              |inter AS (
              |  SELECT p.id1, p.id2, COUNT(*) AS n_shared
              |  FROM shared p
              |  JOIN shing s1 ON s1.doc_id = p.id1
              |  JOIN shing s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
              |  GROUP BY 1, 2),
              |truth AS (
              |  SELECT i.id1, i.id2
              |  FROM inter i
              |  JOIN sz z1 ON z1.doc_id = i.id1
              |  JOIN sz z2 ON z2.doc_id = i.id2
              |  WHERE i.n_shared * 1.0 / (z1.sz + z2.sz - i.n_shared) >= 0.4),
              |hs AS (
              |  SELECT doc_id,
              |    ${sqlHexInt("md5(shingle)", 1, 7)} AS h1,
              |    ${sqlHexInt("md5(shingle)", 8, 7)} AS h2
              |  FROM shing),
              |mh AS (
              |  SELECT doc_id, salt, min(h1 + salt * h2) AS minhash
              |  FROM hs CROSS JOIN (SELECT unnest(range(0, 8)) AS salt)
              |  GROUP BY doc_id, salt),
              |banded AS (
              |  SELECT doc_id, CAST(floor(salt / 2) AS INT) AS band,
              |    string_agg(CAST(minhash AS VARCHAR), '|' ORDER BY salt) AS sig
              |  FROM mh GROUP BY doc_id, CAST(floor(salt / 2) AS INT)),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              |  FROM banded a JOIN banded b ON a.band = b.band AND a.sig = b.sig
              |  WHERE a.doc_id < b.doc_id),
              |u AS (
              |  SELECT COALESCE(c.id1, t.id1) AS id1, COALESCE(c.id2, t.id2) AS id2,
              |    c.id1 IS NOT NULL AS is_c, t.id1 IS NOT NULL AS is_t
              |  FROM cand c FULL OUTER JOIN truth t
              |    ON t.id1 = c.id1 AND t.id2 = c.id2)
              |SELECT
              |  CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
              |  CAST(SUM(CASE WHEN is_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
              |  CAST(SUM(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END) AS BIGINT)
              |    AS tp,
              |  round(SUM(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END)
              |    / CAST(NULLIF(SUM(CASE WHEN is_c THEN 1 ELSE 0 END), 0)
              |      AS DOUBLE), 6) AS prec,
              |  round(SUM(CASE WHEN is_c AND is_t THEN 1 ELSE 0 END)
              |    / CAST(NULLIF(SUM(CASE WHEN is_t THEN 1 ELSE 0 END), 0)
              |      AS DOUBLE), 6) AS recall
              |FROM u""".stripMargin)),

    // Tokenizer fertility by language (tokens-per-word — the eval every
    // multilingual tokenizer ships with; high fertility = a language pays
    // more sequence length for the same text): BPE-ish token estimate over
    // whitespace words, exact decimal ratio per language. One grouped pass.
    Q("text_tokenizer_fertility",
      (s, dir) => {
        import s.implicits._
        // inject a punctuated clause on a deterministic subset (the corpus is
        // punctuation-free, which would pin fertility at exactly 1.0), and
        // report tokens-per-100-chars too — the per-language sequence-length
        // cost that differs even on clean text
        t(s, dir, "documents")
          .withColumn("text",
            when($"doc_id" % 4 === 0,
              concat($"text", lit(" (x=1, y=2; z!=3) end.")))
              .otherwise($"text"))
          .select($"lang", length($"text").cast("long").as("n_chars"),
            TF.tokenCount($"text").cast("long").as("n_words"),
            TF.bpeishTokenCount($"text").cast("long").as("n_toks"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("chars"),
            sum($"n_words").as("words"), sum($"n_toks").as("toks"))
          .select($"lang", $"n_docs", $"words", $"toks",
            round($"toks" / $"words".cast("double"), 9).as("fertility"),
            round($"toks" * 100 / $"chars".cast("double"), 9)
              .as("toks_per_100ch"))
          .orderBy($"lang")
      },
      Some("""WITH d AS (
             |  SELECT lang,
             |    CASE WHEN doc_id % 4 = 0
             |      THEN text || ' (x=1, y=2; z!=3) end.'
             |      ELSE text END AS text
             |  FROM documents),
             |m AS (
             |  SELECT lang, CAST(len(text) AS BIGINT) AS n_chars,
             |    CAST(len(list_filter(
             |      regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |      x -> x <> '')) AS BIGINT) AS n_words,
             |    CAST(len(regexp_extract_all(text,
             |      '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS BIGINT) AS n_toks
             |  FROM d)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(n_words) AS BIGINT) AS words,
             |  CAST(SUM(n_toks) AS BIGINT) AS toks,
             |  round(SUM(n_toks) / CAST(SUM(n_words) AS DOUBLE), 9)
             |    AS fertility,
             |  round(SUM(n_toks) * 100 / CAST(SUM(n_chars) AS DOUBLE), 9)
             |    AS toks_per_100ch
             |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    // The END-TO-END pretraining funnel — the engine's operators composed the
    // way a production corpus build chains them, with per-language survivor
    // counts at every gate (the corpus report a data team actually reads):
    //   raw -> quality gate (>= 25 tokens)
    //       -> boilerplate/near-dup drop (any 40-char span shared with
    //          another doc, the dedup_substring_span signal)
    //       -> CCNet-style LM gate (bigram-surprisal terciles computed over
    //          the SURVIVING corpus — the LM trains on what's left, as in
    //          production — keep head+middle, drop tail)
    //       -> token accounting + 512-token chunk counts for the training
    //          loader. Every stage is the scale shape its standalone query
    // established (map-only gates, digest-keyed span join, histogram terciles
    // with no global row_number); the funnel is their sequential composition.
    Q("pipeline_pretrain_funnel",
      (s, dir) => {
        import s.implicits._
        val DEC = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
        // tokens staged ONCE (round 15): the old shape tokenized (regex
        // split) in THREE places — nt here (evaluated again per consumer of
        // base), and a full re-tokenize in the surprisal stage below; the
        // materialized toks column makes every later stage an array read
        val base = t(s, dir, "documents")
          .select($"doc_id", $"lang", $"text", TF.tokens($"text").as("toks"))
          .withColumn("nt", size($"toks"))
          .withColumn("q_ok", $"nt" >= 25)
          .localCheckpoint()
        // stage 2: spans over quality survivors only
        val spans = base.filter($"q_ok")
          .select($"doc_id", $"text", length($"text").as("n"))
          .filter($"n" >= 40)
          .select($"doc_id", $"text",
            explode(sequence(lit(1), $"n" - 39, lit(10))).as("pos"))
          .select($"doc_id", expr("substring(text, pos, 40)").as("span"))
        // the span/staged/per frames each feed TWO consumers — materialize
        // once (executor-local, the dedup-family persist idiom) or the static
        // plan recomputes every upstream stage per consumer (57 shuffles
        // before this; the funnel is sequential, so each stage should run
        // once, exactly as a production pipeline materializes between gates)
        val spansD = spans.distinct().localCheckpoint()
        val dupDocs = spansD
          .groupBy($"span").agg(countDistinct($"doc_id").as("nd"))
          .filter($"nd" >= 2)
          .join(spansD, "span")
          .select($"doc_id").distinct()
          .withColumn("is_dup", lit(1))
        val staged = base.join(dupDocs, Seq("doc_id"), "left")
          .withColumn("d_ok", $"q_ok" && $"is_dup".isNull)
          .localCheckpoint()
        // stage 3: bigram-surprisal terciles over d_ok survivors (toks staged
        // in base — no re-tokenize)
        val surv = staged.filter($"d_ok")
          .select($"doc_id", $"toks")
        val bg = surv.select($"doc_id", explode(TF.ngrams($"toks", 2)).as("bg"))
        val c2 = bg.groupBy($"bg").agg(count(lit(1)).as("c2"))
        val uni = surv.select(explode($"toks").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("c1"))
          .withColumn("v", count(lit(1)).over(Window.partitionBy()))
        val surpr = -log(($"c2" + 1).cast("double") / ($"c1" + $"v"))
        val per = bg.join(c2, Seq("bg"))
          .join(broadcast(uni), substring_index($"bg", " ", 1) === $"w")
          .select($"doc_id", surpr.cast(DEC).as("sv"))
          .groupBy($"doc_id")
          .agg(round((sum($"sv").cast("double") / count(lit(1))), 6).as("ms"))
          .localCheckpoint()
        val h = per.groupBy($"ms").agg(count(lit(1)).as("c"))
          .withColumn("rb", floor($"ms"))
        val offsets = h.groupBy($"rb").agg(sum($"c").as("rb_c"))
          .withColumn("offset", coalesce(
            sum($"rb_c").over(Window.orderBy($"rb")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum($"rb_c").over(Window.partitionBy()))
          .select($"rb", $"offset", $"n")
        val bucketed = h.join(broadcast(offsets), Seq("rb"))
          .withColumn("cum", $"offset" + sum($"c").over(
            Window.partitionBy($"rb").orderBy($"ms")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("bucket", expr("(((cum - c) * 3) div n) + 1"))
          .select($"ms", $"bucket")
        val withBucket = per.join(bucketed, "ms").select($"doc_id", $"bucket")
        staged.join(withBucket, Seq("doc_id"), "left")
          .withColumn("k_ok", $"d_ok" && $"bucket".isNotNull && $"bucket" <= 2)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_raw"),
            sum(when($"q_ok", 1L).otherwise(0L)).as("n_quality"),
            sum(when($"d_ok", 1L).otherwise(0L)).as("n_dedup"),
            sum(when($"k_ok", 1L).otherwise(0L)).as("n_kept"),
            sum(when($"k_ok", $"nt".cast("long")).otherwise(0L))
              .as("total_tokens"),
            sum(when($"k_ok", expr("(nt + 511) div 512")).otherwise(0L))
              .as("n_chunks"))
          .orderBy($"lang")
      },
      Some("""WITH base AS (
             |  SELECT doc_id, lang, text,
             |    len(list_filter(regexp_split_to_array(lower(text),
             |      '[^\p{L}\p{N}]+'), x -> x <> '')) AS nt
             |  FROM documents),
             |b2 AS (SELECT *, nt >= 25 AS q_ok FROM base),
             |spans AS (
             |  SELECT DISTINCT doc_id,
             |    substring(text, CAST(pos AS INTEGER), 40) AS span
             |  FROM (
             |    SELECT doc_id, text,
             |      unnest(generate_series(1, len(text) - 39, 10)) AS pos
             |    FROM b2 WHERE q_ok AND len(text) >= 40)),
             |dup AS (
             |  SELECT DISTINCT s.doc_id FROM spans s
             |  JOIN (SELECT span FROM spans
             |        GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2) d
             |    ON d.span = s.span),
             |b3 AS (
             |  SELECT b2.*, b2.q_ok AND dup.doc_id IS NULL AS d_ok
             |  FROM b2 LEFT JOIN dup ON dup.doc_id = b2.doc_id),
             |surv AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |                x -> x <> '') AS toks
             |  FROM b3 WHERE d_ok),
             |bg AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(toks) - 1),
             |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
             |  FROM surv WHERE len(toks) >= 2),
             |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
             |u0 AS (SELECT unnest(toks) AS w FROM surv),
             |uni AS (SELECT w, count(*) AS c1 FROM u0 GROUP BY w),
             |uni2 AS (SELECT w, c1, count(*) OVER () AS v FROM uni),
             |per AS (
             |  SELECT bg.doc_id,
             |    round(CAST(SUM(CAST(-ln(CAST(c2.c2 + 1 AS DOUBLE)
             |      / (uni2.c1 + uni2.v)) AS DECIMAL(30,12))) AS DOUBLE)
             |      / count(*), 6) AS ms
             |  FROM bg JOIN c2 USING (bg)
             |  JOIN uni2 ON split_part(bg.bg, ' ', 1) = uni2.w
             |  GROUP BY bg.doc_id),
             |h AS (SELECT ms, COUNT(*) AS c FROM per GROUP BY 1),
             |cd AS (
             |  SELECT ms, c,
             |    CAST(SUM(c) OVER (ORDER BY ms
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum,
             |    CAST(SUM(c) OVER () AS BIGINT) AS n
             |  FROM h),
             |bk AS (SELECT ms, (((cum - c) * 3) // n) + 1 AS bucket FROM cd),
             |wb AS (
             |  SELECT per.doc_id, bk.bucket
             |  FROM per JOIN bk ON bk.ms = per.ms),
             |fin AS (
             |  SELECT b3.lang, b3.nt, b3.q_ok, b3.d_ok,
             |    b3.d_ok AND wb.bucket IS NOT NULL AND wb.bucket <= 2 AS k_ok
             |  FROM b3 LEFT JOIN wb ON wb.doc_id = b3.doc_id)
             |SELECT lang, COUNT(*) AS n_raw,
             |  CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_quality,
             |  CAST(SUM(CASE WHEN d_ok THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_dedup,
             |  CAST(SUM(CASE WHEN k_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(SUM(CASE WHEN k_ok THEN nt ELSE 0 END) AS BIGINT)
             |    AS total_tokens,
             |  CAST(SUM(CASE WHEN k_ok THEN (nt + 511) // 512 ELSE 0 END)
             |    AS BIGINT) AS n_chunks
             |FROM fin GROUP BY lang ORDER BY lang""".stripMargin))
  )
}
