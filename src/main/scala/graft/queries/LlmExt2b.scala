package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.{Similarity, TextFunctions => TF}
import QueryDSL._

/** Third-wave LLM-data-pipeline operators, continued (split from
  * [[LlmExt2]] for maintainability — same contract, same grouping):
  * RM3 query expansion, script profiling, span-corruption planning, hard
  * negatives, PMI co-occurrence, epoch reshuffle, preference pairs,
  * canonicalized exact dedup, MAP eval, license classification and
  * prose-vs-code routing. */
object LlmExt2b {

  val queries: Seq[Q] = Seq(

    // Pseudo-relevance-feedback query expansion (RM3/Rocchio-lite: run the
    // seed query, mine the top-5 BM25 documents for the terms that
    // characterize them, expand the query): expansion score = feedback-set
    // term frequency x corpus idf, seed terms excluded (the synthetic corpus
    // has a 31-term vocabulary with no stopword gradient, so idf alone does
    // the down-weighting a df-cap would do on real text). The feedback set is
    // a TakeOrdered top-5 — the expansion stage touches 5 documents
    // regardless of corpus size.
    Q("text_query_expansion",
      (s, dir) => {
        import s.implicits._
        val qTerms = Seq("spark", "join", "merge")
        // `docs`/`terms` feed five consumers (scalars, tf, df, corpusDf,
        // fbTf), so one tokenize pass is checkpointed; a (doc_id, dl, term,
        // tc) count table derives everything term-keyed: tf = the same
        // (doc,dl,term) grouping, df/cdf = row counts (tcnt rows ARE the
        // distinct (doc,term) pairs), fb_tf = Σ tc (total occurrences in the
        // feedback docs). scalars come from the checkpointed docs frame so
        // zero-token documents still count toward n_docs.
        val docs = spread(t(s, dir, "documents"))
          .select($"doc_id", TF.tokens($"text").as("toks"))
          .select($"doc_id", $"toks", size($"toks").cast("bigint").as("dl"))
          .localCheckpoint()
        val scalars = docs.agg(count(lit(1)).as("n_docs"),
          sum($"dl").as("total_tokens"))
        val tcnt = docs.select($"doc_id", $"dl", explode($"toks").as("term"))
          .groupBy($"doc_id", $"dl", $"term").agg(count(lit(1)).as("tc"))
          .localCheckpoint()
        val tf = tcnt.filter($"term".isin(qTerms: _*))
          .select($"doc_id", $"dl", $"term", $"tc".as("tf"))
        val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val avgdl = $"total_tokens".cast("double") / $"n_docs"
        val idfq = log(($"n_docs".cast("double") - $"df" + lit(0.5)) /
          ($"df" + lit(0.5)) + lit(1.0))
        val contrib = idfq * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / avgdl))
        val perTerm = qTerms.map(qt =>
          coalesce(max(when($"term" === qt, $"c")), lit(0.0d)))
        val fb = tf.join(broadcast(df), Seq("term"))
          .crossJoin(broadcast(scalars))
          .select($"doc_id", $"term", contrib.as("c"))
          .groupBy($"doc_id")
          .agg((perTerm(0) + perTerm(1) + perTerm(2)).as("raw"))
          .select($"doc_id", round($"raw", 9).as("bm25"))
          .orderBy($"bm25".desc, $"doc_id").limit(5)
          .select($"doc_id")
        val corpusDf = tcnt
          .groupBy($"term").agg(count(lit(1)).as("cdf"))
        val fbTf = tcnt.join(fb, "doc_id")
          .groupBy($"term").agg(sum($"tc").as("fb_tf"))
        val w = Window.orderBy($"score".desc, $"term")
        fbTf.join(corpusDf, "term")
          .crossJoin(broadcast(scalars.select($"n_docs")))
          .filter(!$"term".isin(qTerms: _*))
          .select($"term", $"fb_tf", $"cdf",
            round($"fb_tf" * log($"n_docs".cast("double") / $"cdf"), 6)
              .as("score"))
          .orderBy($"score".desc, $"term").limit(8)
          .withColumn("rank", row_number().over(w))
          .select($"rank", $"term", $"fb_tf", $"cdf", $"score")
          .orderBy($"rank")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |                x -> x <> '') AS toks
             |  FROM documents),
             |d2 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM docs),
             |scalars AS (SELECT count(*) AS n_docs,
             |                   CAST(SUM(dl) AS BIGINT) AS total_tokens FROM d2),
             |terms AS (SELECT doc_id, dl, unnest(toks) AS term FROM d2),
             |ft AS (SELECT * FROM terms WHERE term IN ('spark', 'join', 'merge')),
             |tf AS (SELECT doc_id, dl, term, count(*) AS tf
             |       FROM ft GROUP BY doc_id, dl, term),
             |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM ft GROUP BY term),
             |bscored AS (
             |  SELECT tf.doc_id, tf.term,
             |    ln((n_docs * 1.0 - df + 0.5) / (df + 0.5) + 1.0) *
             |      (tf * 2.2) /
             |      (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total_tokens AS DOUBLE) / n_docs)))
             |      AS c
             |  FROM tf JOIN df ON df.term = tf.term CROSS JOIN scalars),
             |fb AS (
             |  SELECT doc_id FROM (
             |    SELECT doc_id,
             |      round((COALESCE(MAX(CASE WHEN term = 'spark' THEN c END), 0.0) +
             |             COALESCE(MAX(CASE WHEN term = 'join'  THEN c END), 0.0)) +
             |             COALESCE(MAX(CASE WHEN term = 'merge' THEN c END), 0.0), 9)
             |        AS bm25
             |    FROM bscored GROUP BY doc_id)
             |  ORDER BY bm25 DESC, doc_id LIMIT 5),
             |cdf AS (
             |  SELECT term, COUNT(DISTINCT doc_id) AS cdf FROM terms GROUP BY 1),
             |fbtf AS (
             |  SELECT t.term, COUNT(*) AS fb_tf
             |  FROM terms t JOIN fb ON fb.doc_id = t.doc_id
             |  GROUP BY 1),
             |exp AS (
             |  SELECT f.term, f.fb_tf, c.cdf,
             |    round(f.fb_tf * ln(CAST(s.n_docs AS DOUBLE) / c.cdf), 6)
             |      AS score
             |  FROM fbtf f JOIN cdf c ON c.term = f.term CROSS JOIN scalars s
             |  WHERE f.term NOT IN ('spark', 'join', 'merge'))
             |SELECT ROW_NUMBER() OVER (ORDER BY score DESC, term) AS rank,
             |  term, fb_tf, cdf, score
             |FROM (SELECT * FROM exp ORDER BY score DESC, term LIMIT 8)
             |ORDER BY rank""".stripMargin)),

    // Unicode-script profiling (the multilingual routing signal language-ID
    // models key on: which WRITING SYSTEM dominates each doc): per-script
    // character counts (Latin/Han/Cyrillic/Arabic) and a fixed-precedence
    // dominant-script vote. The ASCII corpus gets deterministic script
    // suffixes injected on doc_id-keyed subsets so every class has positives
    // (the standard fixture pattern). Map-only per doc.
    Q("text_script_profile",
      (s, dir) => {
        import s.implicits._
        // doc_id-keyed subsets become fully script-typed documents (repeat of
        // a native phrase), modelling a real multilingual crawl — an appended
        // few-char suffix would never flip the dominant vote
        val docs = t(s, dir, "documents")
          .withColumn("txt",
            when($"doc_id" % 9 === 0,
              repeat(lit("\u4e2d\u6587\u6587\u672c "), 30))
              .when($"doc_id" % 10 === 0,
                repeat(lit("\u043f\u0440\u0438\u0432\u0435\u0442 "), 30))
              .when($"doc_id" % 11 === 0,
                repeat(lit("\u0645\u0631\u062d\u0628\u0627 "), 30))
              .otherwise($"text"))
        docs.select($"doc_id",
            regexp_count($"txt", lit("[A-Za-z]")).as("n_latin"),
            regexp_count($"txt", lit("\\p{IsHan}")).as("n_han"),
            regexp_count($"txt", lit("\\p{IsCyrillic}")).as("n_cyr"),
            regexp_count($"txt", lit("\\p{IsArabic}")).as("n_arab"))
          .select($"doc_id", $"n_latin", $"n_han", $"n_cyr", $"n_arab",
            when($"n_latin" >= $"n_han" && $"n_latin" >= $"n_cyr" &&
              $"n_latin" >= $"n_arab", lit("latin"))
              .when($"n_han" >= $"n_cyr" && $"n_han" >= $"n_arab", lit("han"))
              .when($"n_cyr" >= $"n_arab", lit("cyrillic"))
              .otherwise(lit("arabic")).as("dominant"))
          .orderBy($"doc_id")
      },
      Some(("""WITH d AS (
             |  SELECT doc_id,
             |    CASE
             |      WHEN doc_id % 9 = 0 THEN repeat(HAN_SUFFIX, 30)
             |      WHEN doc_id % 10 = 0 THEN repeat(CYR_SUFFIX, 30)
             |      WHEN doc_id % 11 = 0 THEN repeat(ARAB_SUFFIX, 30)
             |      ELSE text END AS txt
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(regexp_extract_all(txt, '[A-Za-z]')) AS INTEGER)
             |      AS n_latin,
             |    CAST(len(regexp_extract_all(txt, '\p{Han}')) AS INTEGER)
             |      AS n_han,
             |    CAST(len(regexp_extract_all(txt, '\p{Cyrillic}')) AS INTEGER)
             |      AS n_cyr,
             |    CAST(len(regexp_extract_all(txt, '\p{Arabic}')) AS INTEGER)
             |      AS n_arab
             |  FROM d)
             |SELECT doc_id, n_latin, n_han, n_cyr, n_arab,
             |  CASE
             |    WHEN n_latin >= n_han AND n_latin >= n_cyr
             |      AND n_latin >= n_arab THEN 'latin'
             |    WHEN n_han >= n_cyr AND n_han >= n_arab THEN 'han'
             |    WHEN n_cyr >= n_arab THEN 'cyrillic'
             |    ELSE 'arabic' END AS dominant
             |FROM m ORDER BY doc_id""")
        .replace("HAN_SUFFIX",
          "(chr(20013) || chr(25991) || chr(25991) || chr(26412) || ' ')")
        .replace("CYR_SUFFIX",
          "(chr(1087) || chr(1088) || chr(1080) || chr(1074) || " +
            "chr(1077) || chr(1090) || ' ')")
        .replace("ARAB_SUFFIX",
          "(chr(1605) || chr(1585) || chr(1581) || chr(1576) || " +
            "chr(1575) || ' ')").stripMargin)),

    // Span-corruption masking PLAN (the T5/UL2 denoising objective's
    // preprocessing: decide deterministically which token spans get masked,
    // BEFORE any model sees the data): 15% corruption rate in mean-3-token
    // spans, span anchors placed by an md5-derived offset so the plan is
    // reproducible across runs/engines with no RNG state. Map-only per doc;
    // the plan (not the masked text) is the pipeline artifact, exactly like
    // a production packing manifest.
    Q("text_span_corruption_plan",
      (s, dir) => {
        import s.implicits._
        val nt = TF.tokenCount($"text")
        val nspans = floor(nt * 0.15d / 3).cast("int")
        val anchor = (conv(substring(md5($"doc_id".cast("string")), 1, 6), 16, 10)
          .cast("long") % greatest(nt.cast("long"), lit(1L))).cast("int")
        t(s, dir, "documents")
          .select($"doc_id", nt.as("n_tokens"), nspans.as("n_spans"),
            (nspans * 3).as("n_masked"), anchor.as("first_anchor"))
          .withColumn("mask_ratio",
            round($"n_masked" / greatest($"n_tokens", lit(1)).cast("double"), 9))
          .orderBy($"doc_id")
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    CAST(len(list_filter(
             |      regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |      x -> x <> '')) AS INTEGER) AS n_tokens
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, n_tokens,
             |    CAST(floor(n_tokens * 0.15 / 3) AS INTEGER) AS n_spans,
             |    CAST((instr('0123456789abcdef',
             |        substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576
             |      + (instr('0123456789abcdef',
             |        substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 65536
             |      + (instr('0123456789abcdef',
             |        substring(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 4096
             |      + (instr('0123456789abcdef',
             |        substring(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 256
             |      + (instr('0123456789abcdef',
             |        substring(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 16
             |      + (instr('0123456789abcdef',
             |        substring(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1)
             |      AS BIGINT) % GREATEST(n_tokens, 1) AS first_anchor
             |  FROM m)
             |SELECT doc_id, n_tokens, n_spans,
             |  n_spans * 3 AS n_masked,
             |  CAST(first_anchor AS INTEGER) AS first_anchor,
             |  round(n_spans * 3 / CAST(GREATEST(n_tokens, 1) AS DOUBLE), 9)
             |    AS mask_ratio
             |FROM p ORDER BY doc_id""".stripMargin)),

    // Hard-negative mining (contrastive-training prep: for each anchor, the
    // highest-ranked neighbor with a DIFFERENT label — the near-miss the loss
    // needs): exact top-10 cosine ranking per probe, first cross-label hit by
    // min-struct argmin over rank. Integer ranks + decimal-exact cosine =>
    // hash-matched; the ANN variants supply candidates at 100 TB.
    Q("sim_hard_negatives",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val ranked = Similarity.bruteForceTopK(e.filter($"vec_id" < 20), e, k = 10)
        val lbl = e.select($"vec_id", $"label")
        ranked
          .join(broadcast(lbl.select($"vec_id".as("qid"), $"label".as("qlabel"))),
            "qid")
          .join(broadcast(lbl.select($"vec_id".as("vid"), $"label".as("vlabel"))),
            "vid")
          .filter($"qlabel" =!= $"vlabel")
          .groupBy($"qid", $"qlabel")
          .agg(min(struct($"rank".as("r"), $"vid".as("v"),
            $"cosine".as("c"))).as("m"))
          .select($"qid", $"qlabel",
            $"m.v".as("hard_negative"), $"m.r".as("neg_rank"),
            round($"m.c", 9).as("neg_cosine"))
          .orderBy($"qid")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY 1),
             |dots AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20 GROUP BY 1, 2),
             |ranked AS (
             |  SELECT qid, vid, cosine, rank FROM (
             |    SELECT d.qid, d.vid, d.dot / (nq.nrm * nc.nrm) AS cosine,
             |      ROW_NUMBER() OVER (PARTITION BY d.qid
             |        ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |    FROM dots d
             |    JOIN norms nq ON nq.vec_id = d.qid
             |    JOIN norms nc ON nc.vec_id = d.vid) WHERE rank <= 10),
             |x AS (
             |  SELECT r.qid, ql.label AS qlabel, r.vid, r.rank, r.cosine,
             |    ROW_NUMBER() OVER (PARTITION BY r.qid ORDER BY r.rank) AS rn
             |  FROM ranked r
             |  JOIN embeddings ql ON ql.vec_id = r.qid
             |  JOIN embeddings vl ON vl.vec_id = r.vid
             |  WHERE ql.label <> vl.label)
             |SELECT qid, qlabel, vid AS hard_negative, rank AS neg_rank,
             |  round(cosine, 9) AS neg_cosine
             |FROM x WHERE rn = 1 ORDER BY qid""".stripMargin)),

    // Windowed co-occurrence + PMI (the word2vec/GloVe statistics pass:
    // which words appear together more than chance): token pairs within a
    // +-3 window collected via a doc-key equi-join with an index band (never
    // all-pairs), PMI = ln(c_pair * N / (c1 * c2)) over the pair space,
    // top-20 associations with support >= 5. Integer counts + one ln ratio
    // => cross-engine exact after rounding.
    Q("text_pmi_cooccurrence",
      (s, dir) => {
        import s.implicits._
        // The ±3-token window pairs come from in-row HOFs over the token
        // array — a token self-join would shuffle the exploded token frame
        // twice. Both consumers of `pairs` share the spread (doc_id, text)
        // exchange; for each 0-based index i, slice(arr, i+2, 3) is exactly
        // the i2 ∈ (i1, i1+3] window, so the (wa, wb) pair multiset is
        // identical.
        val docs2 = spread(t(s, dir, "documents").select($"doc_id", $"text"),
          $"doc_id")
        val pairs = docs2.select(TF.tokens($"text").as("arr"))
          .select(explode(flatten(transform($"arr", (x, i) =>
            transform(filter(slice($"arr", i + 2, lit(3)), y => x =!= y),
              y => struct(least(x, y).as("wa"),
                greatest(x, y).as("wb")))))).as("p"))
          .select($"p.wa".as("wa"), $"p.wb".as("wb"))
        val pc = pairs.groupBy($"wa", $"wb").agg(count(lit(1)).as("c_pair"))
        val n = pc.agg(sum($"c_pair").as("n_pairs"))
        val wc = pairs.select(explode(array($"wa", $"wb")).as("w"))
          .groupBy($"w").agg(count(lit(1)).as("cw"))
        pc.filter($"c_pair" >= 5)
          .join(wc.select($"w".as("wa"), $"cw".as("ca")), "wa")
          .join(wc.select($"w".as("wb"), $"cw".as("cb")), "wb")
          .crossJoin(broadcast(n))
          .select($"wa", $"wb", $"c_pair",
            round(log($"c_pair".cast("double") * $"n_pairs" /
              ($"ca".cast("double") * $"cb")), 6).as("pmi"))
          .orderBy($"pmi".desc, $"wa", $"wb")
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(tk) AS w,
             |    generate_subscripts(tk, 1) AS i
             |  FROM (
             |    SELECT doc_id,
             |      list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |                  x -> x <> '') AS tk
             |    FROM documents)),
             |pairs AS (
             |  SELECT least(a.w, b.w) AS wa, greatest(a.w, b.w) AS wb
             |  FROM toks a JOIN toks b
             |    ON b.doc_id = a.doc_id AND b.i > a.i AND b.i - a.i <= 3
             |   AND a.w <> b.w),
             |pc AS (SELECT wa, wb, COUNT(*) AS c_pair FROM pairs GROUP BY 1, 2),
             |n AS (SELECT CAST(SUM(c_pair) AS BIGINT) AS n_pairs FROM pc),
             |wc AS (
             |  SELECT w, COUNT(*) AS cw FROM (
             |    SELECT wa AS w FROM pairs UNION ALL SELECT wb FROM pairs)
             |  GROUP BY 1)
             |SELECT pc.wa, pc.wb, pc.c_pair,
             |  round(ln(CAST(pc.c_pair AS DOUBLE) * n.n_pairs
             |    / (CAST(ca.cw AS DOUBLE) * cb.cw)), 6) AS pmi
             |FROM pc
             |JOIN wc ca ON ca.w = pc.wa
             |JOIN wc cb ON cb.w = pc.wb
             |CROSS JOIN n
             |WHERE pc.c_pair >= 5
             |ORDER BY pmi DESC, pc.wa, pc.wb LIMIT 20""".stripMargin)),

    // Epoch reshuffling (the training-loader guarantee: every epoch sees the
    // corpus in a different but REPRODUCIBLE order): order = md5 of
    // (epoch, doc_id), so the permutation is epoch-keyed, engine-independent,
    // and restart-safe — no RNG state to checkpoint. Heads of epochs 0 and 1
    // are emitted via TakeOrdered (no global sort; the full shuffle at scale
    // is a range-partition on the same hash key), ranked after the limit.
    Q("sample_epoch_shuffle",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id")
        def epochHead(ep: Int) = {
          val h = md5(concat(lit(s"ep$ep:"), $"doc_id".cast("string")))
          val w = Window.orderBy($"h", $"doc_id")
          docs.select($"doc_id", h.as("h"))
            .orderBy($"h", $"doc_id").limit(10)
            .withColumn("pos", row_number().over(w))
            .select(lit(ep).as("epoch"), $"pos", $"doc_id", $"h")
        }
        epochHead(0).unionByName(epochHead(1))
          .orderBy($"epoch", $"pos")
      },
      Some {
        val ep = (k: Int) =>
          s"""SELECT $k AS epoch, pos, doc_id, h FROM (
             |  SELECT doc_id, md5('ep$k:' || CAST(doc_id AS VARCHAR)) AS h,
             |    ROW_NUMBER() OVER (
             |      ORDER BY md5('ep$k:' || CAST(doc_id AS VARCHAR)), doc_id)
             |      AS pos
             |  FROM documents) WHERE pos <= 10""".stripMargin
        s"""${ep(0)}
           |UNION ALL
           |${ep(1)}
           |ORDER BY epoch, pos""".stripMargin
      }),

    // Preference-pair construction (RLHF/DPO data prep: for each source,
    // pair the best-scoring candidate against the worst as chosen/rejected):
    // score is a deterministic quality proxy (token density), extremes are
    // picked with min-struct argmax/argmin (ties to the lowest doc_id), one
    // grouped pass per side. At 100 TB this is two map-side-combined argmax
    // aggregations over the source key — no sort, no window over the corpus.
    Q("sample_preference_pairs",
      (s, dir) => {
        import s.implicits._
        val scored = t(s, dir, "documents")
          .select($"doc_id", $"source",
            round(TF.tokenCount($"text") / length($"text").cast("double"), 9)
              .as("score"))
        scored.groupBy($"source")
          .agg(count(lit(1)).as("n_candidates"),
            min(struct((-$"score").as("ns"), $"doc_id".as("d"))).as("hi"),
            min(struct($"score".as("s"), $"doc_id".as("d"))).as("lo"))
          .select($"source", $"n_candidates",
            $"hi.d".as("chosen_doc"), (-$"hi.ns").as("chosen_score"),
            $"lo.d".as("rejected_doc"), $"lo.s".as("rejected_score"))
          .orderBy($"source")
      },
      Some("""WITH scored AS (
             |  SELECT doc_id, source,
             |    round(len(list_filter(
             |      regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |      x -> x <> '')) / CAST(len(text) AS DOUBLE), 9) AS score
             |  FROM documents),
             |ranked AS (
             |  SELECT source, doc_id, score,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY score DESC, doc_id) AS rhi,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY score ASC, doc_id) AS rlo,
             |    COUNT(*) OVER (PARTITION BY source) AS n_candidates
             |  FROM scored)
             |SELECT h.source, h.n_candidates,
             |  h.doc_id AS chosen_doc, h.score AS chosen_score,
             |  l.doc_id AS rejected_doc, l.score AS rejected_score
             |FROM ranked h JOIN ranked l
             |  ON l.source = h.source AND h.rhi = 1 AND l.rlo = 1
             |ORDER BY h.source""".stripMargin)),

    // Canonicalization-then-dedup composition (the production exact-dedup
    // recipe: Unicode NFC + whitespace collapse + trim BEFORE hashing, so the
    // same logical text arriving composed vs decomposed or loosely spaced
    // collapses to one copy): a deterministic variant corpus (decomposed
    // accents + ragged whitespace) is unioned in, and only the canonical hash
    // finds the pairs — raw md5 would miss every one. Map-only canonicalize +
    // one digest-keyed groupBy, the dedup_hash_collapse shape.
    Q("dedup_canonical_text",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val base = docs.filter($"doc_id" < 200)
          .select($"doc_id", concat($"text", lit(" Caf\u00e9 dup")).as("raw"))
        val vari = docs.filter($"doc_id" < 200 && $"doc_id" % 3 === 0)
          .select(($"doc_id" + 100000).as("doc_id"),
            concat($"text", lit("  Cafe\u0301   dup ")).as("raw"))
        val canon = trim(regexp_replace(
          graft.functions.UnicodeNormalize.nfc_normalize($"raw"), "\\s+", " "))
        val withC = base.unionByName(vari)
          .select($"doc_id", md5(canon.cast("binary")).as("c"))
        val groups = withC.groupBy($"c")
          .agg(count(lit(1)).as("group_size"), min($"doc_id").as("keeper"))
        withC.join(groups, "c")
          .select($"doc_id", $"group_size", ($"doc_id" === $"keeper").as("keep"))
          .orderBy($"doc_id")
      },
      Some(("""WITH base AS (
             |  SELECT doc_id, text || ' Caf' || chr(233) || ' dup' AS raw
             |  FROM documents WHERE doc_id < 200
             |  UNION ALL
             |  SELECT doc_id + 100000,
             |    text || '  Cafe' || chr(769) || '   dup '
             |  FROM documents WHERE doc_id < 200 AND doc_id % 3 = 0),
             |c AS (
             |  SELECT doc_id,
             |    md5(trim(regexp_replace(nfc_normalize(raw), '\s+', ' ', 'g')))
             |      AS c
             |  FROM base),
             |g AS (
             |  SELECT c, COUNT(*) AS group_size, MIN(doc_id) AS keeper
             |  FROM c GROUP BY 1)
             |SELECT c.doc_id, g.group_size, c.doc_id = g.keeper AS keep
             |FROM c JOIN g USING (c)
             |ORDER BY c.doc_id""").stripMargin)),

    // Mean-average-precision retrieval eval (the IR-grade quality number for
    // an embedding space, next to sim_knn_classify's accuracy): each probe
    // ranks the corpus by exact cosine, AP@10 scores how early same-label
    // neighbors appear (precision accumulated at each relevant rank over
    // min(R,10)), and MAP averages per label. Ranks are integers and the
    // per-term precisions are small rationals summed in decimal => exact.
    Q("sim_map_eval",
      (s, dir) => {
        import s.implicits._
        val DEC = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
        val e = t(s, dir, "embeddings")
        val ranked = Similarity.bruteForceTopK(e.filter($"vec_id" < 20), e, k = 10)
          .select($"qid", $"rank", $"vid")
        val lbl = e.select($"vec_id", $"label")
        val lblCnt = lbl.groupBy($"label").agg(count(lit(1)).as("n_lbl"))
        val j = ranked
          .join(broadcast(lbl.select($"vec_id".as("qid"), $"label".as("qlabel"))),
            "qid")
          .join(broadcast(lbl.select($"vec_id".as("vid"), $"label".as("vlabel"))),
            "vid")
          .withColumn("rel", ($"qlabel" === $"vlabel").cast("int"))
        val w = Window.partitionBy($"qid").orderBy($"rank")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ap = j.withColumn("cum", sum($"rel").over(w))
          .withColumn("term", when($"rel" === 1,
            ($"cum".cast("double") / $"rank")).otherwise(lit(0.0d)).cast(DEC))
          .groupBy($"qid", $"qlabel").agg(sum($"term").cast("double").as("apsum"))
          .join(broadcast(lblCnt.select($"label".as("qlabel"), $"n_lbl")), "qlabel")
          .withColumn("ap10", $"apsum" / least($"n_lbl" - 1, lit(10)))
        ap.groupBy($"qlabel".as("label"))
          .agg(count(lit(1)).as("n_queries"),
            round(sum($"ap10".cast(DEC)).cast("double") / count(lit(1)), 9)
              .as("map10"))
          .orderBy($"label")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY 1),
             |dots AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20 GROUP BY 1, 2),
             |ranked AS (
             |  SELECT qid, vid, rank FROM (
             |    SELECT d.qid, d.vid,
             |      ROW_NUMBER() OVER (PARTITION BY d.qid
             |        ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |    FROM dots d
             |    JOIN norms nq ON nq.vec_id = d.qid
             |    JOIN norms nc ON nc.vec_id = d.vid) WHERE rank <= 10),
             |lblcnt AS (SELECT label, COUNT(*) AS n_lbl
             |           FROM embeddings GROUP BY 1),
             |j AS (
             |  SELECT r.qid, r.rank, ql.label AS qlabel,
             |    CASE WHEN ql.label = vl.label THEN 1 ELSE 0 END AS rel
             |  FROM ranked r
             |  JOIN embeddings ql ON ql.vec_id = r.qid
             |  JOIN embeddings vl ON vl.vec_id = r.vid),
             |terms AS (
             |  SELECT qid, qlabel, rank, rel,
             |    SUM(rel) OVER (PARTITION BY qid ORDER BY rank
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM j),
             |ap AS (
             |  SELECT t.qid, t.qlabel,
             |    CAST(SUM(CASE WHEN rel = 1
             |      THEN CAST(CAST(cum AS DOUBLE) / rank AS DECIMAL(30,12))
             |      ELSE CAST(0 AS DECIMAL(30,12)) END) AS DOUBLE)
             |      / LEAST(lc.n_lbl - 1, 10) AS ap10
             |  FROM terms t JOIN lblcnt lc ON lc.label = t.qlabel
             |  GROUP BY t.qid, t.qlabel, lc.n_lbl)
             |SELECT qlabel AS label, COUNT(*) AS n_queries,
             |  round(CAST(SUM(CAST(ap10 AS DECIMAL(30,12))) AS DOUBLE)
             |    / COUNT(*), 9) AS map10
             |FROM ap GROUP BY 1 ORDER BY label""".stripMargin)),

    // License classification for code/document corpora (the filter The Stack /
    // StarCoder pipelines run before training on crawled code: keep
    // permissive, drop copyleft/unknown): regex detectors for the common
    // license headers with fixed precedence (MIT > Apache-2.0 > GPL), plus a
    // keep/drop policy decision per doc. A deterministic subset of docs gets a
    // real license header injected so every class has positives. Map-only.
    Q("text_license_classify",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .withColumn("txt",
            when($"doc_id" % 13 === 0, concat($"text",
              lit(" Permission is hereby granted, free of charge (MIT License).")))
              .when($"doc_id" % 17 === 0, concat($"text",
                lit(" Licensed under the Apache License, Version 2.0.")))
              .when($"doc_id" % 19 === 0, concat($"text",
                lit(" GNU General Public License v3.")))
              .otherwise($"text"))
        docs.select($"doc_id",
            when($"txt".rlike("(?i)(mit license|permission is hereby granted)"),
              lit("mit"))
              .when($"txt".rlike("(?i)apache license"), lit("apache-2.0"))
              .when($"txt".rlike("(?i)(gnu general public license|\\bgpl\\b)"),
                lit("gpl"))
              .otherwise(lit("unknown")).as("license"))
          .withColumn("keep", $"license".isin("mit", "apache-2.0"))
          .groupBy($"license", $"keep")
          .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"))
          .orderBy($"license")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE
             |      WHEN doc_id % 13 = 0 THEN text ||
             |        ' Permission is hereby granted, free of charge (MIT License).'
             |      WHEN doc_id % 17 = 0 THEN text ||
             |        ' Licensed under the Apache License, Version 2.0.'
             |      WHEN doc_id % 19 = 0 THEN text ||
             |        ' GNU General Public License v3.'
             |      ELSE text END AS txt
             |  FROM documents),
             |cls AS (
             |  SELECT doc_id,
             |    CASE
             |      WHEN regexp_matches(txt,
             |        '(?i)(mit license|permission is hereby granted)') THEN 'mit'
             |      WHEN regexp_matches(txt, '(?i)apache license')
             |        THEN 'apache-2.0'
             |      WHEN regexp_matches(txt,
             |        '(?i)(gnu general public license|\bgpl\b)') THEN 'gpl'
             |      ELSE 'unknown' END AS license
             |  FROM d)
             |SELECT license, license IN ('mit', 'apache-2.0') AS keep,
             |  COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
             |FROM cls GROUP BY 1, 2 ORDER BY license""".stripMargin)),

    // Prose-vs-code routing (the corpus splitter that decides which cleaning
    // pipeline a document enters): indentation ratio, code-symbol density, and
    // programming-keyword hits combine into a deterministic is_code vote
    // (2 of 3 signals). A subset of docs gets a real code block injected so
    // the detector has positives. Map-only per doc.
    Q("text_code_detect",
      (s, dir) => {
        import s.implicits._
        val snippet = "\ndef main(args):\n    x = compute(args)\n" +
          "    if x > 0:\n        return {x: 1}\n    return None\n"
        val docs = t(s, dir, "documents")
          .withColumn("txt",
            when($"doc_id" % 23 === 0, concat($"text", lit(snippet)))
              .otherwise($"text"))
        val nLines = size(split($"txt", "\n"))
        val nIndent = regexp_count($"txt", lit("(?m)^(    |\\t)"))
        val nSym = regexp_count($"txt", lit("[{}()\\[\\]=;:]"))
        val nKw = regexp_count($"txt",
          lit("\\b(def|class|return|import|function|var|const)\\b"))
        docs.select($"doc_id", length($"txt").as("n_chars"),
            nLines.as("n_lines"), nIndent.as("n_indent"),
            nSym.as("n_sym"), nKw.as("n_kw"))
          .withColumn("sig_indent",
            $"n_indent" * 5 >= $"n_lines") // >= 20% indented lines
          .withColumn("sig_sym",
            $"n_sym" * 50 >= $"n_chars") // >= 2% symbol chars
          .withColumn("sig_kw", $"n_kw" >= 3)
          .select($"doc_id", $"n_lines", $"n_indent", $"n_sym", $"n_kw",
            (($"sig_indent".cast("int") + $"sig_sym".cast("int") +
              $"sig_kw".cast("int")) >= 2).as("is_code"))
          .orderBy($"doc_id")
      },
      Some(("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 23 = 0 THEN text || CODE_SNIPPET
             |         ELSE text END AS txt
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, len(txt) AS n_chars,
             |    CAST(len(string_split(txt, chr(10))) AS INTEGER) AS n_lines,
             |    CAST(len(regexp_extract_all(txt, '(?m)^(    |\t)'))
             |      AS INTEGER) AS n_indent,
             |    CAST(len(regexp_extract_all(txt, '[{}()\[\]=;:]'))
             |      AS INTEGER) AS n_sym,
             |    CAST(len(regexp_extract_all(txt,
             |      '\b(def|class|return|import|function|var|const)\b'))
             |      AS INTEGER) AS n_kw
             |  FROM d)
             |SELECT doc_id, n_lines, n_indent, n_sym, n_kw,
             |  (CAST(n_indent * 5 >= n_lines AS INTEGER) +
             |   CAST(n_sym * 50 >= n_chars AS INTEGER) +
             |   CAST(n_kw >= 3 AS INTEGER)) >= 2 AS is_code
             |FROM m ORDER BY doc_id""")
        .replace("CODE_SNIPPET",
          "(chr(10) || 'def main(args):' || chr(10) || " +
          "'    x = compute(args)' || chr(10) || " +
          "'    if x > 0:' || chr(10) || " +
          "'        return {x: 1}' || chr(10) || " +
          "'    return None' || chr(10))").stripMargin))
  )
}
