package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.{Similarity, TextFunctions => TF}
import QueryDSL._

/** Third-wave LLM-data-pipeline operators, grouped by what a pretraining data
  * team runs them for:
  *
  *  - retrieval/eval: int8-quantized two-stage search, binary-sign Hamming,
  *    Matryoshka prefix-dim recall, RRF fusion, MAP eval, hard negatives,
  *    RM3 query expansion, MinHash-LSH precision/recall audit;
  *  - corpus QA/routing: mojibake triage, Unicode-script profiling, sentence
  *    shape, license classification, prose-vs-code routing, substring-span
  *    and canonicalized exact dedup, perceptual-hash image dedup, keyframes;
  *  - tokenizer/objective prep: BPE training + encode, fertility, CCNet
  *    surprisal buckets, span-corruption plans, PMI co-occurrence, epoch
  *    reshuffling, preference pairs;
  *  - and the `pipeline_pretrain_funnel` composition chaining the gates
  *    end to end with per-language survivor accounting.
  *
  * Same contract as every family: each query is scale-shaped (broadcast-
  * bounded candidate generation, no all-pairs, top-k via TakeOrdered not
  * global sort, fixture injection where the synthetic corpus lacks positives)
  * and carries a DuckDB oracle. */
object LlmExt2 {

  /** Mojibake suffix injected into a deterministic subset of docs so the detector
    * has real positives: the UTF-8 bytes of "été — naïve" mis-decoded as
    * cp1252 (the classic double-encoding artifact). Explicit \u escapes so a
    * source-file transcoding can never silently "fix" the fixture. */
  private val mojibakeSuffix =
    " \u00c3\u00a9t\u00c3\u00a9 \u00e2\u20ac\u201d na\u00c3\u00afve"

  /** DuckDB spelling of [[mojibakeSuffix]] (chr() per codepoint — same
    * transcoding-proofing). */
  private val duckMojibakeSuffixSql: String =
    "(' ' || chr(195) || chr(169) || 't' || chr(195) || chr(169) || ' ' || " +
      "chr(226) || chr(8364) || chr(8221) || ' na' || chr(195) || chr(175) || 've')"

  /** Mojibake detector regex: cp1252 renderings of UTF-8 lead bytes C3/C2
    * followed by a continuation-range char, and the E2-80-xx punctuation family
    * (curly quotes / dashes / ™). Java regex spelling. */
  private val mojiPattern =
    "(\u00c3[\u00a0-\u00bf]|\u00e2\u20ac[\u2018\u2019\u201c\u201d\u2122]|\u00c2[\u00a0-\u00bf])"

  /** DuckDB (RE2) spelling of [[mojiPattern]], chr()-built. */
  private val duckMojiPatternSql: String =
    "('(' || chr(195) || '[' || chr(160) || '-' || chr(191) || ']|' || " +
      "chr(226) || chr(8364) || '[' || chr(8216) || chr(8217) || " +
      "chr(8220) || chr(8221) || chr(8482) || ']|' || " +
      "chr(194) || '[' || chr(160) || '-' || chr(191) || '])')"

  val queries: Seq[Q] = Seq(

    // Two-stage quantized similarity search (the production ANN shape for an
    // int8-compressed embedding store): candidates ranked by the INTEGER dot
    // product of per-vector int8 codes (4x less memory traffic than float32,
    // SIMD-able, and — unlike float ADC — exactly reproducible on any engine),
    // then the top-20 candidates per query reranked with the decimal-exact
    // cosine. Scale shape: the query side broadcasts (eval probes are tiny);
    // corpus codes stream map-only through the integer scorer; the expensive
    // exact rerank touches only |Q|x20 pairs. At 100 TB the same two stages
    // compose with IVF routing (sim_ann_ivfpq_adc) to prune the corpus scan.
    // Integer candidate generation makes this variant hash-checkable, unlike
    // the float-scored LSH/IVF family (declared rows-only).
    Q("sim_int8_rerank",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val flat = e
          .select($"vec_id", posexplode($"embedding").as(Seq("pos", "vf")))
          .select($"vec_id", $"pos", $"vf".cast("double").as("v"))
        val stats = flat.groupBy($"vec_id")
          .agg(min($"v").as("vmin"), max($"v").as("vmax"))
          .withColumn("scale", ($"vmax" - $"vmin") / lit(255.0d))
        // same per-vector affine code grid as embed_quantize_int8 (round is
        // half-away-from-zero on both engines for non-negative args)
        val codes = flat.join(stats, "vec_id")
          .withColumn("q", when($"scale" === 0d, lit(0L))
            .otherwise(round(($"v" - $"vmin") / $"scale", 0).cast("long")))
          .groupBy($"vec_id")
          .agg(transform(array_sort(collect_list(struct($"pos", $"q"))),
            x => x.getField("q")).as("qc"))
        val qs = codes.filter($"vec_id" < 10)
          .select($"vec_id".as("qid"), $"qc".as("qq"))
        val cs = codes.select($"vec_id".as("vid"), $"qc".as("cq"))
        // integer dot: associative, overflow-free (64 dims x 255^2 << 2^63);
        // ivec_dot is the codegen'd long-loop expression (HOF-bit-equal,
        // spec-enforced) — the quantized scan IS the hot path at scale
        val idot = cs.join(broadcast(qs), $"qid" =!= $"vid")
          .withColumn("idot",
            graft.functions.VectorFunctions.ivec_dot($"qq", $"cq"))
        val wc = Window.partitionBy($"qid").orderBy($"idot".desc, $"vid")
        val cand = idot.withColumn("rn", row_number().over(wc))
          .filter($"rn" <= 20).select($"qid", $"vid")
        val qe = e.select($"vec_id".as("qid"), $"embedding".as("qvec"),
          Similarity.normExact($"embedding").as("qn"))
        val ce = e.select($"vec_id".as("vid"), $"embedding".as("cvec"),
          Similarity.normExact($"embedding").as("cn"))
        val scored = cand.join(broadcast(qe), "qid").join(ce, "vid")
          .withColumn("cosine",
            Similarity.dotExact($"qvec", $"cvec") / ($"qn" * $"cn"))
        val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"vid")
        scored.withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
          .select($"qid", $"rank", $"vid", round($"cosine", 9).as("cosine"))
          .orderBy($"qid", $"rank")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |stats AS (
             |  SELECT vec_id, MIN(v) AS vmin, MAX(v) AS vmax,
             |         (MAX(v) - MIN(v)) / 255.0 AS scale
             |  FROM flat GROUP BY 1),
             |codes AS (
             |  SELECT f.vec_id, f.pos,
             |    CASE WHEN s.scale = 0 THEN 0
             |         ELSE CAST(round((f.v - s.vmin) / s.scale) AS BIGINT) END AS q
             |  FROM flat f JOIN stats s ON f.vec_id = s.vec_id),
             |idots AS (
             |  SELECT cq.vec_id AS qid, cc.vec_id AS vid,
             |         CAST(SUM(cq.q * cc.q) AS BIGINT) AS idot
             |  FROM codes cq
             |  JOIN codes cc ON cq.pos = cc.pos AND cq.vec_id <> cc.vec_id
             |  WHERE cq.vec_id < 10
             |  GROUP BY 1, 2),
             |cand AS (
             |  SELECT qid, vid FROM (
             |    SELECT qid, vid,
             |      ROW_NUMBER() OVER (PARTITION BY qid
             |        ORDER BY idot DESC, vid) AS rn
             |    FROM idots) WHERE rn <= 20),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY 1),
             |dots AS (
             |  SELECT c.qid, c.vid,
             |    CAST(SUM(CAST(fq.v * fc.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM cand c
             |  JOIN flat fq ON fq.vec_id = c.qid
             |  JOIN flat fc ON fc.vec_id = c.vid AND fc.pos = fq.pos
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT d.qid, d.vid, d.dot / (nq.nrm * nc.nrm) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY d.qid
             |      ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |  FROM dots d
             |  JOIN norms nq ON nq.vec_id = d.qid
             |  JOIN norms nc ON nc.vec_id = d.vid)
             |SELECT qid, rank, vid, round(cosine, 9) AS cosine
             |FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // Matryoshka (MRL) prefix-dimension retrieval audit: exact top-5 neighbors
    // using only the FIRST 16 of 64 dimensions, scored against the full-dim
    // exact top-5 — the "can I search the cheap prefix and rerank with the full
    // vector" decision every MRL deployment makes. Both sides are decimal-exact
    // brute force (the sanctioned oracle baseline; prefix search IS the scale
    // path: 4x less memory traffic, and at 100 TB the prefix store is the one
    // that fits in cache). Overlap counts are integers => hash-exact.
    Q("embed_matryoshka_recall",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val full = Similarity.bruteForceTopK(e.filter($"vec_id" < 20), e, k = 5)
          .select($"qid", $"vid")
        val pre = e.select($"vec_id", slice($"embedding", 1, 16).as("embedding"))
        val prefix = Similarity
          .bruteForceTopK(pre.filter($"vec_id" < 20), pre, k = 5)
          .select($"qid".as("pqid"), $"vid".as("pvid"))
        val overlap = full
          .join(prefix, $"qid" === $"pqid" && $"vid" === $"pvid")
          .groupBy($"qid").agg(count(lit(1)).as("n_overlap"))
        full.groupBy($"qid").agg(count(lit(1)).as("k"))
          .join(overlap, Seq("qid"), "left")
          .select($"qid", $"k",
            coalesce($"n_overlap", lit(0L)).as("n_overlap"),
            (coalesce($"n_overlap", lit(0L)) / $"k".cast("double")).as("recall"))
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
             |pnorms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat WHERE pos <= 16 GROUP BY 1),
             |fdots AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20 GROUP BY 1, 2),
             |pdots AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20 AND q.pos <= 16 AND c.pos <= 16
             |  GROUP BY 1, 2),
             |ftop AS (
             |  SELECT qid, vid FROM (
             |    SELECT d.qid, d.vid,
             |      ROW_NUMBER() OVER (PARTITION BY d.qid
             |        ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |    FROM fdots d
             |    JOIN norms nq ON nq.vec_id = d.qid
             |    JOIN norms nc ON nc.vec_id = d.vid) WHERE rank <= 5),
             |ptop AS (
             |  SELECT qid, vid FROM (
             |    SELECT d.qid, d.vid,
             |      ROW_NUMBER() OVER (PARTITION BY d.qid
             |        ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |    FROM pdots d
             |    JOIN pnorms nq ON nq.vec_id = d.qid
             |    JOIN pnorms nc ON nc.vec_id = d.vid) WHERE rank <= 5),
             |ov AS (
             |  SELECT f.qid, COUNT(*) AS n_overlap
             |  FROM ftop f JOIN ptop p ON p.qid = f.qid AND p.vid = f.vid
             |  GROUP BY 1)
             |SELECT f.qid, COUNT(*) AS k,
             |  CAST(COALESCE(MAX(ov.n_overlap), 0) AS BIGINT) AS n_overlap,
             |  COALESCE(MAX(ov.n_overlap), 0) / CAST(COUNT(*) AS DOUBLE) AS recall
             |FROM ftop f LEFT JOIN ov ON ov.qid = f.qid
             |GROUP BY f.qid ORDER BY f.qid""".stripMargin)),

    // Duplicated-substring-span detection (the character-level complement to
    // token-shingle dedup — catches verbatim quote/boilerplate reuse that token
    // shingles dilute; Lee et al. 2022 "Deduplicating Training Data Makes
    // Language Models Better" runs exactly this over pretraining corpora):
    // slide a 40-char window at stride 10 over each doc, find windows whose
    // text occurs in >= 2 distinct docs, report per-doc duplicated-span density.
    // Scale shape: stride bounds spans at n_chars/10 per doc; the groupBy key
    // here is the span text itself for DuckDB-mirrorability — at 100 TB you
    // group by a 128-bit span digest (collision-free in practice) and df-cap
    // ubiquitous spans exactly like the shingle store (Dedup.dfCap).
    Q("dedup_substring_span",
      (s, dir) => {
        import s.implicits._
        val L = 40
        val stride = 10
        val spans = t(s, dir, "documents")
          .select($"doc_id", $"text", length($"text").as("n"))
          .filter($"n" >= L)
          .select($"doc_id", $"text",
            explode(sequence(lit(1), $"n" - (L - 1), lit(stride))).as("pos"))
          .select($"doc_id", expr(s"substring(text, pos, $L)").as("span"))
        val shared = spans.select($"doc_id", $"span").distinct()
          .groupBy($"span").agg(countDistinct($"doc_id").as("n_docs"))
          .filter($"n_docs" >= 2)
        spans
          .join(shared.select($"span", lit(1).as("dup")), Seq("span"), "left")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when($"dup".isNotNull, 1L).otherwise(0L)).as("n_dup_spans"))
          .select($"doc_id", $"n_spans", $"n_dup_spans",
            round($"n_dup_spans" / $"n_spans".cast("double"), 9).as("dup_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH spans AS (
             |  SELECT doc_id,
             |    substring(text, CAST(pos AS INTEGER), 40) AS span
             |  FROM (
             |    SELECT doc_id, text,
             |      unnest(generate_series(1, len(text) - 39, 10)) AS pos
             |    FROM documents WHERE len(text) >= 40)),
             |shared AS (
             |  SELECT span FROM (
             |    SELECT span, COUNT(DISTINCT doc_id) AS n_docs
             |    FROM spans GROUP BY 1) WHERE n_docs >= 2)
             |SELECT s.doc_id,
             |  COUNT(*) AS n_spans,
             |  CAST(SUM(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_dup_spans,
             |  round(SUM(CASE WHEN sh.span IS NOT NULL THEN 1 ELSE 0 END)
             |    / CAST(COUNT(*) AS DOUBLE), 9) AS dup_ratio
             |FROM spans s LEFT JOIN shared sh ON sh.span = s.span
             |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Encoding-anomaly (mojibake) triage: count UTF-8-as-cp1252 double-encoding
    // artifacts and U+FFFD replacement chars, plus the non-ASCII character
    // count/ratio — the cheap corpus-health report run before any tokenizer
    // sees the text. A deterministic subset of docs gets a known-bad suffix
    // injected so the detector has real positives (same fixture pattern as the
    // NFC family). Map-only per doc => embarrassingly parallel at any scale.
    Q("text_mojibake_detect",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .withColumn("txt",
            when($"doc_id" % 7 === 0, concat($"text", lit(mojibakeSuffix)))
              .when($"doc_id" % 11 === 0,
                concat($"text", lit(" bad\ufffdbyte")))
              .otherwise($"text"))
        docs.select(
            $"doc_id",
            length($"txt").as("n_chars"),
            regexp_count($"txt", lit("\ufffd")).as("n_fffd"),
            regexp_count($"txt", lit(mojiPattern)).as("n_moji"),
            length(regexp_replace($"txt", "[\\x00-\\x7F]", ""))
              .as("n_nonascii"))
          .select($"doc_id", $"n_chars", $"n_fffd", $"n_moji", $"n_nonascii",
            round($"n_nonascii" / $"n_chars".cast("double"), 9)
              .as("nonascii_ratio"),
            ($"n_fffd" > 0 || $"n_moji" > 0).as("suspect"))
          .orderBy($"doc_id")
      },
      Some(("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 7 = 0 THEN text || MOJISUFFIX
             |         WHEN doc_id % 11 = 0
             |           THEN text || (' bad' || chr(65533) || 'byte')
             |         ELSE text END AS txt
             |  FROM documents),
             |m AS (
             |  SELECT doc_id, CAST(len(txt) AS INTEGER) AS n_chars,
             |    CAST(len(regexp_extract_all(txt, chr(65533))) AS INTEGER)
             |      AS n_fffd,
             |    CAST(len(regexp_extract_all(txt, MOJIPAT)) AS INTEGER)
             |      AS n_moji,
             |    CAST(len(regexp_replace(txt, '[\x00-\x7F]', '', 'g'))
             |      AS INTEGER) AS n_nonascii
             |  FROM d)
             |SELECT doc_id, n_chars, n_fffd, n_moji, n_nonascii,
             |  round(n_nonascii / CAST(n_chars AS DOUBLE), 9) AS nonascii_ratio,
             |  (n_fffd > 0 OR n_moji > 0) AS suspect
             |FROM m ORDER BY doc_id""")
        .replace("MOJISUFFIX", duckMojibakeSuffixSql)
        .replace("MOJIPAT", duckMojiPatternSql).stripMargin)),

    // Hybrid retrieval with Reciprocal Rank Fusion (RRF, the standard
    // lexical+semantic combiner): fuse the BM25 top-20 for a fixed 3-term query
    // with the exact-cosine top-20 of a fixed probe vector (doc_id = vec_id),
    // score = sum over lists of 1/(60+rank). Ranks are integers and the fused
    // score is a FIXED two-term double sum => cross-engine exact. Scale shape:
    // both lists are TakeOrdered top-k reductions (no global sort — the
    // row_number window runs AFTER the limit, over <= 20 rows); the fusion join
    // is on doc_id over 2x20 rows — driver-size regardless of corpus size.
    Q("text_rrf_fusion",
      (s, dir) => {
        import s.implicits._
        val qTerms = Seq("spark", "join", "merge")
        // `docs` feeds three consumers (scalars, tf, df), so one tokenize
        // pass is checkpointed; tf is the same (doc,dl,term) grouping and
        // df = tf's per-term row count (the tf rows ARE the distinct
        // (doc,term) pairs).
        val docs = spread(t(s, dir, "documents"))
          .select($"doc_id", TF.tokens($"text").as("toks"))
          .select($"doc_id", $"toks", size($"toks").cast("bigint").as("dl"))
          .localCheckpoint()
        val scalars = docs.agg(count(lit(1)).as("n_docs"),
          sum($"dl").as("total_tokens"))
        val tf = docs.select($"doc_id", $"dl", explode($"toks").as("term"))
          .filter($"term".isin(qTerms: _*))
          .groupBy($"doc_id", $"dl", $"term")
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint()
        val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
        val avgdl = $"total_tokens".cast("double") / $"n_docs"
        val idf = log(($"n_docs".cast("double") - $"df" + lit(0.5)) /
          ($"df" + lit(0.5)) + lit(1.0))
        val contrib = idf * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / avgdl))
        val scored = tf.join(broadcast(df), Seq("term"))
          .crossJoin(broadcast(scalars))
          .select($"doc_id", $"term", contrib.as("c"))
        val perTerm = qTerms.map(qt =>
          coalesce(max(when($"term" === qt, $"c")), lit(0.0d)))
        // top-20 via TakeOrdered FIRST, then rank the surviving <= 20 rows
        val wl = Window.orderBy($"bm25".desc, $"doc_id")
        val lex = scored.groupBy($"doc_id")
          .agg((perTerm(0) + perTerm(1) + perTerm(2)).as("raw"))
          .select($"doc_id", round($"raw", 9).as("bm25"))
          .orderBy($"bm25".desc, $"doc_id").limit(20)
          .withColumn("r_lex", row_number().over(wl))
          .select($"doc_id", $"r_lex")
        val e = t(s, dir, "embeddings")
        val probe = e.filter($"vec_id" === 0)
          .select($"embedding".as("qvec"),
            Similarity.normExact($"embedding").as("qn"))
        val ws = Window.orderBy($"cosine".desc, $"doc_id")
        // the per-row exact norm/dot decimal work runs on the spread frame
        val sem = spread(e.filter($"vec_id" =!= 0), $"vec_id")
          .crossJoin(broadcast(probe))
          .select($"vec_id".as("doc_id"),
            (Similarity.dotExact($"embedding", $"qvec") /
              (Similarity.normExact($"embedding") * $"qn")).as("cosine"))
          .orderBy($"cosine".desc, $"doc_id").limit(20)
          .withColumn("r_sem", row_number().over(ws))
          .select($"doc_id", $"r_sem")
        lex.join(sem, Seq("doc_id"), "full_outer")
          .select($"doc_id",
            coalesce($"r_lex", lit(0)).as("r_lex"),
            coalesce($"r_sem", lit(0)).as("r_sem"),
            round(
              coalesce(lit(1.0d) / (lit(60) + $"r_lex"), lit(0.0d)) +
                coalesce(lit(1.0d) / (lit(60) + $"r_sem"), lit(0.0d)),
              9).as("rrf"))
          .orderBy($"rrf".desc, $"doc_id")
          .limit(10)
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
             |lex AS (
             |  SELECT doc_id, r_lex FROM (
             |    SELECT doc_id,
             |      ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
             |    FROM (
             |      SELECT doc_id,
             |        round((COALESCE(MAX(CASE WHEN term = 'spark' THEN c END), 0.0) +
             |               COALESCE(MAX(CASE WHEN term = 'join'  THEN c END), 0.0)) +
             |               COALESCE(MAX(CASE WHEN term = 'merge' THEN c END), 0.0), 9)
             |          AS bm25
             |      FROM bscored GROUP BY doc_id))
             |  WHERE r_lex <= 20),
             |flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY 1),
             |sdots AS (
             |  SELECT c.vec_id AS doc_id,
             |    CAST(SUM(CAST(q.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos
             |  WHERE q.vec_id = 0 AND c.vec_id <> 0
             |  GROUP BY 1),
             |sem AS (
             |  SELECT doc_id, r_sem FROM (
             |    SELECT d.doc_id,
             |      ROW_NUMBER() OVER (
             |        ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.doc_id) AS r_sem
             |    FROM sdots d
             |    JOIN norms nq ON nq.vec_id = 0
             |    JOIN norms nc ON nc.vec_id = d.doc_id)
             |  WHERE r_sem <= 20)
             |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             |  CAST(COALESCE(l.r_lex, 0) AS INTEGER) AS r_lex,
             |  CAST(COALESCE(s.r_sem, 0) AS INTEGER) AS r_sem,
             |  round(COALESCE(1.0 / (60 + l.r_lex), 0.0) +
             |        COALESCE(1.0 / (60 + s.r_sem), 0.0), 9) AS rrf
             |FROM lex l FULL OUTER JOIN sem s ON s.doc_id = l.doc_id
             |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Mixed-format image decode with media_type DISPATCH (graft.llm.Ppm joins
    // graft.llm.Bmp): even doc_ids arrive as padded bottom-up BGR BMPs, odd as
    // unpadded top-down RGB binary-P6 PPMs — same pixel formula either way, so
    // the only way to hash-match is to route each record to the RIGHT codec and
    // have BOTH codecs correct (feeding one format to the other decoder fails
    // loudly on magic bytes; a subtler stride/order bug flips wsum_r). The
    // oracle recomputes the statistics from the pixel formula with no decoder,
    // and checks each format's size arithmetic via payload_bytes. Map-only =>
    // embarrassingly parallel; at 100 TB this is the archetypal binary-column
    // pipeline stage (decode cost scales with bytes, zero shuffle).
    Q("multimodal_mixed_decode",
      (s, dir) => {
        import s.implicits._
        graft.llm.Multimodal.extractFeaturesDispatch(s,
            graft.llm.Multimodal.syntheticMixedImages(s,
              t(s, dir, "documents").filter($"doc_id" < 100)))
          .toDF()
          .select($"doc_id",
            when($"doc_id" % 2 === 0, lit("image/bmp"))
              .otherwise(lit("image/x-portable-pixmap")).as("media_type"),
            $"width".cast("long").as("width"),
            $"height".cast("long").as("height"), $"n_px", $"payload_bytes",
            $"sum_r", $"sum_g", $"sum_b", $"wsum_r")
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 100),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM dims),
             |px AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
             |v AS (SELECT doc_id, w, h, x, y,
             |        (doc_id*31 + x*7 + y*13) % 256 AS r,
             |        (doc_id*31 + x*7 + y*13 + 101) % 256 AS g,
             |        (doc_id*31 + x*7 + y*13 + 202) % 256 AS b
             |      FROM px)
             |SELECT doc_id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp'
             |       ELSE 'image/x-portable-pixmap' END AS media_type,
             |  w AS width, h AS height,
             |  COUNT(*) AS n_px,
             |  CASE WHEN doc_id % 2 = 0
             |       THEN 54 + (3*w + (4 - (3*w) % 4) % 4) * h
             |       ELSE 3 + length(CAST(w AS VARCHAR)) + 1 +
             |            length(CAST(h AS VARCHAR)) + 1 + 4 + 3*w*h
             |  END AS payload_bytes,
             |  CAST(SUM(r) AS BIGINT) AS sum_r,
             |  CAST(SUM(g) AS BIGINT) AS sum_g,
             |  CAST(SUM(b) AS BIGINT) AS sum_b,
             |  CAST(SUM((x + 2*y + 1) * r) AS BIGINT) AS wsum_r
             |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // Top principal direction of the embedding Gram matrix via 3 synchronous
    // power iterations — the "is there one dominant axis eating my embedding
    // space" anisotropy check (Mu & Viswanath 2018 run exactly this before
    // all-but-the-top post-processing). Scale shape: the Gram matrix G[p,q] =
    // sum_i v_ip*v_iq accumulates via map-side partial aggregation into d^2 =
    // 4096 cells REGARDLESS of corpus size (the only full-data pass); each
    // power iteration is then a d^2-row join — driver-scale work. Determinism:
    // every cross-engine sum is decimal (associative); matvec terms are scaled
    // by 2^-15 (exact power-of-two division) before the decimal cast so all
    // cast inputs stay small-magnitude, where the double->decimal grid is
    // coarser than the ulp and both engines round identically (QueryDSL note).
    Q("embed_pca_power",
      (s, dir) => {
        import s.implicits._
        val DEC = org.apache.spark.sql.types.DataTypes.createDecimalType(30, 12)
        val SC = 32768.0d
        // Gram accumulation as ONE typed aggregation (Aggregators.GramExact):
        // each partition folds its vectors into a d(d+1)/2-cell scaled-long
        // buffer (per-term rounding bit-identical to the decimal(30,12) cast,
        // spec-enforced), partials merge exactly — no n·d² row explosion, no
        // shuffle beyond the 2080-long partial buffers. Upper triangle only;
        // float multiplication is exactly commutative, so mirroring after the
        // aggregation is bit-exact. (History: full self-join 12.5s → slice
        // generator 6.5s → this 1-buffer aggregation, the distributed-linear-
        // algebra shape a 100 TB anisotropy pass actually uses.)
        val e = t(s, dir, "embeddings")
        val d = e.select(size($"embedding")).head().getInt(0)
        // Round 16: a §2.5 repartition before the Gram fold was tried and
        // REVERTED — the 1-task scan feeding the exchange cost more than the
        // fused scan+fold stage it replaced (census 993 ms vs 231 ms for the
        // old combined stage; totals flat at best), and at 100 TB the fold's
        // map-side partials are already parallel on multi-file input while
        // the repartition would shuffle every vector once for nothing.
        val cellsRow = e.select($"embedding").as[Array[Float]]
          .select(new graft.functions.Aggregators.GramExact(d)
            .toColumn.name("cells"))
          .toDF("cells")
        val idx = (for {
          p0 <- 0 until d
          q0 <- p0 until d
        } yield (p0 * (2 * d - p0 + 1) / 2 + (q0 - p0), p0 + 1, q0 + 1)).toDF("i", "p", "q")
        val upper = cellsRow
          .select(posexplode($"cells").as(Seq("i", "g")))
          .join(broadcast(idx), "i")
          .select($"p", $"q", $"g")
        val gram = upper
          .unionByName(upper.filter($"p" =!= $"q")
            .select($"q".as("p"), $"p".as("q"), $"g"))
          .localCheckpoint() // 4096 cells: cut the generator lineage once
        def matvec(b: org.apache.spark.sql.DataFrame) =
          gram.join(b, $"q" === $"bpos")
            .select($"p", (($"g" * $"bv") / lit(SC)).cast(DEC).as("term"))
            .groupBy($"p").agg(sum($"term").cast("double").as("y"))
        def normalize(y: org.apache.spark.sql.DataFrame) = {
          val n = y.agg(sqrt(sum(($"y" * $"y").cast(DEC)).cast("double")).as("nv"))
          y.crossJoin(broadcast(n))
            .select($"p".as("bpos"), ($"y" / $"nv").as("bv"))
        }
        var b = gram.select($"p".as("bpos")).distinct().withColumn("bv", lit(1.0d))
        // normalize() consumes its input twice (norm agg + division) and lam
        // reuses b twice more — without materialization the lineage DOUBLES per
        // iteration (the static plan hits ~111 shuffles). Each b/y frame is d
        // = 64 rows, so an eager localCheckpoint per step is a no-op cost that
        // keeps every stage's plan one-join deep — the same driver-scale
        // materialization a production solver applies to its iterate.
        for (_ <- 1 to 3)
          b = normalize(matvec(b).localCheckpoint()).localCheckpoint()
        // Rayleigh quotient lambda = b'Gb, same scaled-decimal discipline
        val lam = matvec(b).join(b, $"p" === $"bpos")
          .agg((sum(($"y" * $"bv").cast(DEC)).cast("double") * lit(SC)).as("l"))
        b.crossJoin(broadcast(lam))
          .select($"bpos".as("pos"), round($"bv", 9).as("loading"),
            round($"l", 6).as("eigenvalue"))
          .orderBy($"pos")
      },
      Some {
        val iter = (k: Int) =>
          s"""y$k AS (
             |  SELECT g.p, CAST(SUM(CAST(g.g * b.bv / 32768.0
             |    AS DECIMAL(30,12))) AS DOUBLE) AS y
             |  FROM gram g JOIN b${k - 1} b ON b.bpos = g.q GROUP BY 1),
             |n$k AS (
             |  SELECT sqrt(CAST(SUM(CAST(y * y AS DECIMAL(30,12))) AS DOUBLE))
             |    AS nv FROM y$k),
             |b$k AS (SELECT p AS bpos, y / nv AS bv FROM y$k, n$k)""".stripMargin
        s"""WITH flat AS (
           |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
           |         generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |gram AS (
           |  SELECT a.pos AS p, c.pos AS q,
           |    CAST(SUM(CAST(a.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS g
           |  FROM flat a JOIN flat c ON a.vec_id = c.vec_id
           |  GROUP BY 1, 2),
           |b0 AS (SELECT DISTINCT p AS bpos, CAST(1.0 AS DOUBLE) AS bv FROM gram),
           |${(1 to 3).map(iter).mkString(",\n")},
           |lam AS (
           |  SELECT CAST(SUM(CAST(y.y * b.bv AS DECIMAL(30,12))) AS DOUBLE)
           |    * 32768.0 AS l
           |  FROM (
           |    SELECT g.p, CAST(SUM(CAST(g.g * b3.bv / 32768.0
           |      AS DECIMAL(30,12))) AS DOUBLE) AS y
           |    FROM gram g JOIN b3 ON b3.bpos = g.q GROUP BY 1) y
           |  JOIN b3 b ON b.bpos = y.p)
           |SELECT b.bpos AS pos, round(b.bv, 9) AS loading,
           |  round(lam.l, 6) AS eigenvalue
           |FROM b3 b, lam ORDER BY pos""".stripMargin
      }),

    // Sentence-level shape statistics (the segmentation-free kind both engines
    // can mirror exactly: sentences counted as runs of terminator punctuation,
    // not a lookbehind split RE2 can't express): per-doc sentence count, mean
    // sentence length, question/exclamation mix, and whether the doc ends on a
    // clean sentence boundary — the "is this prose or a fragment dump" quality
    // signal next to text_quality_features. Map-only per doc.
    Q("text_sentence_stats",
      (s, dir) => {
        import s.implicits._
        // the synthetic corpus is punctuation-free word soup — inject a real
        // punctuated suffix on a deterministic subset so every statistic has
        // positives (the mojibake/license fixture pattern)
        t(s, dir, "documents")
          .withColumn("text",
            when($"doc_id" % 5 === 0,
              concat($"text", lit(" First point. Really? Yes! Done.")))
              .otherwise($"text"))
          .select($"doc_id", length($"text").as("n_chars"),
            regexp_count($"text", lit("[.!?]+")).as("n_sent"),
            regexp_count($"text", lit("\\?")).as("n_quest"),
            regexp_count($"text", lit("!")).as("n_exclaim"),
            rtrim($"text").rlike("[.!?]$").as("ends_clean"))
          .select($"doc_id", $"n_chars", $"n_sent", $"n_quest", $"n_exclaim",
            round($"n_chars" / greatest($"n_sent", lit(1)).cast("double"), 9)
              .as("chars_per_sent"),
            $"ends_clean")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0
             |      THEN text || ' First point. Really? Yes! Done.'
             |      ELSE text END AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(text) AS INTEGER) AS n_chars,
             |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS INTEGER) AS n_sent,
             |  CAST(len(regexp_extract_all(text, '\?')) AS INTEGER) AS n_quest,
             |  CAST(len(regexp_extract_all(text, '!')) AS INTEGER) AS n_exclaim,
             |  round(len(text) / CAST(GREATEST(
             |    len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE), 9)
             |    AS chars_per_sent,
             |  regexp_matches(rtrim(text), '[.!?]$') AS ends_clean
             |FROM d ORDER BY doc_id""".stripMargin)),

    // BPE tokenizer TRAINING, 3 unrolled merge rounds (Sennrich et al. 2016):
    // count adjacent symbol pairs over the frequency-weighted vocabulary, pick
    // the most frequent pair (ties to lexicographically smallest — the
    // determinism rule), apply the merge left-to-right non-overlapping, repeat.
    // Words are sep-joined symbol strings and a merge is one (non-regex)
    // replace of "a<SEP>b" with "ab" — exactly left-to-right non-overlapping
    // on both engines, and safe against the "aaa" cascade because a merged
    // symbol no longer matches its left half. Scale shape: the ONLY
    // corpus-size pass is the word-frequency groupBy; every merge round then
    // operates on the VOCAB table (bounded: ~millions of types at any corpus
    // size) with the 1-row winning pair broadcast — the standard
    // train-on-types trick that makes BPE training corpus-size-independent.
    Q("text_bpe_train_merges",
      (s, dir) => {
        import s.implicits._
        val (merges, _) = bpeTrain(s, t(s, dir, "documents"), rounds = 3)
        merges.orderBy($"round")
      },
      Some(s"""WITH ${bpeDuckCtes(3)}
           |SELECT k AS round, a AS merge_left, b AS merge_right,
           |  CAST(cnt AS BIGINT) AS pair_count
           |FROM (
           |  SELECT 1 AS k, a, b, cnt FROM best1
           |  UNION ALL SELECT 2, a, b, cnt FROM best2
           |  UNION ALL SELECT 3, a, b, cnt FROM best3)
           |ORDER BY round""".stripMargin)),

    // ENCODE with the trained tokenizer: apply the 3 learned merges to every
    // word type, then roll token counts up to documents through the word-
    // instance join -- the standard type-level encode (each distinct word is
    // segmented once, not once per occurrence). Per doc: character count, BPE
    // token count after merges, and the compression the merges bought. Same
    // scale shape as training: the corpus-size passes are the word explode and
    // the final doc rollup; segmentation itself runs on the vocab table.
    Q("text_bpe_apply",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val (_, syms) = bpeTrain(s, docs, rounds = 3)
        val wordTok = syms.select($"w",
          size(split($"syms", BpeSep)).as("n_tok"),
          length($"w").as("n_ch"))
        docs.select($"doc_id", explode(TF.tokens($"text")).as("w"))
          .join(wordTok, "w")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_ch").cast("long").as("n_chars"),
            sum($"n_tok").cast("long").as("n_bpe_tokens"))
          .select($"doc_id", $"n_words", $"n_chars", $"n_bpe_tokens",
            round($"n_bpe_tokens" / $"n_chars".cast("double"), 9)
              .as("compression"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH ${bpeDuckCtes(3)},
           |wtok AS (
           |  SELECT w, len(string_split(syms, chr(1))) AS n_tok,
           |    len(w) AS n_ch
           |  FROM syms3),
           |inst AS (
           |  SELECT doc_id, unnest(list_filter(
           |    regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
           |    x -> x <> '')) AS w
           |  FROM documents)
           |SELECT i.doc_id, COUNT(*) AS n_words,
           |  CAST(SUM(n_ch) AS BIGINT) AS n_chars,
           |  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
           |  round(SUM(n_tok) / CAST(SUM(n_ch) AS DOUBLE), 9) AS compression
           |FROM inst i JOIN wtok ON wtok.w = i.w
           |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin)),

    // CCNet-style LM-score tercile bucketing + per-bucket sampling (Wenzek et
    // al. 2020: score each doc with a cheap LM, split the corpus into
    // head/middle/tail by score terciles, keep head, subsample middle, drop
    // tail). The LM is the add-one-smoothed bigram surprisal already used by
    // text_bigram_surprisal; terciles come from the VALUE HISTOGRAM with the
    // agg_histogram_equidepth two-level prefix sum (range-bucket the scores,
    // window within range buckets, cross-bucket offsets on the tiny per-bucket
    // frame) — integer `div` bucket arithmetic, no global row_number over docs,
    // no engine-specific rounding. The middle-bucket subsample is the md5-
    // nibble deterministic coin (sample_stratified_hash pattern). Output is
    // the per-bucket corpus report.
    Q("text_surprisal_buckets",
      (s, dir) => {
        import s.implicits._
        // Round 15: docs (tokenized once) and per are each consumed by TWO
        // downstream branches; without a materialization point the whole
        // bigram pipeline ran TWICE (9 documents scans in the physical plan
        // — plans do not share unreferenced common subtrees), the dedup-
        // family materialize-once idiom the funnel already uses.
        val docs = t(s, dir, "documents")
          .select($"doc_id", TF.tokens($"text").as("toks"))
          .localCheckpoint()
        val bg = docs.select($"doc_id", explode(TF.ngrams($"toks", 2)).as("bg"))
        val c2 = bg.groupBy($"bg").agg(count(lit(1)).as("c2"))
        val uni = docs.select(explode($"toks").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("c1"))
          .withColumn("v", count(lit(1)).over(Window.partitionBy()))
        val surpr = -log(($"c2" + 1).cast("double") / ($"c1" + $"v"))
        val per = bg.join(c2, Seq("bg"))
          .join(broadcast(uni), substring_index($"bg", " ", 1) === $"w")
          .select($"doc_id", surpr.cast("decimal(30,12)").as("s"))
          .groupBy($"doc_id")
          .agg(round((sum($"s").cast("double") / count(lit(1))), 6)
            .as("mean_surprisal"))
          .localCheckpoint()
        val h = per.groupBy($"mean_surprisal".as("sv"))
          .agg(count(lit(1)).as("c"))
          .withColumn("rb", floor($"sv"))
        val offsets = h.groupBy($"rb").agg(sum($"c").as("rb_c"))
          .withColumn("offset", coalesce(
            sum($"rb_c").over(Window.orderBy($"rb")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n", sum($"rb_c").over(Window.partitionBy()))
          .select($"rb", $"offset", $"n")
        val bucketed = h.join(broadcast(offsets), Seq("rb"))
          .withColumn("cum", $"offset" + sum($"c").over(
            Window.partitionBy($"rb").orderBy($"sv")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("bucket", expr("(((cum - c) * 3) div n) + 1"))
          .select($"sv", $"bucket")
        val nib = conv(substring(md5($"doc_id".cast("string")), 1, 1), 16, 10)
          .cast("int")
        per.join(bucketed, $"mean_surprisal" === $"sv")
          .withColumn("kept",
            $"bucket" === 1 || ($"bucket" === 2 && nib < 8))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
            min($"mean_surprisal").as("min_surprisal"),
            max($"mean_surprisal").as("max_surprisal"))
          .orderBy($"bucket")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |                x -> x <> '') AS toks
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id,
             |    unnest(list_transform(generate_series(1, len(toks) - 1),
             |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
             |  FROM docs WHERE len(toks) >= 2),
             |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
             |u0 AS (SELECT unnest(toks) AS w FROM docs),
             |uni AS (SELECT w, count(*) AS c1 FROM u0 GROUP BY w),
             |uni2 AS (SELECT w, c1, count(*) OVER () AS v FROM uni),
             |per AS (
             |  SELECT bg.doc_id,
             |    round(CAST(SUM(CAST(-ln(CAST(c2.c2 + 1 AS DOUBLE)
             |      / (uni2.c1 + uni2.v)) AS DECIMAL(30,12))) AS DOUBLE)
             |      / count(*), 6) AS mean_surprisal
             |  FROM bg JOIN c2 USING (bg)
             |  JOIN uni2 ON split_part(bg.bg, ' ', 1) = uni2.w
             |  GROUP BY bg.doc_id),
             |h AS (SELECT mean_surprisal AS sv, COUNT(*) AS c
             |      FROM per GROUP BY 1),
             |cd AS (
             |  SELECT sv, c,
             |    CAST(SUM(c) OVER (ORDER BY sv
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS cum,
             |    CAST(SUM(c) OVER () AS BIGINT) AS n
             |  FROM h),
             |bk AS (SELECT sv, (((cum - c) * 3) // n) + 1 AS bucket FROM cd),
             |j AS (
             |  SELECT per.doc_id, per.mean_surprisal, bk.bucket,
             |    (bk.bucket = 1 OR (bk.bucket = 2 AND
             |      instr('0123456789abcdef',
             |        substring(md5(CAST(per.doc_id AS VARCHAR)), 1, 1)) - 1 < 8))
             |      AS kept
             |  FROM per JOIN bk ON bk.sv = per.mean_surprisal)
             |SELECT bucket, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  MIN(mean_surprisal) AS min_surprisal,
             |  MAX(mean_surprisal) AS max_surprisal
             |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin))
  )

  /** Symbol separator for the BPE training/encode representation. */
  private val BpeSep = "\u0001"

  /** Shared BPE trainer (see text_bpe_train_merges for the algorithm notes):
    * returns (merge table: round/merge_left/merge_right/pair_count, final
    * per-word symbol strings: w/freq/syms). Vocab-size frames are
    * localCheckpoint'd per round; the 1-row winning pair broadcasts. */
  private def bpeTrain(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, rounds: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    val words = docs
      .select(explode(TF.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    var syms = words
      .withColumn("syms",
        concat_ws(BpeSep, filter(split($"w", ""), x => length(x) > 0)))
      .select($"w", $"freq", $"syms")
      .localCheckpoint() // vocab-size frame; cut lineage per round
    var merges = Seq.empty[org.apache.spark.sql.DataFrame]
    for (k <- 1 to rounds) {
      val pairs = syms
        .withColumn("parts", split($"syms", BpeSep))
        .filter(size($"parts") >= 2)
        .select($"freq", explode(transform(
          sequence(lit(0), size($"parts") - 2),
          i => struct(element_at($"parts", i + 1).as("a"),
            element_at($"parts", i + 2).as("b")))).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("cnt"))
      val best = pairs.orderBy($"cnt".desc, $"a", $"b").limit(1)
        .select($"a".as("ml"), $"b".as("mr"), $"cnt")
        .localCheckpoint() // 1 row; evaluated once, reused by 2 consumers
      merges = merges :+ best.select(lit(k).as("round"),
        $"ml".as("merge_left"), $"mr".as("merge_right"),
        $"cnt".cast("long").as("pair_count"))
      syms = syms.crossJoin(broadcast(best.select($"ml", $"mr")))
        .withColumn("syms",
          expr(s"replace(syms, ml || '$BpeSep' || mr, ml || mr)"))
        .select($"w", $"freq", $"syms")
        .localCheckpoint()
    }
    (merges.reduce(_ unionByName _), syms)
  }

  /** DuckDB CTE chain mirroring [[bpeTrain]]: defines toks/words/syms0 and
    * pairsK/bestK/symsK for k = 1..rounds (caller appends its own SELECT). */
  private def bpeDuckCtes(rounds: Int): String = {
    val round = (k: Int) =>
      s"""pairs$k AS (
         |  SELECT s.a, s.b, SUM(freq) AS cnt FROM (
         |    SELECT freq, parts[i] AS a, parts[i+1] AS b
         |    FROM (SELECT freq, string_split(syms, chr(1)) AS parts
         |          FROM syms${k - 1}),
         |         LATERAL unnest(generate_series(1, len(parts)-1)) AS g(i)
         |  ) s GROUP BY 1, 2),
         |best$k AS (SELECT a, b, cnt FROM pairs$k
         |           ORDER BY cnt DESC, a, b LIMIT 1),
         |syms$k AS (
         |  SELECT w, freq,
         |    replace(syms,
         |      (SELECT a FROM best$k) || chr(1) || (SELECT b FROM best$k),
         |      (SELECT a FROM best$k) || (SELECT b FROM best$k)) AS syms
         |  FROM syms${k - 1})""".stripMargin
    s"""toks AS (
       |  SELECT unnest(list_filter(
       |    regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
       |    x -> x <> '')) AS w
       |  FROM documents),
       |words AS (SELECT w, COUNT(*) AS freq FROM toks GROUP BY 1),
       |syms0 AS (
       |  SELECT w, freq,
       |    array_to_string(list_transform(generate_series(1, len(w)),
       |      i -> substring(w, CAST(i AS INTEGER), 1)), chr(1)) AS syms
       |  FROM words),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }
}
