package graft.queries

import org.apache.spark.sql.functions._
import graft.llm.{Multimodal, TextFunctions => TF}
import QueryDSL._
import Llm.duckToks

/** LLM-data-pipeline operator queries, continued (split from [[Llm]] for
  * maintainability — same contract): BPE pair counting, vocabulary build /
  * OOV, mixture + stratified + per-group sampling, token packing, Gopher
  * repetition, fixed-token + content-defined chunking, boilerplate strip,
  * and the multimodal binary/audio/frame family. */
object Llmb {

  val queries: Seq[Q] = Seq(

    // Tokenizer vocabulary build: corpus token counts → rank-stable ids (count
    // desc, token asc — a TOTAL order, so id assignment is partition-independent).
    // The id window runs over the |vocab|-row aggregate, never the corpus; at
    // 100 TB the only corpus-sized stage is the token count shuffle.
    // BPE pair counting — the first merge step of byte-pair-encoding tokenizer
    // training: count adjacent symbol pairs weighted by WORD FREQUENCY, take
    // the argmax pair. Production BPE trainers run exactly this shape at
    // corpus scale: one shuffle rolls the corpus up to the word-frequency
    // dictionary (the only corpus-sized pass), then all pair work happens on
    // the DISTINCT-word frame — vocabulary-bounded, not corpus-bounded — and
    // the top-50 readout is a distributed TakeOrdered. Later merge iterations
    // repeat on the (tiny) updated symbol sequences; the corpus is never
    // re-read.
    Q("text_bpe_pair_counts",
      (s, dir) => {
        import s.implicits._
        val words = t(s, dir, "documents")
          .select(explode(TF.tokens($"text")).as("w"))
          .groupBy($"w").agg(count(lit(1)).as("wf"))
          .filter(length($"w") >= 2)
        words
          .select($"w", $"wf",
            explode(sequence(lit(1), length($"w") - 1)).as("i"))
          .select(expr("substring(w, i, 2)").as("pair"), $"wf")
          .groupBy($"pair").agg(sum($"wf").as("n"))
          .orderBy($"n".desc, $"pair").limit(50)
          .orderBy($"n".desc, $"pair")
      },
      Some(s"""WITH wds AS (
              |  SELECT unnest(${duckToks("text")}) AS w FROM documents),
              |wf AS (
              |  SELECT w, COUNT(*) AS wf FROM wds
              |  GROUP BY 1 HAVING length(w) >= 2),
              |p AS (
              |  SELECT substring(w, CAST(i AS INT), 2) AS pair, wf
              |  FROM (SELECT w, wf, unnest(range(1, length(w))) AS i FROM wf)),
              |g AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS n FROM p GROUP BY 1)
              |SELECT pair, n FROM g ORDER BY n DESC, pair LIMIT 50""".stripMargin)),

    Q("text_vocab_build",
      (s, dir) => {
        import s.implicits._
        // rank-stable token ids WITHOUT a |vocab|-row single-reducer sort: the
        // banded global rank buckets the count histogram by −n (so bucket order
        // is the n-descending order and the only global sort is over the tiny
        // distinct-count frame), then ranks within count-groups in parallel
        bandedRowNumber(
          t(s, dir, "documents")
            .select(explode(TF.tokens($"text")).as("token"))
            .groupBy($"token")
            .agg(count(lit(1)).as("n")),
          -$"n", Seq($"n".desc, $"token"), "t_rank", "t_n")
          // filter on the LONG rank BEFORE narrowing: a >2^31-token vocab would
          // wrap the cast and spuriously pass the <= 1000 filter
          .filter($"t_rank" <= 1000)
          .withColumn("token_id", $"t_rank".cast("int"))
          .select($"token", $"n", $"token_id")
          .orderBy($"token_id")
      },
      Some(s"""WITH t AS (
              |  SELECT unnest(${duckToks("text")}) AS token FROM documents),
              |c AS (SELECT token, COUNT(*) AS n FROM t GROUP BY token)
              |SELECT token, n,
              |  CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INT) AS token_id
              |FROM c QUALIFY token_id <= 1000 ORDER BY token_id""".stripMargin)),

    // Out-of-vocabulary rate (quality signal tied to the tokenizer): share of each
    // document's tokens outside the corpus top-20 vocabulary. The vocab is ONE
    // aggregated row (collect over the tiny count rollup) broadcast to a crossJoin,
    // so the per-doc scoring is map-side HOF work — no per-token join shuffle.
    Q("text_oov_rate",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // top-20 via distributed TakeOrdered (per-partition top-k + merge), NOT
        // a single-partition row_number over the full vocab rollup — at 100 TB
        // the vocabulary is ~1e8 rows and must never collapse onto one executor
        val vocab = t(s, dir, "documents")
          .select(explode(TF.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"token").limit(20)
          .agg(sort_array(collect_list($"token")).as("vocab"))
        t(s, dir, "documents").filter($"doc_id" < 300)
          .select($"doc_id", TF.tokens($"text").as("toks"))
          .crossJoin(broadcast(vocab))
          .select($"doc_id",
            size($"toks").cast("long").as("n_tok"),
            size(filter($"toks", x => !array_contains($"vocab", x)))
              .cast("long").as("n_oov"))
          // greatest(...,1): a zero-token doc must score 0.0, not DIVIDE_BY_ZERO
          // under ANSI mode (same guard as text_quality_features)
          .withColumn("oov_rate",
            $"n_oov".cast("double") / greatest($"n_tok", lit(1L)))
          .orderBy($"doc_id")
      },
      Some(s"""WITH tok AS (
              |  SELECT unnest(${duckToks("text")}) AS token FROM documents),
              |cnt AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
              |v AS (SELECT list(token) AS vocab FROM (
              |  SELECT token FROM cnt ORDER BY n DESC, token LIMIT 20)),
              |d AS (SELECT doc_id, ${duckToks("text")} AS toks
              |      FROM documents WHERE doc_id < 300)
              |SELECT doc_id,
              |  CAST(len(toks) AS BIGINT) AS n_tok,
              |  CAST(len(list_filter(toks, x -> NOT list_contains(vocab, x)))
              |    AS BIGINT) AS n_oov,
              |  CAST(len(list_filter(toks, x -> NOT list_contains(vocab, x)))
              |    AS DOUBLE) / greatest(len(toks), 1) AS oov_rate
              |FROM d CROSS JOIN v ORDER BY doc_id""".stripMargin)),

    // Corpus mixture reweighting: given a target of equal representation per source,
    // compute each source's actual character share and the sampling multiplier
    // (target/actual) a downstream epoch sampler would apply. One grouped pass over
    // the corpus; the share arithmetic happens on a |sources|-row aggregate via an
    // unpartitioned window over THAT (rows = n_sources, never corpus-sized). Shares
    // divide exact decimal sums, so the doubles agree bit-for-bit with the oracle.
    Q("sample_mixture_weights",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy()
        t(s, dir, "documents")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_chars").as("chars"))
          .select($"source", $"n_docs",
            $"chars".cast("double").as("n_chars"),
            ($"chars".cast("double") /
              sum($"chars").over(w).cast("double")).as("actual_share"),
            (lit(1.0) / count(lit(1)).over(w).cast("double") /
              ($"chars".cast("double") /
                sum($"chars").over(w).cast("double"))).as("multiplier"))
          .orderBy($"source")
      },
      Some("""WITH a AS (
             |  SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars
             |  FROM documents GROUP BY source)
             |SELECT source, n_docs,
             |  CAST(chars AS DOUBLE) AS n_chars,
             |  CAST(chars AS DOUBLE) / CAST(SUM(chars) OVER () AS DOUBLE)
             |    AS actual_share,
             |  1.0 / CAST(COUNT(*) OVER () AS DOUBLE) /
             |    (CAST(chars AS DOUBLE) / CAST(SUM(chars) OVER () AS DOUBLE))
             |    AS multiplier
             |FROM a ORDER BY source""".stripMargin)),

    // Deterministic stratified sampling (corpus mixing): per-source keep rates via an
    // md5-nibble threshold on the doc id — no RNG, so the sample is reproducible
    // across engines, retries, and partitionings (a seeded Bernoulli sample is not
    // portable to the oracle and recomputes differently under task retry). Map-only.
    Q("sample_stratified_hash",
      (s, dir) => {
        import s.implicits._
        val nibble =
          conv(substring(md5($"doc_id".cast("string")), 1, 1), 16, 10).cast("int")
        // low-resource sources get 75% (nibble<12), the rest 25% (nibble<4)
        val thr = when($"source".isin("src0", "src1", "src2"), 12).otherwise(4)
        t(s, dir, "documents")
          .withColumn("kept", nibble < thr)
          .groupBy($"source")
          .agg(count(lit(1)).as("n_total"),
            sum(when($"kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy($"source")
      },
      Some("""SELECT source, COUNT(*) AS n_total,
             |  CAST(SUM(CASE WHEN
             |    instr('0123456789abcdef',
             |          substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
             |    < CASE WHEN source IN ('src0','src1','src2') THEN 12 ELSE 4 END
             |  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Per-group fixed-k deterministic sample (per-source caps: "at most 20 docs
    // from each source", the corpus-mixing complement of rate-based
    // sample_stratified_hash). Order within a group is the md5 of the doc id —
    // a reproducible pseudo-random permutation, so the k kept are an unbiased
    // sample yet identical across engines, retries, and partitionings. One
    // key-partitioned window (group cardinality bounds the sort), no RNG.
    Q("sample_per_group_topk",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"source")
          .orderBy(md5($"doc_id".cast("string")), $"doc_id")
        t(s, dir, "documents")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 20)
          .select($"source", $"rn", $"doc_id", $"n_chars")
          .orderBy($"source", $"rn")
      },
      Some("""SELECT source, rn, doc_id, n_chars FROM (
             |  SELECT source, doc_id, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |WHERE rn <= 20 ORDER BY source, rn""".stripMargin)),

    // Token-budget shard packing (sequence packing for training shards): assign each
    // doc to shard floor(cum_tokens_before / 2000) in doc_id order. A naive global
    // running-sum window is a SINGLE reducer at 100 TB, so this uses the scalable
    // two-level prefix sum: (1) per-bucket token totals (one row per bucket),
    // (2) running offset across that tiny bucket frame, (3) within-bucket running
    // sum partitioned by bucket plus the broadcast offset. Identical semantics to
    // the oracle's global window, but every stage is key-partitioned.
    Q("text_token_budget_pack",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val d = t(s, dir, "documents")
          .select($"doc_id", TF.tokenCount($"text").cast("long").as("n_tok"),
            floor($"doc_id" / 100).as("bkt"))
        val offsets = d.groupBy($"bkt").agg(sum($"n_tok").as("bkt_tok"))
          .withColumn("offset", coalesce(
            sum($"bkt_tok").over(Window.orderBy($"bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"bkt", $"offset")
        val shard = d.join(broadcast(offsets), Seq("bkt"))
          .withColumn("cum_before", $"offset" + coalesce(
            sum($"n_tok").over(Window.partitionBy($"bkt").orderBy($"doc_id")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("shard", floor($"cum_before" / 2000))
        shard.groupBy($"shard")
          .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
            min($"doc_id").as("first_doc"))
          .orderBy($"shard")
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id, CAST(len(${duckToks("text")}) AS BIGINT) AS n_tok
              |  FROM documents),
              |c AS (
              |  SELECT doc_id, n_tok,
              |    COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
              |  FROM t)
              |SELECT CAST(floor(cum_before / 2000) AS BIGINT) AS shard,
              |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              |  min(doc_id) AS first_doc
              |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Gopher-style repetition metrics (Rae et al. 2021 §A1.1, public): duplicate-word
    // fraction and most-frequent-2-gram fraction, then a keep/drop verdict on integer
    // cross-multiplied thresholds (unique words >= 40%, top 2-gram <= 20%) so the
    // hashed columns are ints/booleans, never cross-engine doubles. Entirely map-only
    // per-document HOFs — no shuffle at all before the final presentation sort, so it
    // scales as a pure scan at 100 TB (per-doc cost is O(n log n) via the sorted
    // run-length fold below; no explode row blowup).
    Q("text_repetition_gopher",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents")
          .withColumn("toks", TF.tokens($"text"))
          .withColumn("g2", TF.ngrams($"toks", 2))
        // top_2gram_count = longest equal-run in the SORTED gram list: one
        // O(n log n) sort + one O(n) fold per document, vs the naive
        // O(distinct × n) count-per-distinct-gram formulation (2.5× on bench).
        val runBest = aggregate(
          array_sort($"g2"),
          struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
          (acc, x) => {
            val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
            struct(x.as("prev"), run.as("run"),
              greatest(acc("best"), run).as("best"))
          },
          acc => acc("best"))
        d.select($"doc_id",
            size($"toks").as("n_words"),
            size(array_distinct($"toks")).as("n_unique_words"),
            size($"g2").as("n_2grams"),
            runBest.as("top_2gram_count"))
          .withColumn("kept",
            $"n_unique_words" * 5 >= $"n_words" * 2 &&
              $"top_2gram_count" * 5 <= $"n_2grams")
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${duckToks("text")} AS w FROM documents),
              |g AS (SELECT doc_id, w,
              |  CASE WHEN len(w) >= 2
              |    THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
              |    ELSE [] END AS g2
              |  FROM t),
              |m AS (SELECT doc_id, len(w) AS n_words,
              |  len(list_distinct(w)) AS n_unique_words, len(g2) AS n_2grams,
              |  COALESCE(list_max(list_transform(list_distinct(g2),
              |    x -> len(list_filter(g2, y -> y = x)))), 0) AS top_2gram_count
              |  FROM g)
              |SELECT doc_id, n_words, n_unique_words, n_2grams, top_2gram_count,
              |  (n_unique_words * 5 >= n_words * 2
              |   AND top_2gram_count * 5 <= n_2grams) AS kept
              |FROM m ORDER BY doc_id""".stripMargin)),

    // Fixed-token-window chunking (the splitter archetype applied to tokens: one doc →
    // ceil(n/32) training chunks). Generator-only plan: the chunk list is built as a
    // per-row array (O(1) slice per chunk) and posexplode'd map-side — no shuffle, no
    // driver involvement, so a 100 TB corpus chunks as a pure scan.
    Q("text_chunk_fixed_tokens",
      (s, dir) => {
        import s.implicits._
        val C = 32
        val d = t(s, dir, "documents")
          .withColumn("toks", TF.tokens($"text"))
          .where(size($"toks") > 0)
        d.select($"doc_id", posexplode(
            transform(sequence(lit(0), floor((size($"toks") - 1) / C).cast("int")),
              i => slice($"toks", i * C + 1, lit(C))))
            .as(Seq("chunk_id", "chunk_toks")))
          .select($"doc_id", $"chunk_id",
            concat_ws(" ", $"chunk_toks").as("chunk_text"),
            size($"chunk_toks").as("n_chunk_tokens"))
          .orderBy($"doc_id", $"chunk_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${duckToks("text")} AS w FROM documents),
              |i AS (SELECT doc_id, w,
              |  unnest(range(0, CAST(ceil(len(w) / 32.0) AS BIGINT))) AS chunk_id
              |  FROM t WHERE len(w) > 0),
              |c AS (SELECT doc_id, chunk_id,
              |  w[chunk_id * 32 + 1 : chunk_id * 32 + 32] AS cw FROM i)
              |SELECT doc_id, chunk_id, array_to_string(cw, ' ') AS chunk_text,
              |  len(cw) AS n_chunk_tokens
              |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Chunk-level exact dedup (the C4/RefinedWeb "remove duplicated lines across the
    // corpus" step, on fixed 32-token windows since the corpus has no newlines): keep
    // only the globally-first occurrence of each chunk (min doc_id, then chunk_id),
    // report per-doc retention. The dedup key is the chunk DIGEST, not the text —
    // the shuffle carries 16 bytes per chunk instead of the chunk body, which is the
    // difference between shuffling 100 TB and shuffling ~2% of it.
    Q("dedup_chunk_exact",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val C = 32
        val chunks = t(s, dir, "documents")
          .withColumn("toks", TF.tokens($"text"))
          .where(size($"toks") > 0)
          .select($"doc_id", posexplode(
              transform(sequence(lit(0), floor((size($"toks") - 1) / C).cast("int")),
                i => slice($"toks", i * C + 1, lit(C))))
              .as(Seq("chunk_id", "chunk_toks")))
          .select($"doc_id", $"chunk_id",
            md5(concat_ws(" ", $"chunk_toks")).as("h"),
            size($"chunk_toks").cast("long").as("n_tok"))
        val rn = row_number().over(
          Window.partitionBy($"h").orderBy($"doc_id", $"chunk_id"))
        chunks.withColumn("rn", rn)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
            sum(when($"rn" === 1, $"n_tok").otherwise(0L)).as("n_tokens_kept"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${duckToks("text")} AS w FROM documents),
              |i AS (SELECT doc_id, w,
              |  unnest(range(0, CAST(ceil(len(w) / 32.0) AS BIGINT))) AS chunk_id
              |  FROM t WHERE len(w) > 0),
              |c AS (SELECT doc_id, chunk_id,
              |  md5(array_to_string(w[chunk_id * 32 + 1 : chunk_id * 32 + 32], ' ')) AS h,
              |  len(w[chunk_id * 32 + 1 : chunk_id * 32 + 32]) AS n_tok FROM i),
              |r AS (SELECT doc_id, n_tok,
              |  ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
              |  FROM c)
              |SELECT doc_id, COUNT(*) AS n_chunks,
              |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  CAST(SUM(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept
              |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Chunk dedup with DOCUMENT RECONSTRUCTION (the C4 move dedup_chunk_exact only
    // counts): drop every repeated 32-token chunk corpus-wide (keep first
    // occurrence), then reassemble each document from its surviving chunks in
    // original order. The rebuild is a per-doc sorted collect (array_sort on
    // (chunk_id, chunk) structs — collect_list order is partition-dependent, the
    // sort restores determinism), so reassembly is one key-partitioned shuffle, no
    // global ordering. Output carries md5 + head of the rebuilt text, not the full
    // body.
    Q("dedup_chunk_rebuild",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val C = 32
        val chunks = t(s, dir, "documents")
          .withColumn("toks", TF.tokens($"text"))
          .where(size($"toks") > 0)
          .select($"doc_id", posexplode(
              transform(sequence(lit(0), floor((size($"toks") - 1) / C).cast("int")),
                i => concat_ws(" ", slice($"toks", i * C + 1, lit(C)))))
              .as(Seq("chunk_id", "chunk_str")))
        val rn = row_number().over(
          Window.partitionBy($"chunk_str").orderBy($"doc_id", $"chunk_id"))
        chunks.withColumn("rn", rn).filter($"rn" === 1)
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_kept"),
            concat_ws(" ", transform(
              array_sort(collect_list(struct($"chunk_id", $"chunk_str"))),
              e => e.getItem("chunk_str"))).as("rebuilt"))
          .select($"doc_id", $"n_kept", md5($"rebuilt").as("rebuilt_md5"),
            substring($"rebuilt", 1, 40).as("head40"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${duckToks("text")} AS w FROM documents),
              |i AS (SELECT doc_id, w,
              |  unnest(range(0, CAST(ceil(len(w) / 32.0) AS BIGINT))) AS chunk_id
              |  FROM t WHERE len(w) > 0),
              |c AS (SELECT doc_id, chunk_id,
              |  array_to_string(w[chunk_id * 32 + 1 : chunk_id * 32 + 32], ' ')
              |    AS chunk_str FROM i),
              |r AS (SELECT doc_id, chunk_id, chunk_str,
              |  ROW_NUMBER() OVER (PARTITION BY chunk_str ORDER BY doc_id, chunk_id)
              |    AS rn FROM c),
              |k AS (SELECT doc_id, chunk_id, chunk_str FROM r WHERE rn = 1)
              |SELECT doc_id, COUNT(*) AS n_kept,
              |  md5(string_agg(chunk_str, ' ' ORDER BY chunk_id)) AS rebuilt_md5,
              |  substring(string_agg(chunk_str, ' ' ORDER BY chunk_id), 1, 40)
              |    AS head40
              |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Corpus boilerplate strip (the OTHER half of C4-style line filtering:
    // dedup_chunk_* keeps the FIRST occurrence; boilerplate chunks — navigation,
    // license headers, templates — must be removed from EVERY document, including
    // the first). A chunk is boilerplate when its digest appears in >= 3 distinct
    // documents. Plan shape: chunk digests shuffle once for the frequency count
    // (16-byte keys, map-side partial), the boilerplate set is the frequency
    // tail (tiny at any scale — join back by digest), and per-doc before/after
    // aggregates join on doc_id. No row ever carries more than one chunk.
    Q("text_boilerplate_strip",
      (s, dir) => {
        import s.implicits._
        val C = 32
        val chunks = t(s, dir, "documents")
          .withColumn("toks", TF.tokens($"text"))
          .where(size($"toks") > 0)
          .select($"doc_id", posexplode(
              transform(sequence(lit(0), floor((size($"toks") - 1) / C).cast("int")),
                i => slice($"toks", i * C + 1, lit(C))))
              .as(Seq("chunk_id", "chunk_toks")))
          .select($"doc_id", $"chunk_id",
            md5(concat_ws(" ", $"chunk_toks")).as("h"),
            size($"chunk_toks").cast("long").as("n_tok"))
        val boiler = chunks.groupBy($"h")
          .agg(countDistinct($"doc_id").as("nd"))
          .filter($"nd" >= 3).select($"h")
        val kept = chunks.join(boiler, Seq("h"), "left_anti")
        val perDocAll = chunks.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_chunks"))
        val perDocKept = kept.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_kept"), sum($"n_tok").as("n_tokens_kept"))
        perDocAll.join(perDocKept, Seq("doc_id"), "left")
          .select($"doc_id", $"n_chunks",
            coalesce($"n_kept", lit(0L)).as("n_kept"),
            coalesce($"n_tokens_kept", lit(0L)).as("n_tokens_kept"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, ${duckToks("text")} AS w FROM documents),
              |i AS (SELECT doc_id, w,
              |  unnest(range(0, CAST(ceil(len(w) / 32.0) AS BIGINT))) AS chunk_id
              |  FROM t WHERE len(w) > 0),
              |c AS (SELECT doc_id, chunk_id,
              |  md5(array_to_string(w[chunk_id * 32 + 1 : chunk_id * 32 + 32], ' ')) AS h,
              |  len(w[chunk_id * 32 + 1 : chunk_id * 32 + 32]) AS n_tok FROM i),
              |f AS (SELECT h FROM c GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3),
              |k AS (SELECT c.* FROM c ANTI JOIN f ON c.h = f.h),
              |pa AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c GROUP BY doc_id),
              |pk AS (SELECT doc_id, COUNT(*) AS n_kept,
              |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept FROM k GROUP BY doc_id)
              |SELECT pa.doc_id, pa.n_chunks,
              |  COALESCE(pk.n_kept, 0) AS n_kept,
              |  COALESCE(pk.n_tokens_kept, 0) AS n_tokens_kept
              |FROM pa LEFT JOIN pk ON pa.doc_id = pk.doc_id
              |ORDER BY pa.doc_id""".stripMargin)),

    Q("multimodal_binary_meta",
      (s, dir) => {
        import s.implicits._
        Multimodal.attachBinary(t(s, dir, "documents").filter($"doc_id" < 200))
          .select($"doc_id",
            length($"payload").as("n_bytes"),
            $"meta.checksum".as("checksum"),
            upper(hex(substring($"payload", 1, 8))).as("head_hex"),
            $"meta.source".as("source"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  octet_length(encode(text)) AS n_bytes,
             |  sha256(text) AS checksum,
             |  upper(hex(encode(substring(text, 1, 8)))) AS head_hex,
             |  source
             |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // binaryFile source: media corpora arrive as FILES (images, audio), not rows —
    // this is the ingest leg of the multimodal pipeline. Fixture: each doc_id < 20
    // becomes one file via a partitioned text write (pure Spark, no driver-side
    // collect); the binaryFile read recovers doc_id from partition discovery and
    // hashes raw content bytes. At 100 TB the source parallelizes per-file with
    // pushed path filters; content never leaves the executors.
    Q("multimodal_binaryfile_scan",
      (s, dir) => {
        import s.implicits._
        val out = Sinks.scoped(dir, "binfiles")
        if (!new java.io.File(s"$out/_SUCCESS").exists()) {
          t(s, dir, "documents").filter($"doc_id" < 20)
            .select($"doc_id", $"text")
            .write.mode("overwrite").partitionBy("doc_id").text(out)
        }
        s.read.format("binaryFile").load(out)
          .select($"doc_id".cast("long").as("doc_id"),
            $"length".as("n_bytes"),
            md5($"content").as("content_md5"))
          .orderBy($"doc_id")
      },
      // the text sink appends one '\n' per row, so content = utf8(text) + 0x0a
      Some("""SELECT doc_id,
             |  octet_length(encode(text)) + 1 AS n_bytes,
             |  md5(text || chr(10)) AS content_md5
             |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin)),

    // Partition-wise REAL image decode (graft.llm.Bmp): synthetic 24-bit BMPs
    // (dims vary per doc so every 0..3-byte row-padding case occurs) are decoded
    // — header parse, padding, bottom-up rows, BGR→RGB — and reduced to integer
    // pixel statistics. The DuckDB oracle recomputes the same statistics from
    // the pixel formula WITHOUT a decoder, so any codec bug (stride, row order,
    // channel order, header arithmetic) is a hash mismatch; wsum_r is
    // position-weighted to catch order-symmetric bugs plain sums would hide.
    // payload_bytes doubly checks the encoder's size arithmetic. Map-only.
    Q("multimodal_features",
      (s, dir) => {
        import s.implicits._
        Multimodal.extractFeatures(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 100)))
          .toDF()
          .select($"doc_id", $"width".cast("long").as("width"),
            $"height".cast("long").as("height"), $"n_px", $"payload_bytes",
            $"sum_r", $"sum_g", $"sum_b",
            $"min_r".cast("long").as("min_r"), $"max_r".cast("long").as("max_r"),
            $"wsum_r")
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
             |SELECT doc_id, w AS width, h AS height,
             |  COUNT(*) AS n_px,
             |  54 + (3*w + (4 - (3*w) % 4) % 4) * h AS payload_bytes,
             |  CAST(SUM(r) AS BIGINT) AS sum_r,
             |  CAST(SUM(g) AS BIGINT) AS sum_g,
             |  CAST(SUM(b) AS BIGINT) AS sum_b,
             |  CAST(MIN(r) AS BIGINT) AS min_r,
             |  CAST(MAX(r) AS BIGINT) AS max_r,
             |  CAST(SUM((x + 2*y + 1) * r) AS BIGINT) AS wsum_r
             |FROM v GROUP BY doc_id, w, h ORDER BY doc_id""".stripMargin)),

    // Decode → nearest-neighbor resize to 8x6 → re-encode → decode again: the
    // full thumbnail pipeline per record. Oracle evaluates the pixel formula at
    // the nearest-neighbor source coordinates (sx = x2*w//8, sy = y2*h//6), so
    // the resample arithmetic AND the re-encode round-trip are hash-checked.
    Q("multimodal_resize",
      (s, dir) => {
        import s.implicits._
        Multimodal.extractFeatures(s,
            Multimodal.resize(s,
              Multimodal.syntheticImages(s,
                t(s, dir, "documents").filter($"doc_id" < 100)), 8, 6))
          .toDF()
          .select($"doc_id", $"n_px", $"payload_bytes",
            $"sum_r", $"sum_g", $"sum_b", $"wsum_r")
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 100),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x2 FROM dims),
             |px AS (SELECT doc_id, w, h, x2, unnest(range(0, 6)) AS y2 FROM xs),
             |v AS (SELECT doc_id, x2, y2,
             |        (doc_id*31 + ((x2*w)//8)*7 + ((y2*h)//6)*13) % 256 AS r,
             |        (doc_id*31 + ((x2*w)//8)*7 + ((y2*h)//6)*13 + 101) % 256 AS g,
             |        (doc_id*31 + ((x2*w)//8)*7 + ((y2*h)//6)*13 + 202) % 256 AS b
             |      FROM px)
             |SELECT doc_id, COUNT(*) AS n_px,
             |  CAST(54 + 24 * 6 AS BIGINT) AS payload_bytes,
             |  CAST(SUM(r) AS BIGINT) AS sum_r,
             |  CAST(SUM(g) AS BIGINT) AS sum_g,
             |  CAST(SUM(b) AS BIGINT) AS sum_b,
             |  CAST(SUM((x2 + 2*y2 + 1) * r) AS BIGINT) AS wsum_r
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // The LLM operators driven END-TO-END from the YAML spec layer (the reference
    // user's surface): read documents -> text-quality features -> dedup-exact
    // keep-first per (lang, source) -> project -> write. Oracle mirrors the
    // feature expressions and the keep-first window.
    Q("job_yaml_llm_pipeline",
      (s, dir) => {
        val data = s"${Sinks.scratchDir}/job_yaml_llm"
        // pre-create: a missing data dir is fatal per the reference (job.py:211-214)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(data))
        val manifest =
          s"""name: llm-pipeline
             |description: text-quality + exact dedup via job spec
             |data: $data
             |commands:
             |  - name: load
             |    task: read-parquet
             |    env:
             |      path: $dir/documents.parquet
             |      output: ydocs
             |  - name: features
             |    task: text-quality
             |    env:
             |      input: $${previous.env.OUTPUT}
             |      output: yfeat
             |  - name: keep-first
             |    task: dedup-exact
             |    env:
             |      input: $${features.env.OUTPUT}
             |      keys: lang,source
             |      order: doc_id
             |      output: ydedup
             |  - name: project
             |    task: select
             |    env:
             |      input: $${previous.env.OUTPUT}
             |      columns: doc_id, lang, source, text_len, n_tokens
             |      output: yout
             |  - name: save
             |    task: write-parquet
             |    env:
             |      input: $${project.env.OUTPUT}
             |      path: $${job.data}/out
             |""".stripMargin
        new graft.exec.JobRunner(s, new graft.exec.ContextLogger(_ => ()))
          .execute(graft.spec.Yaml.jobFromString(manifest))
        s.read.parquet(s"$data/out").orderBy(col("doc_id"))
      },
      Some(s"""WITH feat AS (
              |  SELECT doc_id, lang, source, length(text) AS text_len,
              |    len(${duckToks("text")}) AS n_tokens
              |  FROM documents),
              |ranked AS (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, source
              |                               ORDER BY doc_id) AS rn
              |  FROM feat)
              |SELECT doc_id, lang, source, text_len, n_tokens
              |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Partition-wise REAL audio decode (graft.llm.Wav): synthetic 16-bit PCM
    // WAVs — the decoder is a real RIFF chunk walk, not fixed offsets — reduced
    // to integer sample statistics (sum, extrema, energy = Σs², zero
    // crossings). The DuckDB oracle recomputes the same statistics from the
    // sample formula WITHOUT a decoder, so any chunk-size/pad/sample-parse
    // error is a hash mismatch. Map-only.
    Q("multimodal_audio_features",
      (s, dir) => {
        import s.implicits._
        Multimodal.extractAudioFeatures(s,
            Multimodal.syntheticAudio(s,
              t(s, dir, "documents").filter($"doc_id" < 100)))
          .toDF()
          .select($"doc_id", $"n_samples",
            $"sample_rate".cast("long").as("sample_rate"),
            $"sum_s", $"min_s".cast("long").as("min_s"),
            $"max_s".cast("long").as("max_s"), $"energy", $"zero_cross")
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 800 + (doc_id % 7) * 100 AS n,
             |         8000 + (doc_id % 3) * 4000 AS rate
             |  FROM documents WHERE doc_id < 100),
             |sm AS (SELECT doc_id, n, rate, unnest(range(0, n)) AS i FROM dims),
             |v AS (SELECT doc_id, n, rate, i,
             |        (doc_id*37 + i*13) % 2048 - 1024 AS s
             |      FROM sm),
             |z AS (SELECT doc_id,
             |        CASE WHEN (s >= 0) <>
             |          (lag(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
             |        THEN 1 ELSE 0 END AS c
             |      FROM v)
             |SELECT v.doc_id, COUNT(*) AS n_samples,
             |  ANY_VALUE(rate) AS sample_rate,
             |  CAST(SUM(s) AS BIGINT) AS sum_s,
             |  CAST(MIN(s) AS BIGINT) AS min_s,
             |  CAST(MAX(s) AS BIGINT) AS max_s,
             |  CAST(SUM(s * s) AS BIGINT) AS energy,
             |  (SELECT CAST(SUM(c) AS BIGINT) FROM z WHERE z.doc_id = v.doc_id)
             |    AS zero_cross
             |FROM v GROUP BY v.doc_id ORDER BY v.doc_id""".stripMargin)),

    // Decode → decimate by 4 (keep every 4th sample — the integer-exact
    // downsample; production would low-pass first, a float step with no exact
    // oracle) → re-encode → decode again: the full audio-resample pipeline per
    // record, oracle evaluated at the decimated positions.
    Q("multimodal_audio_decimate",
      (s, dir) => {
        import s.implicits._
        Multimodal.extractAudioFeatures(s,
            Multimodal.decimateAudio(s,
              Multimodal.syntheticAudio(s,
                t(s, dir, "documents").filter($"doc_id" < 100)), k = 4))
          .toDF()
          .select($"doc_id", $"n_samples",
            $"sample_rate".cast("long").as("sample_rate"),
            $"sum_s", $"energy")
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 800 + (doc_id % 7) * 100 AS n,
             |         8000 + (doc_id % 3) * 4000 AS rate
             |  FROM documents WHERE doc_id < 100),
             |sm AS (SELECT doc_id, n, rate,
             |         unnest(range(0, (n + 3) // 4)) AS j FROM dims),
             |v AS (SELECT doc_id, n, rate, j,
             |        (doc_id*37 + (j*4)*13) % 2048 - 1024 AS s
             |      FROM sm)
             |SELECT doc_id, COUNT(*) AS n_samples,
             |  ANY_VALUE(rate // 4) AS sample_rate,
             |  CAST(SUM(s) AS BIGINT) AS sum_s,
             |  CAST(SUM(s * s) AS BIGINT) AS energy
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Energy-gated voice-activity detection (VAD) — the gate every speech-data
    // pipeline runs before transcription (silence is the cheapest data to
    // drop). Decode → 160-sample analysis frames → integer frame energy Σs²
    // (all inside the codec stage, so n samples leave the decoder as n/160
    // frame rows) → threshold gate → merge consecutive active frames into
    // segments (gaps-and-islands: frame_idx − per-doc active rank is constant
    // within a run). The gated synthetic signal (every third 200-sample block
    // attenuated 16×) makes the gate non-vacuous: frames straddle the
    // 200-sample block boundary, so the oracle checks partial-overlap energies
    // too. Windows partition by doc_id — parallel, no global sort.
    Q("multimodal_audio_vad",
      (s, dir) => {
        import s.implicits._
        val frameLen = 160
        val thresh = 28000000L // ~half a fully-loud frame's ≈5.6e7 energy
        import org.apache.spark.sql.expressions.Window
        val frames = Multimodal.frameEnergies(s,
          Multimodal.syntheticGatedAudio(s,
            t(s, dir, "documents").filter($"doc_id" < 100)), frameLen).toDF()
        val act = frames.filter($"energy" > thresh)
          .withColumn("run", $"frame_idx" -
            row_number().over(Window.partitionBy($"doc_id").orderBy($"frame_idx")))
        act.groupBy($"doc_id", $"run")
          .agg(min($"frame_idx").as("start_frame"),
            max($"frame_idx").as("end_frame"),
            count(lit(1)).as("n_frames"),
            sum($"energy").as("seg_energy"))
          .select($"doc_id", $"start_frame".cast("long").as("start_frame"),
            $"end_frame".cast("long").as("end_frame"),
            $"n_frames", $"seg_energy")
          .orderBy($"doc_id", $"start_frame")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 800 + (doc_id % 7) * 100 AS n
             |  FROM documents WHERE doc_id < 100),
             |sm AS (SELECT doc_id, unnest(range(0, (n // 160) * 160)) AS i
             |       FROM dims),
             |v AS (SELECT doc_id, i // 160 AS f,
             |        CASE WHEN (i // 200) % 3 = 2
             |          THEN ((doc_id*37 + i*13) % 2048 - 1024) // 16
             |          ELSE (doc_id*37 + i*13) % 2048 - 1024 END AS s
             |      FROM sm),
             |fe AS (SELECT doc_id, f, SUM(s * s) AS energy
             |       FROM v GROUP BY 1, 2),
             |act AS (SELECT doc_id, f, energy,
             |          f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
             |            AS run
             |        FROM fe WHERE energy > 28000000)
             |SELECT doc_id, MIN(f) AS start_frame, MAX(f) AS end_frame,
             |  COUNT(*) AS n_frames, CAST(SUM(energy) AS BIGINT) AS seg_energy
             |FROM act GROUP BY doc_id, run
             |ORDER BY doc_id, start_frame""".stripMargin)),

    // Frame-sample a multi-frame (video-shaped) payload: 3..6 concatenated BMP
    // frames per doc; the container walk reads each frame's self-declared byte
    // length (real parsing, not fixed-stride splitting), keeps every 2nd frame,
    // and decodes ONLY the kept frames. Oracle recomputes kept-frame pixel
    // stats from the (doc, frame, x, y) formula — container walk + per-frame
    // decode are both hash-checked. Lazy per-record iterator: a huge video row
    // never materializes all frames at once.
    Q("multimodal_frame_sample",
      (s, dir) => {
        import s.implicits._
        Multimodal.frameSample(s,
            Multimodal.syntheticVideos(s,
              t(s, dir, "documents").filter($"doc_id" < 100)), everyK = 2)
          .toDF()
          .select($"doc_id", $"frame_idx".cast("long").as("frame_idx"),
            $"width".cast("long").as("width"),
            $"height".cast("long").as("height"),
            $"sum_r", $"sum_g", $"sum_b", $"wsum_r")
          .orderBy($"doc_id", $"frame_idx")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 12 + doc_id % 6 AS w, 10 + doc_id % 5 AS h,
             |         3 + doc_id % 4 AS nf
             |  FROM documents WHERE doc_id < 100),
             |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM dims),
             |xs AS (SELECT doc_id, w, h, f, unnest(range(0, w)) AS x
             |       FROM fr WHERE f % 2 = 0),
             |px AS (SELECT doc_id, w, h, f, x, unnest(range(0, h)) AS y FROM xs),
             |v AS (SELECT doc_id, f, w, h, x, y,
             |        (doc_id*31 + f*17 + x*7 + y*13) % 256 AS r,
             |        (doc_id*31 + f*17 + x*7 + y*13 + 101) % 256 AS g,
             |        (doc_id*31 + f*17 + x*7 + y*13 + 202) % 256 AS b
             |      FROM px)
             |SELECT doc_id, f AS frame_idx, w AS width, h AS height,
             |  CAST(SUM(r) AS BIGINT) AS sum_r,
             |  CAST(SUM(g) AS BIGINT) AS sum_g,
             |  CAST(SUM(b) AS BIGINT) AS sum_b,
             |  CAST(SUM((x + 2*y + 1) * r) AS BIGINT) AS wsum_r
             |FROM v GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""".stripMargin))
  )
}
