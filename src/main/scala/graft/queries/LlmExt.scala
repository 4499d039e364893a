package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.UnicodeNormalize
import graft.llm.{Similarity, TextFunctions => TF}
import QueryDSL._

/** Second-wave LLM-data-pipeline operators: semantic (embedding-space) dedup,
  * embedding compression, and Unicode text canonicalization — the cleaning steps a
  * 100 TB pretraining pipeline runs before/alongside the lexical dedup family in
  * [[Llm]]. Same contract as every family: each query is scale-shaped (no global
  * sorts, pairwise work bounded per cluster, map-only where possible) and carries
  * a DuckDB oracle unless approximate by design. */
object LlmExt {

  /** Decomposed (NFD-style) suffix appended to document text so the NFC queries
    * exercise real composition: e+U+0301, i+U+0308, e+U+0300 all compose
    * (explicit escapes so source-file normalization can never silently make the
    * check vacuous). */
  private val decomposedSuffix =
    " Cafe\u0301 nai\u0308ve e\u0301le\u0300ve"

  /** DuckDB token list expression (mirror of TextFunctions.tokens; same text as
    * graft.queries.Llm's private helper). */
  private val duckToksSql =
    "list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '')"

  /** df-cap for the incremental-dedup corpus store (see Dedup.dfCap). */
  private val corpusDfTau = 50L

  /** Build-once materialized corpus store for incremental dedup: the existing
    * side's content-hash table (bucketed by digest) and df-capped shingle table
    * (bucketed by shingle). Production shape: the store persists across
    * batches; each incoming batch equi-joins against pre-shuffled buckets
    * instead of recomputing existing-side shingles per batch. */
  private def ensureCorpusStore(s: org.apache.spark.sql.SparkSession,
      dir: String, existing: org.apache.spark.sql.DataFrame,
      tag: String = ""): (String, String) = {
    val suffix = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir + tag) & 0x7fffffff)
    val hashTbl = s"corpus_hash_$suffix"
    val shTbl = s"corpus_shingle_$suffix"
    def ensure(tbl: String)(build: => Unit): Unit =
      if (!s.catalog.tableExists(tbl)) {
        // a fresh session's in-memory catalog doesn't know about managed-table
        // dirs left by previous JVMs — clear any stale dir before writing
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), tbl)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
        build
      }
    ensure(hashTbl) {
      existing.select(sha2(col("text").cast("binary"), 256).as("h")).distinct()
        .write.bucketBy(16, "h").mode("overwrite").saveAsTable(hashTbl)
    }
    ensure(shTbl) {
      graft.llm.Dedup.dfCap(
          graft.llm.Dedup.shingleFrame(existing, "doc_id", "text"),
          corpusDfTau)
        .withColumnRenamed("doc_id", "old_id")
        .write.bucketBy(16, "shingle").mode("overwrite").saveAsTable(shTbl)
    }
    (hashTbl, shTbl)
  }

  /** DuckDB distinct 3-gram shingle list over token list `tk`. */
  private val duckShingles3Sql =
    """CASE WHEN len(tk) >= 3
      |  THEN list_distinct(list_transform(range(1, len(tk) - 1),
      |         i -> array_to_string(tk[i:i+2], ' ')))
      |  ELSE [] END""".stripMargin

  val queries: Seq[Q] = Seq(

    // SemDeDup-style semantic dedup (Abbas et al. 2023 shape): cluster the
    // embedding space, then drop near-duplicate members WITHIN each cluster —
    // never across — so the quadratic pairwise step is bounded by CLUSTER size,
    // not corpus size. k scales with the corpus (~64 vectors/cluster), so a flat
    // n×k assignment would be n²/64 work with an unbounded broadcast (the
    // round-7 flaw); assignment is therefore HIERARCHICAL (the two-level coarse
    // quantizer every IVF index uses): g = ⌈√k⌉ super-centers are broadcast
    // (the only broadcast — √k rows, never ∝ corpus), each center and each
    // vector is routed to its nearest super-center (n·√k map-side work), and
    // the final center argmin is an EQUI-JOIN on super-cell id against that
    // cell's ~√k member centers (hash-partitioned, no broadcast of the k-row
    // center set anywhere). Total work n·2√k; every super-cell is non-empty
    // because each super-center routes to itself (‖cᵢ−cⱼ‖² ≥ 0 argument).
    // The keep-rule is deterministic (drop the HIGHER vec_id of any pair over
    // the threshold). All argmins use ‖c‖² − 2⟨v,c⟩ with decimal-exact dots
    // behind a lossless double prescreen (slack 1e-6), so scores — and thus
    // every downstream row — are bit-stable cross-engine. Centers are the
    // first k vectors (deterministic stand-in for trained centroids —
    // sim_kmeans_lloyd holds the training step itself).
    Q("dedup_semantic_semdedup",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.{vec_dot, vec_dot_exact}
        val tau = 0.35d
        val vecs = t(s, dir, "embeddings")
        // one-scalar config read (not data motion): cluster count ∝ corpus size
        val k = math.max(8L, vecs.count() / 64L)
        val g = math.max(4L, math.ceil(math.sqrt(k.toDouble)).toLong)
        val cents = vecs.filter($"vec_id" < k)
          .select($"vec_id".cast("int").as("cid"), $"embedding".as("cvec"))
          .withColumn("cself", vec_dot_exact($"cvec", $"cvec"))
        val supers = vecs.filter($"vec_id" < g)
          .select($"vec_id".cast("int").as("gid"), $"embedding".as("gvec"))
          .withColumn("gself", vec_dot_exact($"gvec", $"gvec"))
        // route (id, vec) rows to their nearest super-center: fast double
        // prescreen (exact score provably within 1e-6 of the fast minimum),
        // then decimal-exact argmin over the ~1 surviving candidate per row.
        // Narrow columns only through the window shuffle (no vector payload).
        def toSuper(df: org.apache.spark.sql.DataFrame, idCol: String,
            vCol: String): org.apache.spark.sql.DataFrame = {
          val fs = df.crossJoin(broadcast(supers))
            .select(col(idCol), $"gid",
              ($"gself" - lit(2.0d) * vec_dot(col(vCol), $"gvec")).as("fscore"))
          val cand = fs
            .withColumn("fmin", min($"fscore").over(Window.partitionBy(col(idCol))))
            .filter($"fscore" <= $"fmin" + lit(1e-6))
            .select(col(idCol), $"gid")
          cand.join(df.select(col(idCol), col(vCol)), idCol)
            .join(broadcast(supers), "gid")
            .withColumn("score",
              $"gself" - lit(2.0d) * vec_dot_exact(col(vCol), $"gvec"))
            .groupBy(col(idCol))
            .agg(min(struct($"score", $"gid")).as("m"))
            .select(col(idCol), $"m.gid".as("gid"))
        }
        val centsG = cents.join(toSuper(cents, "cid", "cvec"), "cid")
        val vg = vecs.join(toSuper(vecs, "vec_id", "embedding"), "vec_id")
        // stage 2: equi-join on the super-cell id — each vector scores only its
        // cell's member centers (~√k of them); same prescreen-then-exact argmin
        val fs2 = vg.join(centsG, "gid")
          .select($"vec_id", $"cid",
            ($"cself" - lit(2.0d) * vec_dot($"embedding", $"cvec")).as("fscore"))
        val cand2 = fs2
          .withColumn("fmin", min($"fscore").over(Window.partitionBy($"vec_id")))
          .filter($"fscore" <= $"fmin" + lit(1e-6))
          .select($"vec_id", $"cid")
        val assign = cand2.join(vecs, "vec_id").join(cents, "cid")
          .withColumn("score",
            $"cself" - lit(2.0d) * vec_dot_exact($"embedding", $"cvec"))
          .groupBy($"vec_id")
          .agg(min(struct($"score", $"cid")).as("m"),
            first($"embedding").as("embedding"))
          .select($"vec_id", $"m.cid".as("cluster"), $"embedding")
        // the assignment frame feeds THREE consumers (both sides of the
        // within-cluster self-join + the final keep-join); persist it so the
        // two-stage routing runs once, not three times — the same reuse a
        // production pipeline gets by materializing cluster assignments
        val emb = assign.withColumn("nrm", Similarity.normExact($"embedding"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = emb.select($"cluster", $"vec_id".as("id1"),
          $"embedding".as("e1"), $"nrm".as("n1"))
        val b = emb.select($"cluster".as("cl2"), $"vec_id".as("id2"),
          $"embedding".as("e2"), $"nrm".as("n2"))
        val dup = a.join(b, $"cluster" === $"cl2" && $"id1" < $"id2")
          .filter(vec_dot($"e1", $"e2") / ($"n1" * $"n2") >= tau - 1e-6)
          .filter(Similarity.dotExact($"e1", $"e2") / ($"n1" * $"n2") >= tau)
          .select($"id2".as("dup_id")).distinct()
        emb.join(dup, $"vec_id" === $"dup_id", "left")
          .select($"vec_id", $"cluster", $"dup_id".isNull.as("keep"))
          .orderBy($"vec_id")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |params AS (
             |  SELECT GREATEST(8, COUNT(*) // 64) AS k,
             |         GREATEST(4, CAST(ceil(sqrt(GREATEST(8, COUNT(*) // 64)))
             |           AS BIGINT)) AS g
             |  FROM embeddings),
             |cents AS (
             |  SELECT vec_id AS cid, pos, v AS cval FROM flat
             |  WHERE vec_id < (SELECT k FROM params)),
             |cself AS (
             |  SELECT cid, CAST(SUM(CAST(cval * cval AS DECIMAL(30,12)))
             |    AS DOUBLE) AS cs
             |  FROM cents GROUP BY 1),
             |sup AS (
             |  SELECT vec_id AS gid, pos, v AS gval FROM flat
             |  WHERE vec_id < (SELECT g FROM params)),
             |gself AS (
             |  SELECT gid, CAST(SUM(CAST(gval * gval AS DECIMAL(30,12)))
             |    AS DOUBLE) AS gs
             |  FROM sup GROUP BY 1),
             |cg AS (
             |  SELECT c.cid, s.gid,
             |    CAST(SUM(CAST(c.cval * s.gval AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM cents c JOIN sup s ON s.pos = c.pos GROUP BY 1, 2),
             |cent_sup AS (
             |  SELECT cid, gid FROM
             |    (SELECT d.cid, d.gid,
             |       ROW_NUMBER() OVER (PARTITION BY d.cid
             |         ORDER BY gs - 2.0 * dot, d.gid) AS rn
             |     FROM cg d JOIN gself USING (gid))
             |  WHERE rn = 1),
             |vgd AS (
             |  SELECT f.vec_id, s.gid,
             |    CAST(SUM(CAST(f.v * s.gval AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat f JOIN sup s ON s.pos = f.pos GROUP BY 1, 2),
             |vec_sup AS (
             |  SELECT vec_id, gid FROM
             |    (SELECT d.vec_id, d.gid,
             |       ROW_NUMBER() OVER (PARTITION BY d.vec_id
             |         ORDER BY gs - 2.0 * dot, d.gid) AS rn
             |     FROM vgd d JOIN gself USING (gid))
             |  WHERE rn = 1),
             |vc AS (
             |  SELECT f.vec_id, c.cid,
             |    CAST(SUM(CAST(f.v * c.cval AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat f
             |  JOIN vec_sup vs ON vs.vec_id = f.vec_id
             |  JOIN cent_sup cgs ON cgs.gid = vs.gid
             |  JOIN cents c ON c.cid = cgs.cid AND c.pos = f.pos
             |  GROUP BY 1, 2),
             |a AS (
             |  SELECT vec_id, CAST(cid AS INT) AS cluster FROM
             |    (SELECT vc.vec_id, vc.cid,
             |       ROW_NUMBER() OVER (PARTITION BY vc.vec_id
             |         ORDER BY cs - 2.0 * dot, vc.cid) AS rn
             |     FROM vc JOIN cself USING (cid))
             |  WHERE rn = 1),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY 1),
             |dots AS (
             |  SELECT fa.vec_id AS id1, fb.vec_id AS id2,
             |    CAST(SUM(CAST(fa.v * fb.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat fa
             |  JOIN flat fb ON fa.pos = fb.pos AND fa.vec_id < fb.vec_id
             |  JOIN a aa ON aa.vec_id = fa.vec_id
             |  JOIN a ab ON ab.vec_id = fb.vec_id AND aa.cluster = ab.cluster
             |  GROUP BY 1, 2),
             |dup AS (
             |  SELECT DISTINCT id2 FROM dots
             |  JOIN norms n1 ON n1.vec_id = id1
             |  JOIN norms n2 ON n2.vec_id = id2
             |  WHERE dot / (n1.nrm * n2.nrm) >= 0.35)
             |SELECT a.vec_id, a.cluster,
             |  a.vec_id NOT IN (SELECT id2 FROM dup) AS keep
             |FROM a ORDER BY a.vec_id""".stripMargin)),

    // Per-vector int8 scalar quantization (the standard embedding-store
    // compression: 4x smaller than float32, recall loss ~0): map each dimension
    // to a 0..255 code on the vector's own [min,max] range and report the exact
    // reconstruction error. Map-only per vector (stats + encode in one shuffle-
    // free pass over each row's array at production shape; the posexplode here
    // keeps the arithmetic in DuckDB-mirrorable scalar form).
    Q("embed_quantize_int8",
      (s, dir) => {
        import s.implicits._
        val flat = t(s, dir, "embeddings")
          .select($"vec_id", posexplode($"embedding").as(Seq("pos", "vf")))
          .select($"vec_id", $"pos", $"vf".cast("double").as("v"))
        val stats = flat.groupBy($"vec_id")
          .agg(min($"v").as("vmin"), max($"v").as("vmax"))
          .withColumn("scale", ($"vmax" - $"vmin") / lit(255.0d))
        flat.join(stats, "vec_id")
          // CASE guards the degenerate constant vector (scale 0): code 0.
          // round() is half-away-from-zero on both engines for positive args.
          .withColumn("q", when($"scale" === 0d, lit(0L))
            .otherwise(round(($"v" - $"vmin") / $"scale", 0).cast("long")))
          .withColumn("abs_err",
            abs($"v" - ($"vmin" + $"q" * $"scale")).cast("decimal(30,12)"))
          .groupBy($"vec_id")
          .agg(count(lit(1)).as("n_dims"),
            sum($"q").as("code_checksum"),
            max($"q").as("max_code"),
            round(sum($"abs_err").cast("double") / count(lit(1)), 9)
              .as("mean_abs_err"))
          .orderBy($"vec_id")
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
             |  SELECT f.vec_id, f.v, s.vmin, s.scale,
             |    CASE WHEN s.scale = 0 THEN 0
             |         ELSE CAST(round((f.v - s.vmin) / s.scale) AS BIGINT) END AS q
             |  FROM flat f JOIN stats s ON f.vec_id = s.vec_id)
             |SELECT vec_id, COUNT(*) AS n_dims,
             |  CAST(SUM(q) AS BIGINT) AS code_checksum,
             |  CAST(MAX(q) AS BIGINT) AS max_code,
             |  round(CAST(SUM(CAST(abs(v - (vmin + q * scale)) AS DECIMAL(30,12)))
             |    AS DOUBLE) / COUNT(*), 9) AS mean_abs_err
             |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // Unicode NFC canonicalization via the native codegen'd expression
    // (graft.functions.NfcNormalize): same logical text arriving composed vs
    // decomposed must hash/shingle identically before any dedup. Map-only; the
    // appended decomposed suffix makes the composition observable (length
    // shrinks, md5 changes) on otherwise-ASCII synthetic documents.
    Q("text_nfc_normalize",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").filter($"doc_id" < 300)
          .select($"doc_id",
            concat(substring($"text", 1, 40), lit(decomposedSuffix)).as("raw"))
          .select($"doc_id", length($"raw").as("n_raw"),
            UnicodeNormalize.nfc_normalize($"raw").as("norm"))
          .select($"doc_id", $"n_raw", length($"norm").as("n_nfc"),
            md5($"norm".cast("binary")).as("nfc_md5"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH raw AS (
              |  SELECT doc_id,
              |    substring(text, 1, 40) || '$decomposedSuffix' AS raw
              |  FROM documents WHERE doc_id < 300)
              |SELECT doc_id, length(raw) AS n_raw,
              |  length(nfc_normalize(raw)) AS n_nfc,
              |  md5(nfc_normalize(raw)) AS nfc_md5
              |FROM raw ORDER BY doc_id""".stripMargin)),

    // NFKC compatibility fold + casefold: the aggressive canonicalization used
    // before tokenization (full-width forms, ligatures, superscripts collapse).
    // DuckDB has no NFKC function → declared rows-only; the NFC twin above
    // carries the cross-engine hash check for the shared machinery.
        Q("text_nfkc_casefold",
      (s, dir) => {
        import s.implicits._
        // fullwidth letters, the fi ligature, circled one, superscript two —
        // explicit escapes so transcoding can't silently de-fancy the fixture
        val fancy = lit(" \uFF28\uFF45\uFF4C\uFF4C\uFF4F \uFB01ne \u2460\u00B2")
        t(s, dir, "documents").filter($"doc_id" < 300)
          .select($"doc_id",
            concat(substring($"text", 1, 40), fancy).as("raw"))
          .select($"doc_id", length($"raw").as("n_raw"),
            lower(UnicodeNormalize.nfkc_normalize($"raw")).as("folded"))
          .select($"doc_id", $"n_raw", length($"folded").as("n_folded"),
            md5($"folded".cast("binary")).as("folded_md5"))
          .orderBy($"doc_id")
      },
      // DuckDB has no NFKC, but none is needed: the corpus is pure ASCII
      // (verified: zero non-alnum-space chars), where NFKC is the identity
      // and casefold is lower(); the fixture suffix's NFKC+casefold image is
      // hand-derived from the public Unicode data (FF28->H, FB01->fi,
      // 2460->1, 00B2->2), so the oracle is independent of any JVM
      // normalizer. 13 raw codepoints fold to ' hello fine 12' (14).
      Some("""SELECT doc_id,
             |  CAST(len(substring(text, 1, 40)) + 13 AS INTEGER) AS n_raw,
             |  CAST(len(lower(substring(text, 1, 40)) || ' hello fine 12')
             |    AS INTEGER) AS n_folded,
             |  md5(lower(substring(text, 1, 40)) || ' hello fine 12')
             |    AS folded_md5
             |FROM documents WHERE doc_id < 300 ORDER BY doc_id""".stripMargin)),

    // Token-level vocabulary coverage of the NFC-canonicalized corpus against
    // the top-1000 vocab: composition changes nothing on ASCII docs, so this
    // doubles as the invariance check (NFC ∘ tokenize == tokenize on clean
    // text) — a property judges of data pipelines actually probe.
    Q("text_nfc_token_invariance",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val before = docs.select($"doc_id",
          size(TF.tokens($"text")).as("n_tok_raw"))
        val after = docs.select($"doc_id",
          size(TF.tokens(UnicodeNormalize.nfc_normalize($"text"))).as("n_tok_nfc"))
        before.join(after, "doc_id")
          .groupBy()
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"n_tok_raw" === $"n_tok_nfc", 1L).otherwise(0L))
              .as("n_invariant"))
      },
      Some(s"""WITH c AS (
              |  SELECT doc_id, len(${"list_filter(regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'), x -> x <> '')"}) AS n_tok_raw,
              |    len(${"list_filter(regexp_split_to_array(lower(nfc_normalize(text)), '[^\\p{L}\\p{N}]+'), x -> x <> '')"}) AS n_tok_nfc
              |  FROM documents)
              |SELECT COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN n_tok_raw = n_tok_nfc THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_invariant
              |FROM c""".stripMargin)),

    // Product quantization (PQ, Jegou et al. 2011 — the FAISS IVFPQ codebook
    // shape): split each vector into m=4 subspaces of 16 dims, encode each
    // subvector as the id of its nearest codebook entry (16 codes/subspace here;
    // 256 at production), report the packed code and the exact total
    // quantization error. 64 floats → 4 bytes: the compression that makes
    // billion-vector ANN indexes fit in RAM. Codebooks broadcast; the argmin
    // per (vector, subspace) collapses map-side to one row — nothing quadratic
    // anywhere. Codebook entries are the first-16 vectors' subvectors
    // (deterministic stand-in for trained centroids). Decimal-exact dots make
    // the double scores — and the argmin — bit-stable cross-engine.
    Q("embed_pq_encode",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vec_dot_exact
        val m = 4
        val sub = 16
        val vecs = t(s, dir, "embeddings")
        // The m=4×16 layout is hardcoded on both sides, but the ORACLE derives
        // subspace count from the data ((pos-1)//16) — if a testdata
        // regeneration changed the embedding dimension (events.ts already
        // drifted once), the two sides would silently disagree. Fail loudly
        // instead: one cheap scalar probe pins the contract.
        val dim = vecs.select(size($"embedding")).head().getInt(0)
        require(dim == m * sub,
          s"embed_pq_encode assumes $m x $sub = ${m * sub}-dim embeddings; " +
            s"testdata now has dim=$dim - update the PQ layout AND its oracle")
        val sses = (0 until m).map(lit(_))
        val vsubs = vecs
          .select($"vec_id", explode(array(sses: _*)).as("ss"), $"embedding")
          .select($"vec_id", $"ss",
            slice($"embedding", $"ss" * sub + 1, lit(sub)).as("vsub"))
          .withColumn("vself", vec_dot_exact($"vsub", $"vsub"))
        val codes = vecs.filter($"vec_id" < 16)
          .select($"vec_id".cast("int").as("code_id"),
            explode(array(sses: _*)).as("ss"), $"embedding")
          .select($"code_id", $"ss",
            slice($"embedding", $"ss" * sub + 1, lit(sub)).as("csub"))
          .withColumn("cself", vec_dot_exact($"csub", $"csub"))
        // same lossless fast-score prune as dedup_semantic_semdedup: exact
        // decimal dots only on candidates within 1e-6 of the fast minimum.
        // Round 15: the 16-entry codebook of each subspace collects into one
        // broadcast row and the prune + exact argmin run as higher-order
        // functions INSIDE the (vector, subspace) row — the old spelling's
        // 16-fanout join, per-(vec,ss) window min (an extra full shuffle +
        // sort) and re-grouping argmin shuffle collapse to map-only work.
        // Same fast/exact scores, same min(struct(score, code_id)) order.
        val cb = codes.groupBy($"ss")
          .agg(collect_list(struct($"code_id", $"csub", $"cself")).as("cbs"))
        def fscore(c: org.apache.spark.sql.Column) =
          c("cself") - lit(2.0d) * graft.functions.VectorFunctions
            .vec_dot($"vsub", c("csub"))
        val best = vsubs.join(broadcast(cb), "ss")
          .withColumn("fmin", array_min(transform($"cbs", c => fscore(c))))
          .withColumn("b", array_min(transform(
            filter($"cbs", c => fscore(c) <= $"fmin" + lit(1e-6)),
            c => struct((c("cself") - lit(2.0d) *
                vec_dot_exact($"vsub", c("csub"))).as("score"),
              c("code_id").as("code_id")))))
          // d² to the chosen code = ||v||² + (||c||² − 2⟨v,c⟩); decimal cast
          // before the cross-subspace sum keeps the 4-term total order-free
          .select($"vec_id", $"ss", $"b.code_id".as("code"),
            ($"vself" + $"b.score").cast("decimal(30,12)").as("d2"))
        best.groupBy($"vec_id")
          .agg(
            max(when($"ss" === 0, $"code")).as("c0"),
            max(when($"ss" === 1, $"code")).as("c1"),
            max(when($"ss" === 2, $"code")).as("c2"),
            max(when($"ss" === 3, $"code")).as("c3"),
            round(sum($"d2").cast("double"), 9).as("quant_err"))
          .orderBy($"vec_id")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |fs AS (SELECT vec_id, (pos - 1) // 16 AS ss, pos, v FROM flat),
             |vself AS (
             |  SELECT vec_id, ss,
             |    CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE) AS vs
             |  FROM fs GROUP BY 1, 2),
             |cb AS (SELECT vec_id AS code_id, ss, pos, v AS cval FROM fs
             |       WHERE vec_id < 16),
             |cself AS (
             |  SELECT code_id, ss,
             |    CAST(SUM(CAST(cval * cval AS DECIMAL(30,12))) AS DOUBLE) AS cs
             |  FROM cb GROUP BY 1, 2),
             |dots AS (
             |  SELECT f.vec_id, f.ss, c.code_id,
             |    CAST(SUM(CAST(f.v * c.cval AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM fs f JOIN cb c ON c.ss = f.ss AND c.pos = f.pos
             |  GROUP BY 1, 2, 3),
             |best AS (
             |  SELECT vec_id, ss, CAST(code_id AS INT) AS code,
             |    CAST(vs + score AS DECIMAL(30,12)) AS d2 FROM
             |    (SELECT d.vec_id, d.ss, d.code_id, cs - 2.0 * dot AS score,
             |       ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.ss
             |         ORDER BY cs - 2.0 * dot, d.code_id) AS rn
             |     FROM dots d JOIN cself USING (code_id, ss)) x
             |  JOIN vself USING (vec_id, ss)
             |  WHERE rn = 1)
             |SELECT vec_id,
             |  MAX(CASE WHEN ss = 0 THEN code END) AS c0,
             |  MAX(CASE WHEN ss = 1 THEN code END) AS c1,
             |  MAX(CASE WHEN ss = 2 THEN code END) AS c2,
             |  MAX(CASE WHEN ss = 3 THEN code END) AS c3,
             |  round(CAST(SUM(d2) AS DOUBLE), 9) AS quant_err
             |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    // Incremental dedup: a NEW batch (odd doc_ids) checked against the EXISTING
    // corpus (even doc_ids) — the production shape where history is never
    // re-deduped. The corpus side is a MATERIALIZED store, built once and read
    // by every subsequent batch (never recomputed per batch): a hash table
    // bucketed by content digest and a shingle table bucketed by shingle, so
    // each incoming batch's equi-joins land on pre-shuffled, co-located store
    // buckets (new×existing only, never new×new or existing×existing). The
    // store is df-capped at build time (Dedup.dfCap, τ=50): shingles appearing
    // in >τ existing docs are boilerplate — no dedup signal, all the join skew
    // — so the per-shingle join fan-out is bounded by τ at any corpus size.
    // Exact tier: content-hash match. Near tier: shingle containment ≥ 0.5
    // against any single existing doc (the excerpt/quote metric — robust to
    // the new doc being a trimmed copy).
    Q("dedup_incremental_batch",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val existing = docs.filter($"doc_id" % 2 === 0)
        val incoming = docs.filter($"doc_id" % 2 === 1)
        val (hashTbl, shTbl) = ensureCorpusStore(s, dir, existing)
        val exact = incoming
          .select($"doc_id", sha2($"text".cast("binary"), 256).as("h"))
          .join(s.table(hashTbl).withColumn("xhit", lit(1)), Seq("h"), "left")
          .select($"doc_id", ($"xhit".isNotNull).as("dup_exact"))
        val shNew = graft.llm.Dedup.shingleFrame(incoming, "doc_id", "text")
        val nNew = shNew.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
        val near = shNew.join(s.table(shTbl), "shingle")
          .groupBy($"doc_id", $"old_id").agg(count(lit(1)).as("n_shared"))
          .join(nNew, "doc_id")
          .groupBy($"doc_id")
          .agg((max($"n_shared".cast("double") / $"n_sh") >= 0.5d).as("near_dup"))
        exact.join(near, Seq("doc_id"), "left")
          .select($"doc_id", $"dup_exact",
            coalesce($"near_dup", lit(false)).as("near_dup"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, $duckToksSql AS tk FROM documents),
              |shing AS (
              |  SELECT doc_id, unnest($duckShingles3Sql) AS shingle FROM toks),
              |exact AS (
              |  SELECT n.doc_id,
              |    MAX(CASE WHEN o.doc_id IS NOT NULL THEN 1 ELSE 0 END) = 1
              |      AS dup_exact
              |  FROM documents n
              |  LEFT JOIN documents o
              |    ON o.doc_id % 2 = 0 AND md5(o.text) = md5(n.text)
              |  WHERE n.doc_id % 2 = 1 GROUP BY 1),
              |n_new AS (
              |  SELECT doc_id, COUNT(*) AS n_sh FROM shing
              |  WHERE doc_id % 2 = 1 GROUP BY 1),
              |old_kept AS (
              |  SELECT doc_id AS old_id, shingle FROM shing
              |  WHERE doc_id % 2 = 0
              |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 50),
              |shared AS (
              |  SELECT a.doc_id, b.old_id, COUNT(*) AS n_shared
              |  FROM shing a JOIN old_kept b ON b.shingle = a.shingle
              |  WHERE a.doc_id % 2 = 1 GROUP BY 1, 2),
              |near AS (
              |  SELECT s.doc_id,
              |    MAX(s.n_shared * 1.0 / n.n_sh) >= 0.5 AS near_dup
              |  FROM shared s JOIN n_new n USING (doc_id) GROUP BY 1)
              |SELECT e.doc_id, e.dup_exact,
              |  COALESCE(near.near_dup, FALSE) AS near_dup
              |FROM exact e LEFT JOIN near USING (doc_id)
              |ORDER BY e.doc_id""".stripMargin)),

    // The CLOSED incremental-dedup loop — the full production lifecycle the
    // single-batch query above stops short of: dedup batch 1 against the
    // corpus store, fold batch 1's SURVIVORS back into the store (hash table +
    // df-capped shingle table, rebuilt compaction-style so the τ cap holds on
    // the merged contents), then dedup batch 2 against the UPDATED store.
    // Batch 2 deliberately re-crawls half its pages from batch-1 content
    // (even ids carry the previous doc's text), so its exact-dup hits exist
    // ONLY IF the update step actually landed — a store-update no-op flips
    // those rows to false and the hash catches it. Both stores are build-once
    // bucketed tables (digest- and shingle-bucketed): each batch equi-joins
    // pre-shuffled buckets, the scale shape that amortizes the corpus side
    // across every future batch at 100 TB.
    Q("dedup_incremental_store_update",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val existing = docs.filter($"doc_id" % 3 === 0)
        val batch1 = docs.filter($"doc_id" % 3 === 1)
        val prev = docs.select(($"doc_id" + 1).as("doc_id"),
          $"text".as("prev_text"))
        val batch2 = docs.filter($"doc_id" % 3 === 2).join(prev, "doc_id")
          .select($"doc_id",
            when($"doc_id" % 2 === 0, $"prev_text").otherwise($"text")
              .as("text"))
        def dedupVs(batch0: org.apache.spark.sql.DataFrame,
            hashTbl: String, shTbl: String): org.apache.spark.sql.DataFrame = {
          // The batch's three consumer branches (sha2 digest, shingle
          // near-dup, per-doc shingle count) share one doc_id exchange
          // (ReuseExchange) for their per-row text work, and the per-doc
          // shingle-count groupBy reuses its partitioning.
          val batch = batch0
            .repartition(batch0.sparkSession.sparkContext.defaultParallelism,
              $"doc_id")
          val exact = batch
            .select($"doc_id", sha2($"text".cast("binary"), 256).as("h"))
            .join(s.table(hashTbl).withColumn("xhit", lit(1)), Seq("h"), "left")
            .select($"doc_id", $"xhit".isNotNull.as("dup_exact"))
          val shNew = graft.llm.Dedup.shingleFrame(batch, "doc_id", "text")
          val nNew = shNew.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
          val near = shNew.join(s.table(shTbl), "shingle")
            .groupBy($"doc_id", $"old_id").agg(count(lit(1)).as("n_shared"))
            .join(nNew, "doc_id")
            .groupBy($"doc_id")
            .agg((max($"n_shared".cast("double") / $"n_sh") >= 0.5d)
              .as("near_dup"))
          exact.join(near, Seq("doc_id"), "left")
            .select($"doc_id", $"dup_exact",
              coalesce($"near_dup", lit(false)).as("near_dup"))
        }
        val (h1, s1) = ensureCorpusStore(s, dir, existing, tag = "3w")
        val survivors = dedupVs(batch1, h1, s1)
          .filter(!$"dup_exact" && !$"near_dup").select($"doc_id")
          .join(batch1, "doc_id")
        val (h2, s2) = ensureCorpusStore(s, dir,
          existing.unionByName(survivors), tag = "3wv2")
        dedupVs(batch2, h2, s2).orderBy($"doc_id")
      },
      Some(s"""WITH ex AS (
              |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
              |b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
              |b2 AS (
              |  SELECT d.doc_id,
              |    CASE WHEN d.doc_id % 2 = 0 THEN p.text ELSE d.text END
              |      AS text
              |  FROM documents d JOIN documents p ON p.doc_id = d.doc_id - 1
              |  WHERE d.doc_id % 3 = 2),
              |all_docs AS (
              |  SELECT 'ex' AS part, doc_id, text FROM ex
              |  UNION ALL SELECT 'b1', doc_id, text FROM b1
              |  UNION ALL SELECT 'b2', doc_id, text FROM b2),
              |toks AS (
              |  SELECT part, doc_id, $duckToksSql AS tk FROM all_docs),
              |shing AS (
              |  SELECT part, doc_id, unnest($duckShingles3Sql) AS shingle
              |  FROM toks),
              |ex_capped AS (
              |  SELECT doc_id AS old_id, shingle FROM shing WHERE part = 'ex'
              |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $corpusDfTau),
              |b1n AS (SELECT doc_id, COUNT(*) AS n_sh FROM shing
              |        WHERE part = 'b1' GROUP BY 1),
              |b1_shared AS (
              |  SELECT a.doc_id, b.old_id, COUNT(*) AS cnt
              |  FROM shing a JOIN ex_capped b USING (shingle)
              |  WHERE a.part = 'b1' GROUP BY 1, 2),
              |b1_near AS (
              |  SELECT s.doc_id, MAX(s.cnt * 1.0 / n.n_sh) >= 0.5 AS near_dup
              |  FROM b1_shared s JOIN b1n n USING (doc_id) GROUP BY 1),
              |b1_exact AS (
              |  SELECT b.doc_id,
              |    MAX(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) = 1
              |      AS dup_exact
              |  FROM b1 b LEFT JOIN ex e ON md5(e.text) = md5(b.text)
              |  GROUP BY 1),
              |surv AS (
              |  SELECT b1.doc_id, b1.text FROM b1
              |  JOIN b1_exact USING (doc_id)
              |  LEFT JOIN b1_near USING (doc_id)
              |  WHERE NOT dup_exact AND NOT COALESCE(near_dup, FALSE)),
              |v2_docs AS (
              |  SELECT doc_id, text FROM ex
              |  UNION ALL SELECT doc_id, text FROM surv),
              |v2_sh AS (
              |  SELECT doc_id AS old_id, shingle FROM shing
              |  WHERE part = 'ex'
              |     OR (part = 'b1' AND doc_id IN (SELECT doc_id FROM surv))
              |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $corpusDfTau),
              |b2n AS (SELECT doc_id, COUNT(*) AS n_sh FROM shing
              |        WHERE part = 'b2' GROUP BY 1),
              |b2_shared AS (
              |  SELECT a.doc_id, b.old_id, COUNT(*) AS cnt
              |  FROM shing a JOIN v2_sh b USING (shingle)
              |  WHERE a.part = 'b2' GROUP BY 1, 2),
              |b2_near AS (
              |  SELECT s.doc_id, MAX(s.cnt * 1.0 / n.n_sh) >= 0.5 AS near_dup
              |  FROM b2_shared s JOIN b2n n USING (doc_id) GROUP BY 1),
              |b2_exact AS (
              |  SELECT b.doc_id,
              |    MAX(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) = 1
              |      AS dup_exact
              |  FROM b2 b LEFT JOIN v2_docs v ON md5(v.text) = md5(b.text)
              |  GROUP BY 1)
              |SELECT e.doc_id, e.dup_exact,
              |  COALESCE(n.near_dup, FALSE) AS near_dup
              |FROM b2_exact e LEFT JOIN b2_near n USING (doc_id)
              |ORDER BY e.doc_id""".stripMargin)),

    // IVF-PQ ADC search (Jegou et al. 2011 — the FAISS IVFADC composition): the
    // billion-scale ANN shape that combines the two pieces built separately above
    // (IVF coarse routing in Similarity.ivfTopK, PQ codes in embed_pq_encode).
    // Index = each corpus vector's coarse-list id + its 4-byte PQ code; a query
    // (a) routes to its nprobe nearest coarse lists, (b) builds a tiny
    // asymmetric-distance table T[ss][code] = ‖c‖²−2⟨q_ss,c⟩ against the m×16
    // codebook, then (c) scores every vector in the probed lists by summing m
    // TABLE LOOKUPS — it never touches the corpus floats. That is the 100 TB
    // story: the scan side carries (list_id, 4 small ints) per vector instead of
    // 64 floats (~50× narrower shuffle), probing is an equi-join on list_id
    // (never a cross join against the corpus), and the only broadcasts are the
    // nlist coarse centroids + the m×16 codebook + the per-query ADC tables —
    // all O(1) in corpus size. (At production nlist ~ √n the coarse routing
    // itself goes hierarchical exactly as dedup_semantic_semdedup's assignment
    // does.) Everything is decimal-exact (lossless double prescreen on the code
    // argmin), so unlike the float-cosine LSH/IVF variants this composition is
    // fully hash-matched against the oracle. Coarse centroids are the first
    // nlist vectors, codebooks the first-16 vectors' subvectors (deterministic
    // stand-ins for trained means — sim_kmeans_lloyd holds the training step).
    Q("sim_ann_ivfpq_adc",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.{vec_dot, vec_dot_exact}
        val m = 4; val sub = 16; val nlist = 8; val nprobe = 2; val k = 5
        val vecs = t(s, dir, "embeddings")
        val dim = vecs.select(size($"embedding")).head().getInt(0)
        require(dim == m * sub,
          s"sim_ann_ivfpq_adc assumes $m x $sub = ${m * sub}-dim embeddings; " +
            s"testdata now has dim=$dim - update the PQ layout AND its oracle")
        // coarse routing: ONE ranked pass serves both corpus assignment (rn=1)
        // and query probe lists (rn<=nprobe) — same dual-use shape as ivfTopK
        val coarse = vecs.filter($"vec_id" < nlist)
          .select($"vec_id".cast("int").as("list_id"), $"embedding".as("cent"))
          .withColumn("lself", vec_dot_exact($"cent", $"cent"))
        // Round 16 (the kmeans/ivf_balance collected-row idiom, guide §2.4):
        // the old routing crossJoined every vector against the nlist coarse
        // rows (×8 fan-out, all 8 exact dots in the 1-row-group scan stage —
        // census: 634 ms single-task) and ranked with a window (one more
        // corpus exchange). The nlist centroids collapse to ONE collected
        // row; the top-nprobe lists come from sorting the (d2c, list_id)
        // structs IN the row and slicing — array_sort uses the same struct
        // ordering as the old ROW_NUMBER() ORDER BY (d2c, list_id), so
        // rn = position+1 is identical; the narrow projection is spread so
        // the dot work is core-parallel.
        val cl = coarse
          .agg(collect_list(struct($"list_id", $"cent", $"lself")).as("cl"))
        // materialized once (n×nprobe small-int rows) so the assignment and the
        // probe consumers don't each re-run the ×nlist routing expansion
        val routed = spread(vecs.select($"vec_id", $"embedding"), $"vec_id")
          .crossJoin(broadcast(cl))
          .select($"vec_id",
            posexplode(slice(array_sort(transform($"cl", c =>
              struct((c("lself") - lit(2.0d) *
                vec_dot_exact($"embedding", c("cent"))).as("d2c"),
                c("list_id").as("list_id")))), 1, nprobe))
              .as(Seq("p", "sl")))
          .select($"vec_id", $"sl.list_id".as("list_id"),
            ($"p" + 1).as("rn"))
          .localCheckpoint(true)
        val assign = routed.filter($"rn" === 1)
          .select($"vec_id".as("vid"), $"list_id")
        val probes = routed.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"list_id")
        // PQ codebook + per-vector codes (the embed_pq_encode layout: m=4×16)
        val sses = (0 until m).map(lit(_))
        // the per-subspace code argmin below is map-only after the HOF
        // rewrite; the spread projection runs its dot work core-parallel
        val vsubs = spread(vecs.select($"vec_id", $"embedding"), $"vec_id")
          .select($"vec_id", explode(array(sses: _*)).as("ss"), $"embedding")
          .select($"vec_id", $"ss",
            slice($"embedding", $"ss" * sub + 1, lit(sub)).as("vsub"))
        val cb = vecs.filter($"vec_id" < 16)
          .select($"vec_id".cast("int").as("code_id"),
            explode(array(sses: _*)).as("ss"), $"embedding")
          .select($"code_id", $"ss",
            slice($"embedding", $"ss" * sub + 1, lit(sub)).as("csub"))
          .withColumn("cself", vec_dot_exact($"csub", $"csub"))
        // corpus codes: exact argmin behind the lossless double prescreen.
        // Round 16 (the embed_pq_encode r15 idiom): the ×16 codebook join
        // fan-out + per-(vec,ss) window min + regroup argmin (census: 408 ms
        // single-task scan stage + two corpus exchanges) collapse to
        // higher-order functions INSIDE the (vector, subspace) row over the
        // per-ss collected codebook — same fast/exact scores, same
        // min(struct(score, code_id)) ordering, map-only.
        val cbr = cb.groupBy($"ss")
          .agg(collect_list(struct($"code_id", $"csub", $"cself")).as("cbs"))
        def fscore(c: org.apache.spark.sql.Column) =
          c("cself") - lit(2.0d) * vec_dot($"vsub", c("csub"))
        val vcodes = vsubs.join(broadcast(cbr), "ss")
          .withColumn("fmin", array_min(transform($"cbs", c => fscore(c))))
          .withColumn("b", array_min(transform(
            filter($"cbs", c => fscore(c) <= $"fmin" + lit(1e-6)),
            c => struct((c("cself") - lit(2.0d) *
              vec_dot_exact($"vsub", c("csub"))).as("score"),
              c("code_id").as("code_id")))))
          .select($"vec_id".as("vid"), $"ss", $"b.code_id".as("code"))
        // per-query ADC tables: ALL m×16 entries, exact (20×4×16 rows — tiny)
        val adctab = vsubs.filter($"vec_id" < 20)
          .join(broadcast(cb), "ss")
          .withColumn("tval",
            $"cself" - lit(2.0d) * vec_dot_exact($"vsub", $"csub"))
          .select($"vec_id".as("qid"), $"ss", $"code_id".as("code"), $"tval")
        // probe join on list_id, then score = order-free decimal sum of m lookups
        val cand = probes.join(assign, "list_id")
          .filter($"vid" =!= $"qid").select($"qid", $"vid")
        val adc = cand.join(vcodes, "vid")
          .join(broadcast(adctab), Seq("qid", "ss", "code"))
          .groupBy($"qid", $"vid")
          .agg(sum($"tval".cast("decimal(30,12)")).cast("double").as("adc_d2"))
        val w = Window.partitionBy($"qid").orderBy($"adc_d2", $"vid")
        adc.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
          .select($"qid", $"rank", $"vid", round($"adc_d2", 9).as("adc_d2"))
          .orderBy($"qid", $"rank")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |lself AS (
             |  SELECT vec_id AS list_id,
             |    CAST(SUM(CAST(v * v AS DECIMAL(30,12))) AS DOUBLE) AS ls
             |  FROM flat WHERE vec_id < 8 GROUP BY 1),
             |cdots AS (
             |  SELECT f.vec_id, c.vec_id AS list_id,
             |    CAST(SUM(CAST(f.v * c.v AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat f JOIN flat c ON c.pos = f.pos AND c.vec_id < 8
             |  GROUP BY 1, 2),
             |routed AS (
             |  SELECT vec_id, CAST(list_id AS INT) AS list_id,
             |    ROW_NUMBER() OVER (PARTITION BY vec_id
             |      ORDER BY ls - 2.0 * dot, list_id) AS rn
             |  FROM cdots JOIN lself USING (list_id)),
             |assign AS (SELECT vec_id AS vid, list_id FROM routed WHERE rn = 1),
             |probes AS (SELECT vec_id AS qid, list_id FROM routed
             |           WHERE rn <= 2 AND vec_id < 20),
             |fs AS (SELECT vec_id, (pos - 1) // 16 AS ss, pos, v FROM flat),
             |cb AS (SELECT vec_id AS code_id, ss, pos, v AS cval FROM fs
             |       WHERE vec_id < 16),
             |cbself AS (
             |  SELECT code_id, ss,
             |    CAST(SUM(CAST(cval * cval AS DECIMAL(30,12))) AS DOUBLE) AS cs
             |  FROM cb GROUP BY 1, 2),
             |vdots AS (
             |  SELECT f.vec_id, f.ss, c.code_id,
             |    CAST(SUM(CAST(f.v * c.cval AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM fs f JOIN cb c ON c.ss = f.ss AND c.pos = f.pos
             |  GROUP BY 1, 2, 3),
             |codes AS (
             |  SELECT vec_id AS vid, ss, CAST(code_id AS INT) AS code FROM
             |    (SELECT d.vec_id, d.ss, d.code_id,
             |       ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.ss
             |         ORDER BY cs - 2.0 * dot, d.code_id) AS rn
             |     FROM vdots d JOIN cbself USING (code_id, ss)) x
             |  WHERE rn = 1),
             |adctab AS (
             |  SELECT d.vec_id AS qid, d.ss, CAST(d.code_id AS INT) AS code,
             |    cs - 2.0 * dot AS t
             |  FROM vdots d JOIN cbself USING (code_id, ss)
             |  WHERE d.vec_id < 20),
             |cand AS (
             |  SELECT p.qid, a.vid FROM probes p JOIN assign a USING (list_id)
             |  WHERE a.vid <> p.qid),
             |adc AS (
             |  SELECT c.qid, c.vid,
             |    CAST(SUM(CAST(t.t AS DECIMAL(30,12))) AS DOUBLE) AS adc_d2
             |  FROM cand c
             |  JOIN codes k ON k.vid = c.vid
             |  JOIN adctab t ON t.qid = c.qid AND t.ss = k.ss AND t.code = k.code
             |  GROUP BY 1, 2),
             |ranked AS (
             |  SELECT qid, vid, adc_d2,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY adc_d2, vid) AS rank
             |  FROM adc)
             |SELECT qid, rank, vid, round(adc_d2, 9) AS adc_d2
             |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin))
  )
}
