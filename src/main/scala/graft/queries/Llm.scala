package graft.queries

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Multimodal, Similarity, TextFunctions => TF}
import QueryDSL._

/** LLM-data-pipeline operator queries (SURVEY.md §2b "LLM extensions"): dedup family,
  * similarity search, text analysis, multimodal columns. Thin wrappers over the
  * graft.llm library with DuckDB oracles mirroring each pipeline. */
object Llm {

  /** DuckDB token list expression (mirror of TextFunctions.tokens). */
  private[queries] def duckToks(textExpr: String) =
    s"list_filter(regexp_split_to_array(lower($textExpr), '[^\\p{L}\\p{N}]+'), x -> x <> '')"

  /** DuckDB distinct 3-gram shingle list over tokens tk. */
  private val duckShingles3 =
    """CASE WHEN len(tk) >= 3
      |  THEN list_distinct(list_transform(range(1, len(tk) - 1),
      |         i -> array_to_string(tk[i:i+2], ' ')))
      |  ELSE [] END""".stripMargin

  /** DuckDB CTE `sh(doc_id, simhash16)` mirroring [[Dedup.simhash16]] for
    * doc_id < 200 (md5-nibble bit votes over the distinct token set). */
  private lazy val duckSimhashUnder200: String = {
    val bitSums = (0 until 16).map(i =>
      s"SUM(CASE WHEN instr('89abcdef', substring(md5(tok), ${i + 1}, 1)) > 0 " +
        s"THEN 1 ELSE -1 END) AS b$i").mkString(",\n    ")
    val bitVal = (0 until 16).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct(${duckToks("text")})) AS tok
       |  FROM documents WHERE doc_id < 200),
       |votes AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM toks GROUP BY doc_id),
       |sh AS (SELECT doc_id, $bitVal AS simhash16 FROM votes)""".stripMargin
  }

  private[queries] val duckShingleBase =
    s"""toks AS (SELECT doc_id, ${duckToks("text")} AS tk FROM documents),
       |shing AS (SELECT doc_id, unnest($duckShingles3) AS shingle FROM toks)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("dedup_exact_keyfirst",
      (s, dir) => {
        import s.implicits._
        Dedup.keepFirst(t(s, dir, "documents"), Seq($"lang", $"source"), Seq($"doc_id"))
          .select($"lang", $"source", $"doc_id")
          .orderBy($"lang", $"source")
      },
      Some("""SELECT lang, source, doc_id FROM (
             |  SELECT lang, source, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
             |  FROM documents)
             |WHERE rn = 1 ORDER BY lang, source""".stripMargin)),

    // Content-hash collapse over a simulated re-crawl with a SKEWED copy
    // distribution (every third doc re-crawled once, every fifteenth twice):
    // n_copies varies 1/2/3, so a silently-wrong copy count can't hide behind
    // a constant column.
    Q("dedup_hash_collapse",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents").select($"doc_id", $"text")
        d.unionByName(d.filter($"doc_id" % 3 === 0))
          .unionByName(d.filter($"doc_id" % 15 === 0))
          .groupBy(Dedup.contentDigest($"text").as("digest"))
          .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
          .select($"canonical_id", $"n_copies", substring($"digest", 1, 16).as("digest16"))
          .orderBy($"canonical_id")
      },
      Some("""SELECT canonical_id, n_copies, digest16 FROM (
             |  SELECT min(doc_id) AS canonical_id, COUNT(*) AS n_copies,
             |    substring(sha256(text), 1, 16) AS digest16
             |  FROM (SELECT doc_id, text FROM documents
             |        UNION ALL SELECT doc_id, text FROM documents
             |          WHERE doc_id % 3 = 0
             |        UNION ALL SELECT doc_id, text FROM documents
             |          WHERE doc_id % 15 = 0)
             |  GROUP BY sha256(text))
             |ORDER BY canonical_id""".stripMargin)),

    // Full MinHash+LSH pipeline: shingle sets → 8 minhashes → 4 bands × 2 → bucket
    // join for candidates → exact Jaccard verification on candidates only.
    Q("dedup_minhash_lsh",
      (s, dir) => {
        import s.implicits._
        // A persisted frame's partitioning is pinned at first materialization
        // and sits outside AQE-coalesce reach, so the docs are spread before
        // the shingling: the cache fill and every cached read run
        // core-parallel.
        val docs = spread(t(s, dir, "documents"))
        // persist the shingle sets once for their two consumers (signatures +
        // verification): MEMORY_AND_DISK spills instead of OOMing, so the same plan
        // holds on a cluster (at 100 TB each executor caches only its partitions).
        // The candidate pass below is the first consumer and fills the cache.
        val sets = Dedup.shingleSets(docs, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // maxBucket=32 — the LSH df-cap IS the production path at scale
        // (VERDICT r12 ask #1, r13 sf1 probe): a dup-heavy corpus makes
        // candidate volume quadratic in the hot-bucket size (measured on the
        // 10x clone-scaled probe: max bucket 15->150, pairs 13.5k->1.54M).
        // Buckets over the cap are dropped whole — exact-dup mega-groups are
        // the cheaper hash-collapse dedup's job (dedup_exact), LSH targets
        // near-dups where buckets stay small. 32 > the measured max honest
        // bucket (15 at sf0.1), so sub-cap corpora are bit-identical to
        // uncapped; the oracle mirrors the cap so the hash check stays exact
        // at every scale.
        val cand = Dedup.lshCandidates(sets, "doc_id", numHashes = 8,
            bandSize = 2, maxBucket = Some(32))
          // materialize the (tiny, df-capped) pair set once: it feeds the
          // verification pair stream AND the id-set broadcast below — lazy,
          // the broadcast thread would race the main stages through the whole
          // banded pipeline (measured ~2× wall)
          .localCheckpoint(true)
        // Verification reads only CANDIDATE docs' sets (round 15, VERDICT r14
        // ask #3): prune the sets to the ~2|cand| ids with a broadcast
        // semi-join before pairJaccard's two by-key shuffles. Verification
        // shuffle volume becomes ∝ |candidates| (df-cap-bounded), not
        // ∝ |corpus| — the 100 TB requirement — and at small SF it removes the
        // near-empty-block overhead under the cluster-default 200 shuffle
        // partitions.
        val candIds = cand.select($"id1".as("doc_id"))
          .union(cand.select($"id2".as("doc_id"))).distinct()
        val setsPruned = sets.join(broadcast(candIds), Seq("doc_id"), "left_semi")
        // materialize the (tiny) final result eagerly, then release the cache —
        // Verify/Bench share one session across all queries, so leaving the
        // sets cached would squeeze execution memory for everything after
        val res = Dedup.pairJaccard(cand, setsPruned, "doc_id")
          .select($"id1", $"id2", round($"jaccard", 6).as("jacc"))
          .orderBy($"jacc".desc, $"id1", $"id2")
          .limit(50)
          .localCheckpoint(true)
        sets.unpersist()
        res
      },
      Some(s"""WITH $duckShingleBase,
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
              |keep AS (
              |  SELECT band, sig FROM banded
              |  GROUP BY band, sig HAVING COUNT(*) <= 32),
              |bandedk AS (
              |  SELECT b.doc_id, b.band, b.sig
              |  FROM banded b JOIN keep k
              |    ON k.band = b.band AND k.sig = b.sig),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
              |  FROM bandedk a JOIN bandedk b
              |    ON a.band = b.band AND a.sig = b.sig
              |  WHERE a.doc_id < b.doc_id),
              |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shing GROUP BY doc_id),
              |inter AS (
              |  SELECT c.id1, c.id2, COUNT(*) AS n_shared
              |  FROM cand c
              |  JOIN shing s1 ON s1.doc_id = c.id1
              |  JOIN shing s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
              |  GROUP BY c.id1, c.id2)
              |SELECT c.id1, c.id2,
              |  round(COALESCE(i.n_shared, 0) * 1.0 /
              |        (z1.sz + z2.sz - COALESCE(i.n_shared, 0)), 6) AS jacc
              |FROM cand c
              |LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
              |JOIN sz z1 ON z1.doc_id = c.id1
              |JOIN sz z2 ON z2.doc_id = c.id2
              |ORDER BY jacc DESC, c.id1, c.id2 LIMIT 50""".stripMargin)),

    // Asymmetric CONTAINMENT dedup: |A∩B| / min(|A|,|B|) — catches a short document
    // embedded inside a longer one, which symmetric Jaccard dilutes toward zero
    // (quote-inclusion, page-plus-boilerplate, excerpt dups). Same shingle-join
    // machinery as the Jaccard leg; only the denominator changes.
    Q("dedup_shingle_containment",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val sub = docs.filter($"doc_id" < 150)
        val pairs = sub.select($"doc_id".as("id1"), $"lang".as("lang1"))
          .join(sub.select($"doc_id".as("id2"), $"lang".as("lang2")),
            col("id1") < col("id2") && col("lang1") === col("lang2"))
          .select("id1", "id2")
        Dedup.pairJaccard(pairs, Dedup.shingleSets(sub, "doc_id", "text"), "doc_id")
          .select($"id1", $"id2",
            round($"n_shared".cast("double") / least($"sz1", $"sz2"), 6)
              .as("containment"))
          .filter($"containment" > 0)
          .orderBy($"containment".desc, $"id1", $"id2")
          .limit(100)
      },
      Some(s"""WITH $duckShingleBase,
              |sub AS (SELECT doc_id, lang FROM documents WHERE doc_id < 150),
              |pairs AS (
              |  SELECT a.doc_id AS id1, b.doc_id AS id2
              |  FROM sub a JOIN sub b ON a.doc_id < b.doc_id AND a.lang = b.lang),
              |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shing GROUP BY doc_id),
              |inter AS (
              |  SELECT p.id1, p.id2, COUNT(*) AS n_shared
              |  FROM pairs p
              |  JOIN shing s1 ON s1.doc_id = p.id1
              |  JOIN shing s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
              |  GROUP BY p.id1, p.id2),
              |c AS (
              |  SELECT p.id1, p.id2,
              |    round(CAST(COALESCE(i.n_shared, 0) AS DOUBLE) /
              |          LEAST(z1.sz, z2.sz), 6) AS containment
              |  FROM pairs p
              |  LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
              |  JOIN sz z1 ON z1.doc_id = p.id1
              |  JOIN sz z2 ON z2.doc_id = p.id2)
              |SELECT id1, id2, containment FROM c WHERE containment > 0
              |ORDER BY containment DESC, id1, id2 LIMIT 100""".stripMargin)),

    // Exact n-gram Jaccard on a bounded same-language pair set (the non-LSH baseline).
    Q("dedup_ngram_jaccard",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
        val sub = docs.filter($"doc_id" < 150)
        val pairs = sub.select($"doc_id".as("id1"), $"lang".as("lang1"))
          .join(sub.select($"doc_id".as("id2"), $"lang".as("lang2")),
            col("id1") < col("id2") && col("lang1") === col("lang2"))
          .select("id1", "id2")
        Dedup.pairJaccard(pairs, Dedup.shingleSets(sub, "doc_id", "text"), "doc_id")
          .select($"id1", $"id2", round($"jaccard", 6).as("jacc"))
          .filter($"jacc" > 0)
          .orderBy($"jacc".desc, $"id1", $"id2")
          .limit(100)
      },
      Some(s"""WITH $duckShingleBase,
              |sub AS (SELECT doc_id, lang FROM documents WHERE doc_id < 150),
              |pairs AS (
              |  SELECT a.doc_id AS id1, b.doc_id AS id2
              |  FROM sub a JOIN sub b ON a.doc_id < b.doc_id AND a.lang = b.lang),
              |sz AS (SELECT doc_id, COUNT(*) AS sz FROM shing GROUP BY doc_id),
              |inter AS (
              |  SELECT p.id1, p.id2, COUNT(*) AS n_shared
              |  FROM pairs p
              |  JOIN shing s1 ON s1.doc_id = p.id1
              |  JOIN shing s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
              |  GROUP BY p.id1, p.id2)
              |SELECT p.id1, p.id2,
              |  round(COALESCE(i.n_shared, 0) * 1.0 /
              |        (z1.sz + z2.sz - COALESCE(i.n_shared, 0)), 6) AS jacc
              |FROM pairs p
              |LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
              |JOIN sz z1 ON z1.doc_id = p.id1
              |JOIN sz z2 ON z2.doc_id = p.id2
              |WHERE round(COALESCE(i.n_shared, 0) * 1.0 /
              |        (z1.sz + z2.sz - COALESCE(i.n_shared, 0)), 6) > 0
              |ORDER BY jacc DESC, p.id1, p.id2 LIMIT 100""".stripMargin)),

    // Pairs → clusters → canonical keep: the step real dedup pipelines run AFTER
    // candidate generation. Edges = doc pairs (doc_id < 300) sharing ≥ 5 distinct
    // 3-gram shingles, with a document-frequency cap (shingle in ≤ 50 docs) so a
    // stop-phrase shingle can't fan the candidate join out — the same cap production
    // MinHash pipelines apply. Clusters come from ConnectedComponents (min-label +
    // pointer jumping, all equi-joins); singletons keep their own id. Oracle: DuckDB
    // WITH RECURSIVE reachability → min reachable id.
    Q("dedup_cluster_cc",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, dir, "documents").filter($"doc_id" < 300)
        val sh = Dedup.shingleFrame(docs, "doc_id", "text")
        val freq = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
          .filter($"df".between(2, 50)).select("shingle")
        val shc = sh.join(freq, "shingle")
        val edges = shc.select($"shingle", $"doc_id".as("src"))
          .join(shc.select($"shingle", $"doc_id".as("dst")), "shingle")
          .filter($"src" < $"dst")
          .groupBy($"src", $"dst").agg(count(lit(1)).as("shared"))
          .filter($"shared" >= 5).select("src", "dst")
        val cc = graft.ops.ConnectedComponents.run(edges)
        val full = docs.select($"doc_id")
          .join(cc, docs("doc_id") === cc("v"), "left")
          .select($"doc_id", coalesce($"component", $"doc_id").as("component"))
        full
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy($"component")))
          .withColumn("keep", $"doc_id" === $"component")
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE
              |toks AS (SELECT doc_id, ${duckToks("text")} AS tk
              |         FROM documents WHERE doc_id < 300),
              |shing AS (SELECT doc_id, unnest($duckShingles3) AS shingle FROM toks),
              |freq AS (SELECT shingle FROM shing GROUP BY shingle
              |         HAVING COUNT(*) BETWEEN 2 AND 50),
              |shc AS (SELECT s.doc_id, s.shingle FROM shing s JOIN freq f USING (shingle)),
              |edges0 AS (
              |  SELECT x.doc_id AS a, y.doc_id AS b
              |  FROM shc x JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              |  GROUP BY 1, 2 HAVING COUNT(*) >= 5),
              |edges AS (SELECT a, b FROM edges0 UNION SELECT b, a FROM edges0),
              |reach(v, lab) AS (
              |  SELECT a, a FROM edges
              |  UNION
              |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.v),
              |comp AS (SELECT v, MIN(lab) AS component FROM reach GROUP BY v)
              |SELECT d.doc_id,
              |  COALESCE(c.component, d.doc_id) AS component,
              |  COUNT(*) OVER (PARTITION BY COALESCE(c.component, d.doc_id)) AS cluster_size,
              |  d.doc_id = COALESCE(c.component, d.doc_id) AS keep
              |FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
              |LEFT JOIN comp c ON c.v = d.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    Q("dedup_simhash",
      (s, dir) => {
        import s.implicits._
        Dedup.simhash16(t(s, dir, "documents").filter($"doc_id" < 200), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some(s"$duckSimhashUnder200\nSELECT doc_id, simhash16 FROM sh ORDER BY doc_id")),

    // SimHash in use: near-dup pairs by Hamming distance over the 16-bit signatures.
    // Candidates come from pigeonhole banding, NOT an all-pairs scan: split the
    // signature into 4 disjoint 4-bit bands; hamming(h1,h2) <= 3 means at most 3
    // bands can differ, so at least one band is EQUAL — every qualifying pair is
    // found by an equi-join on (band index, band value), and the exact bit_count
    // check runs only on those candidates. The DuckDB oracle stays the all-pairs
    // formulation, independently proving the banding loses no pairs. At real scale
    // the signature is 64-bit with 16-bit bands (65536 bucket values per band);
    // the plan shape — explode ×4, shuffle on (band, value), equi-join — is the same.
    Q("dedup_simhash_hamming",
      (s, dir) => {
        import s.implicits._
        val sh = Dedup.simhash16(
          t(s, dir, "documents").filter($"doc_id" < 200), "doc_id", "text")
        val banded = sh.select($"doc_id", $"simhash16",
          posexplode(array((0 until 4).map(i =>
            shiftright($"simhash16", i * 4).bitwiseAND(lit(15))): _*))
            .as(Seq("band", "nib")))
        val a = banded.select($"band".as("band1"), $"nib".as("nib1"),
          $"doc_id".as("id1"), $"simhash16".as("h1"))
        val b = banded.select($"band".as("band2"), $"nib".as("nib2"),
          $"doc_id".as("id2"), $"simhash16".as("h2"))
        a.join(b, $"band1" === $"band2" && $"nib1" === $"nib2" && $"id1" < $"id2")
          .select($"id1", $"id2",
            bit_count($"h1".bitwiseXOR($"h2")).as("hamming"))
          .filter($"hamming" <= 3)
          .distinct()
          .orderBy($"hamming", $"id1", $"id2")
      },
      Some(s"""$duckSimhashUnder200
              |SELECT a.doc_id AS id1, b.doc_id AS id2,
              |  bit_count(xor(a.simhash16, b.simhash16)) AS hamming
              |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
              |ORDER BY hamming, id1, id2""".stripMargin)),

    // Embedding-cosine near-dup: top pairs by exact cosine within a bounded id range.
    Q("dedup_embedding_cosine",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings").filter($"vec_id" < 100)
        val a = e.select($"vec_id".as("id1"), $"embedding".as("e1"),
          Similarity.normExact($"embedding").as("n1"))
        val b = e.select($"vec_id".as("id2"), $"embedding".as("e2"),
          Similarity.normExact($"embedding").as("n2"))
        a.join(b, col("id1") < col("id2"))
          .select($"id1", $"id2",
            round(Similarity.dotExact($"e1", $"e2") / ($"n1" * $"n2"), 9).as("cosine"))
          .orderBy($"cosine".desc, $"id1", $"id2")
          .limit(20)
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100),
             |flat AS (
             |  SELECT vec_id, unnest(embedding) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM e),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
             |      AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY vec_id),
             |dots AS (
             |  SELECT a.vec_id AS id1, b.vec_id AS id2,
             |    CAST(SUM(CAST(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)
             |      AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat a JOIN flat b ON a.pos = b.pos AND a.vec_id < b.vec_id
             |  GROUP BY a.vec_id, b.vec_id)
             |SELECT d.id1, d.id2, round(d.dot / (n1.nrm * n2.nrm), 9) AS cosine
             |FROM dots d
             |JOIN norms n1 ON n1.vec_id = d.id1
             |JOIN norms n2 ON n2.vec_id = d.id2
             |ORDER BY cosine DESC, d.id1, d.id2 LIMIT 20""".stripMargin)),

    // Brute-force exact cosine top-k: the ANN correctness baseline.
    Q("sim_cosine_topk",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(e.filter($"vec_id" < 20), e, k = 5)
          .select($"qid", $"rank", $"vid", round($"cosine", 9).as("cosine"))
          .orderBy($"qid", $"rank")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, unnest(embedding) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
             |      AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY vec_id),
             |dots AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    CAST(SUM(CAST(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)
             |      AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 20
             |  GROUP BY q.vec_id, c.vec_id),
             |scored AS (
             |  SELECT d.qid, d.vid, d.dot / (nq.nrm * nc.nrm) AS cosine,
             |    ROW_NUMBER() OVER (PARTITION BY d.qid
             |      ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |  FROM dots d
             |  JOIN norms nq ON nq.vec_id = d.qid
             |  JOIN norms nc ON nc.vec_id = d.vid)
             |SELECT qid, rank, vid, round(cosine, 9) AS cosine
             |FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)),

    // k-NN classification eval (the "does my embedding space separate labels"
    // check run before training on it): each query vector votes its 5 nearest
    // neighbors' labels (majority, ties to the lowest label), scored against its
    // own label per class. Neighbor search is the exact brute-force baseline —
    // the ANN variants (LSH/IVF) are the scale path for the same composition.
    Q("sim_knn_classify",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val nb = Similarity.bruteForceTopK(e.filter($"vec_id" < 50), e, k = 5)
        val lbl = e.select($"vec_id".as("lv"), $"label".as("nlabel"))
        val pred = nb.join(lbl, $"vid" === $"lv")
          .groupBy($"qid", $"nlabel").agg(count(lit(1)).as("n"))
          .groupBy($"qid")
          .agg(max_by($"nlabel", struct($"n", -$"nlabel")).as("predicted"))
        e.filter($"vec_id" < 50)
          .select($"vec_id".as("qid"), $"label".as("true_label"))
          .join(pred, "qid")
          .groupBy($"true_label")
          .agg(count(lit(1)).as("n_queries"),
            sum(when($"predicted" === $"true_label", 1L).otherwise(0L))
              .as("n_correct"))
          .withColumn("accuracy",
            $"n_correct".cast("double") / $"n_queries")
          .orderBy($"true_label")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, unnest(embedding) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |norms AS (
             |  SELECT vec_id,
             |    sqrt(CAST(SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)
             |      AS DECIMAL(30,12))) AS DOUBLE)) AS nrm
             |  FROM flat GROUP BY vec_id),
             |dots AS (
             |  SELECT q.vec_id AS qid, c.vec_id AS vid,
             |    CAST(SUM(CAST(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)
             |      AS DECIMAL(30,12))) AS DOUBLE) AS dot
             |  FROM flat q JOIN flat c ON q.pos = c.pos AND q.vec_id <> c.vec_id
             |  WHERE q.vec_id < 50
             |  GROUP BY q.vec_id, c.vec_id),
             |nb AS (
             |  SELECT qid, vid FROM (
             |    SELECT d.qid, d.vid,
             |      ROW_NUMBER() OVER (PARTITION BY d.qid
             |        ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.vid) AS rank
             |    FROM dots d
             |    JOIN norms nq ON nq.vec_id = d.qid
             |    JOIN norms nc ON nc.vec_id = d.vid)
             |  WHERE rank <= 5),
             |votes AS (
             |  SELECT nb.qid, e.label AS nlabel, COUNT(*) AS n
             |  FROM nb JOIN embeddings e ON e.vec_id = nb.vid GROUP BY 1, 2),
             |pred AS (
             |  SELECT qid, nlabel AS predicted FROM (
             |    SELECT qid, nlabel,
             |      ROW_NUMBER() OVER (PARTITION BY qid
             |        ORDER BY n DESC, nlabel ASC) AS rn
             |    FROM votes) WHERE rn = 1)
             |SELECT t.label AS true_label, COUNT(*) AS n_queries,
             |  CAST(SUM(CASE WHEN p.predicted = t.label THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  CAST(SUM(CASE WHEN p.predicted = t.label THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*) AS accuracy
             |FROM embeddings t JOIN pred p ON p.qid = t.vec_id
             |WHERE t.vec_id < 50
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // K-means (2 Lloyd iterations, k=4, deterministic init = the first k vectors):
    // iterative ML as declarative dataflow. Array-native spelling (round 15):
    // each iteration collects the k centroids into ONE bounded broadcast row;
    // assignment is a per-vector higher-order-function argmin over that row
    // (lexicographic min(struct(d2, cid)) — total order, ties to the lowest id)
    // whose decimal-exact squared distances (VecL2Exact) are bit-identical to
    // the flattened grouped sums the old shape shuffled for, so assignment
    // never leaves the row; only the centroid UPDATE shuffles, and it is a
    // map-side-combined groupBy over k·dims keys. The old shape posexploded to
    // (vec_id, pos, v), checkpointed it, and per iteration ran two grouped
    // argmin shuffles plus a shuffle-hash join of the whole flat frame — 42
    // Exchanges; the update groupBy is the only corpus-wide exchange left.
    Q("sim_kmeans_lloyd",
      (s, dir) => {
        import s.implicits._
        import graft.functions.VectorFunctions.vec_l2_exact
        // Round 16: a §2.5 repartition of `vecs` (to pull the two Lloyd-step
        // argmin passes out of the single-row-group scan stage) was tried and
        // REVERTED — 5 census samples all read ≥ 2.24 s vs 1.95-2.28 s before
        // (the ivfTopK revert class: 2000 rows, per-task constants beat the
        // parallelized decimal work), and the added exchange is a real
        // full-corpus shuffle at 100 TB where the scan is already parallel.
        val vecs = t(s, dir, "embeddings").select($"vec_id",
          transform($"embedding", x => x.cast("double")).as("emb"))
        val init = vecs.filter($"vec_id" < 4)
          .select($"vec_id".cast("int").as("cid"), posexplode($"emb").as(Seq("pos", "cval")))
        // one Lloyd step: assignment (HOF argmin over the collected centroid
        // row) + update (grouped decimal-exact mean per (cid, pos)). The
        // update also carries the cluster size, so the final n_vecs readout
        // never re-consumes the assignment (a second full corpus pass —
        // assignment is map-only, so there is no exchange for ReuseExchange
        // to share between two consumers).
        def step(cents: org.apache.spark.sql.DataFrame) = {
          val cb = cents.groupBy($"cid")
            .agg(array_sort(collect_list(struct($"pos", $"cval"))).as("pc"))
            .select($"cid", transform($"pc", p => p("cval")).as("cemb"))
            .agg(collect_list(struct($"cid", $"cemb")).as("cbs"))
          vecs.crossJoin(broadcast(cb))
            .select($"vec_id", $"emb",
              array_min(transform($"cbs", c =>
                struct(vec_l2_exact($"emb", c("cemb")).as("d2"),
                  c("cid").as("cid")))).getField("cid").as("cid"))
            .select($"cid", posexplode($"emb").as(Seq("pos", "v")))
            .groupBy($"cid", $"pos")
            .agg((sum($"v".cast("decimal(30,12)")).cast("double") /
              count(lit(1))).as("cval"), count(lit(1)).as("n"))
        }
        val c1 = step(init)
        // k·dims rows; materialized once (the dedup-family idiom) because the
        // sizes/sums readouts prune DIFFERENT columns — the duplicated
        // subtrees are not canonically equal, so ReuseExchange cannot share
        // them and the whole 2-iteration corpus chain would run twice.
        val cents = step(c1.select($"cid", $"pos", $"cval")).localCheckpoint()
        // every member vector contributes exactly one pos-0 row, so the
        // pos-0 group count IS the cluster size
        val sizes = cents.filter($"pos" === 0)
          .select($"cid", $"n".as("n_vecs"))
        val sums = cents.groupBy($"cid")
          .agg(round(sum($"cval".cast("decimal(30,12)")).cast("double"), 9)
            .as("centroid_checksum"))
        sizes.join(sums, "cid").orderBy($"cid")
      },
      Some {
        val iter = (i: Int) =>
          s"""d$i AS (
             |  SELECT f.vec_id, c.cid,
             |    CAST(SUM(CAST((f.v - c.cval) * (f.v - c.cval) AS DECIMAL(30,12)))
             |      AS DOUBLE) AS d2
             |  FROM flat f JOIN c${i - 1} c ON f.pos = c.pos GROUP BY 1, 2),
             |a$i AS (
             |  SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
             |    FROM d$i) WHERE rn = 1),
             |c$i AS (
             |  SELECT a.cid, f.pos,
             |    CAST(SUM(CAST(f.v AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS cval
             |  FROM flat f JOIN a$i a USING (vec_id) GROUP BY 1, 2)""".stripMargin
        s"""WITH flat AS (
           |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
           |    generate_subscripts(embedding, 1) AS pos
           |  FROM embeddings),
           |c0 AS (SELECT CAST(vec_id AS INT) AS cid, pos, v AS cval
           |       FROM flat WHERE vec_id < 4),
           |${(1 to 2).map(iter).mkString(",\n")}
           |SELECT s.cid, s.n_vecs, c.centroid_checksum FROM
           |  (SELECT cid, COUNT(*) AS n_vecs FROM a2 GROUP BY cid) s
           |JOIN
           |  (SELECT cid, round(CAST(SUM(CAST(cval AS DECIMAL(30,12))) AS DOUBLE), 9)
           |     AS centroid_checksum
           |   FROM c2 GROUP BY cid) c
           |USING (cid) ORDER BY cid""".stripMargin
      }),

    // Vector aggregation: exact per-label centroids, then each vector's distance to
    // its label centroid.
    Q("sim_centroid_distance",
      (s, dir) => {
        import s.implicits._
        val e = t(s, dir, "embeddings")
        val cents = Similarity.labelCentroids(e)
        val flat = e.filter($"vec_id" < 100)
          .select($"vec_id", $"label", posexplode($"embedding").as(Seq("pos", "v")))
        // centroid frame is |labels|·dim rows — domain-bounded, broadcastable
        // at any corpus size; the explicit hint pins the plan (no SMJ flips)
        flat.join(broadcast(cents), Seq("label", "pos"))
          .groupBy($"vec_id", $"label")
          .agg(sqrt(dsum(($"v".cast("double") - $"centroid_val") *
            ($"v".cast("double") - $"centroid_val"), 12)).as("dist"))
          .select($"vec_id", $"label", round($"dist", 9).as("dist"))
          .orderBy($"vec_id")
      },
      Some("""WITH flat AS (
             |  SELECT vec_id, label, unnest(embedding) AS v,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings),
             |cents AS (
             |  SELECT label, pos,
             |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(30,12))) AS DOUBLE)
             |      / COUNT(*) AS centroid_val
             |  FROM flat GROUP BY label, pos)
             |SELECT f.vec_id, f.label,
             |  round(sqrt(CAST(SUM(CAST((CAST(f.v AS DOUBLE) - c.centroid_val) *
             |    (CAST(f.v AS DOUBLE) - c.centroid_val) AS DECIMAL(30,12)))
             |    AS DOUBLE)), 9) AS dist
             |FROM flat f JOIN cents c ON c.label = f.label AND c.pos = f.pos
             |WHERE f.vec_id < 100
             |GROUP BY f.vec_id, f.label ORDER BY f.vec_id""".stripMargin)),

    // Language-ID confusion matrix over an eval frame with INJECTED
    // deterministic language markers (the synthetic corpus is punctuation-free
    // English-ish word soup, so raw text predicts 'en' for every label — a
    // one-column confusion "matrix" that proves nothing). doc_id%3==0 docs get
    // their label's marker phrase (diagonal), %3==2 docs get a rotated WRONG
    // label's marker (structured off-diagonal errors), %3==1 stay raw (the
    // soup → 'en' fallback). Marker words are each list's unambiguous
    // stopwords, so the argmax is tie-free.
    Q("text_langid_confusion",
      (s, dir) => {
        import s.implicits._
        def marker(l: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          when(l === "fr", lit(" le les et une est"))
            .when(l === "es", lit(" el los y una es"))
            .when(l === "de", lit(" der die und ist von"))
            .when(l === "zh", lit(" 一二三"))
            .otherwise(lit(" the of and is that"))
        val rot = when($"lang" === "fr", lit("es"))
          .when($"lang" === "es", lit("de"))
          .when($"lang" === "de", lit("fr"))
          .when($"lang" === "zh", lit("en")).otherwise(lit("zh"))
        t(s, dir, "documents")
          .withColumn("eval_text", concat($"text",
            when($"doc_id" % 3 === 0, marker($"lang"))
              .when($"doc_id" % 3 === 2, marker(rot))
              .otherwise(lit(""))))
          .withColumn("toks", TF.tokens($"eval_text"))
          .select($"lang", TF.langIdFrom($"eval_text", $"toks").as("predicted"))
          .groupBy($"lang", $"predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"predicted")
      },
      Some {
        def hits(words: Seq[String]) =
          s"len(list_filter(tk, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
        val en = hits(TF.stopwordsEn); val fr = hits(TF.stopwordsFr)
        val es = hits(TF.stopwordsEs); val de = hits(TF.stopwordsDe)
        s"""WITH mk AS (
           |  SELECT ['fr', ' le les et une est',
           |          'es', ' el los y una es',
           |          'de', ' der die und ist von',
           |          'zh', ' 一二三',
           |          'en', ' the of and is that'] AS m),
           |aug AS (
           |  SELECT lang, text ||
           |    CASE WHEN doc_id % 3 = 0 THEN
           |           m[list_position(m, lang) + 1]
           |         WHEN doc_id % 3 = 2 THEN
           |           m[list_position(m, CASE lang WHEN 'fr' THEN 'es'
           |             WHEN 'es' THEN 'de' WHEN 'de' THEN 'fr'
           |             WHEN 'zh' THEN 'en' ELSE 'zh' END) + 1]
           |         ELSE '' END AS text
           |  FROM documents, mk),
           |toks AS (SELECT lang, text, ${duckToks("text")} AS tk FROM aug),
           |pred AS (
           |  SELECT lang,
           |    CASE WHEN len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
           |         WHEN $en >= $fr AND $en >= $es AND $en >= $de THEN 'en'
           |         WHEN $de >= $fr AND $de >= $es THEN 'de'
           |         WHEN $es >= $fr THEN 'es'
           |         ELSE 'fr' END AS predicted
           |  FROM toks)
           |SELECT lang, predicted, COUNT(*) AS n
           |FROM pred GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
      }),

    Q("text_quality_features",
      (s, dir) => {
        import s.implicits._
        val toks = TF.tokens($"text")
        t(s, dir, "documents").filter($"doc_id" < 200)
          .select($"doc_id", $"n_chars",
            length($"text").as("text_len"),
            TF.tokenCount($"text").as("n_tokens"),
            TF.bpeishTokenCount($"text").as("n_bpeish"),
            round(TF.whitespaceRatio($"text"), 9).as("ws_ratio"),
            round(TF.digitRatio($"text"), 9).as("digit_ratio"),
            round(TF.punctRatio($"text"), 9).as("punct_ratio"),
            round(TF.stopwordRatio($"text"), 9).as("stopword_ratio"),
            round(aggregate(toks, lit(0), (a, x) => a + length(x)).cast("double") /
              greatest(size(toks), lit(1)), 9).as("avg_tok_len"))
          .orderBy($"doc_id")
      },
      Some {
        val en = TF.stopwordsEn.map(w => s"'$w'").mkString(",")
        s"""WITH toks AS (
           |  SELECT doc_id, n_chars, text, ${duckToks("text")} AS tk
           |  FROM documents WHERE doc_id < 200)
           |SELECT doc_id, n_chars, length(text) AS text_len,
           |  len(tk) AS n_tokens,
           |  len(regexp_extract_all(text, '\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]')) AS n_bpeish,
           |  round(len(regexp_extract_all(text, '\\s')) * 1.0
           |    / greatest(length(text), 1), 9) AS ws_ratio,
           |  round(len(regexp_extract_all(text, '\\p{N}')) * 1.0
           |    / greatest(length(text), 1), 9) AS digit_ratio,
           |  round(len(regexp_extract_all(text, '[^\\p{L}\\p{N}\\s]')) * 1.0
           |    / greatest(length(text), 1), 9) AS punct_ratio,
           |  round(len(list_filter(tk, t -> t IN ($en))) * 1.0
           |    / greatest(len(tk), 1), 9) AS stopword_ratio,
           |  round(list_sum(list_transform(tk, t -> length(t))) * 1.0
           |    / greatest(len(tk), 1), 9) AS avg_tok_len
           |FROM toks ORDER BY doc_id""".stripMargin
      }),

    // Composed quality filter — the actual training-data keep/drop decision built
    // from the feature functions: per (lang, kept) counts over the whole table.
    Q("text_quality_filter",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents")
          .select($"lang",
            TF.tokenCount($"text").as("n_tokens"),
            TF.whitespaceRatio($"text").as("ws_ratio"),
            TF.digitRatio($"text").as("digit_ratio"))
        d.select($"lang",
            ($"n_tokens".between(20, 2000) &&
             $"ws_ratio" < 0.35 && $"digit_ratio" < 0.2).as("kept"))
          .groupBy($"lang", $"kept")
          .agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"kept")
      },
      Some(s"""WITH f AS (
              |  SELECT lang,
              |    len(${duckToks("text")}) AS n_tokens,
              |    len(regexp_extract_all(text, '\\s')) * 1.0
              |      / greatest(length(text), 1) AS ws_ratio,
              |    len(regexp_extract_all(text, '\\p{N}')) * 1.0
              |      / greatest(length(text), 1) AS digit_ratio
              |  FROM documents)
              |SELECT lang,
              |  (n_tokens BETWEEN 20 AND 2000 AND ws_ratio < 0.35
              |   AND digit_ratio < 0.2) AS kept,
              |  COUNT(*) AS n
              |FROM f GROUP BY lang, kept ORDER BY lang, kept""".stripMargin)),

    // tf-idf: top-scoring term per document over the bounded English subset.
    Q("text_tfidf_top",
      (s, dir) => {
        import s.implicits._
        val sub = t(s, dir, "documents").filter($"lang" === "en" && $"doc_id" < 150)
        val terms = sub.select($"doc_id", explode(TF.tokens($"text")).as("term"))
        val tf = terms.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        val df = terms.select($"doc_id", $"term").distinct()
          .groupBy($"term").agg(count(lit(1)).as("df"))
        val n = sub.select(countDistinct($"doc_id").as("n_docs"))
        val scored = tf.join(df, Seq("term")).crossJoin(n)
          .withColumn("tfidf", $"tf" * log($"n_docs".cast("double") / $"df"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"tfidf".desc, $"term")
        scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"doc_id", $"term".as("top_term"), round($"tfidf", 9).as("score"))
          .orderBy($"doc_id")
      },
      Some("""WITH sub AS (SELECT doc_id, text FROM documents
             |            WHERE lang = 'en' AND doc_id < 150),
             |terms AS (
             |  SELECT doc_id,
             |    unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}]+'),
             |           x -> x <> '')) AS term
             |  FROM sub),
             |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
             |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY term),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM sub),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf * ln(n.n_docs * 1.0 / df.df) AS tfidf
             |  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n)
             |SELECT doc_id, term AS top_term, round(tfidf, 9) AS score FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             |    ORDER BY tfidf DESC, term) AS rn FROM scored)
             |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    Q("text_fingerprint_buckets",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").filter($"doc_id" < 200)
          .select($"doc_id",
            TF.fingerprint($"text").as("fingerprint"),
            substring(TF.fingerprint($"text"), 1, 2).as("bucket"))
          .orderBy($"doc_id")
      },
      Some(s"""SELECT doc_id,
              |  md5(array_to_string(${duckToks("text")}, ' ')) AS fingerprint,
              |  substring(md5(array_to_string(${duckToks("text")}, ' ')), 1, 2) AS bucket
              |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin)),

    // Winnowing rolling-hash fingerprint (char 8-grams, window 4): shared substrings
    // of length >= 11 guarantee shared prints. Each stage is staged as a real column
    // (HOF lambdas re-evaluate free subexpressions, so inlining would be quadratic).
    Q("text_winnow_fingerprint",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents").filter($"doc_id" < 150)
          .select($"doc_id", TF.normalizedText($"text").as("nt"))
          .select($"doc_id", TF.charGramHashes($"nt", 8).as("grams"))
          .select($"doc_id", TF.winnowPrints($"grams", 4).as("prints"))
          .select($"doc_id",
            size($"prints").as("n_prints"),
            md5(concat_ws("", array_sort($"prints"))).as("winnow_sig"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH norm AS (
              |  SELECT doc_id, array_to_string(${duckToks("text")}, ' ') AS nt
              |  FROM documents WHERE doc_id < 150),
              |g AS (
              |  SELECT doc_id,
              |    CASE WHEN length(nt) >= 8
              |      THEN list_transform(range(1, length(nt) - 6),
              |             i -> md5(substring(nt, CAST(i AS INT), 8)))
              |      ELSE [] END AS grams
              |  FROM norm),
              |w AS (
              |  SELECT doc_id,
              |    CASE WHEN len(grams) = 0 THEN []
              |         WHEN len(grams) < 4 THEN [list_min(grams)]
              |         ELSE list_distinct(list_transform(range(1, len(grams) - 2),
              |                j -> list_min(grams[j:j+3])))
              |    END AS prints
              |  FROM g)
              |SELECT doc_id, len(prints) AS n_prints,
              |  md5(array_to_string(list_sort(prints), '')) AS winnow_sig
              |FROM w ORDER BY doc_id""".stripMargin)),

    // Test-set decontamination: flag training docs sharing any word 3-gram with a
    // "benchmark" probe set (docs 0-9). The probe side is tiny by construction
    // (benchmarks are KB-MB even when the corpus is 100 TB), so it is explicitly
    // broadcast — the corpus-side shingle stream never shuffles; each task filters
    // its own partitions map-side and only the per-doc hit counts aggregate.
    Q("text_decontaminate",
      (s, dir) => {
        import s.implicits._
        // shingleFrame stages the token array before the n-gram HOF — n-grams of
        // an inline tokens($"text") would re-run the tokenizer regex once per
        // element_at inside the transform lambda (HOFs block subexpression
        // elimination): measured 10s → 1s at sf0.1 for this query.
        val sh = Dedup.shingleFrame(t(s, dir, "documents"), "doc_id", "text")
        val probe = sh.filter($"doc_id" < 10).select($"shingle").distinct()
        sh.filter($"doc_id" >= 10)
          .join(broadcast(probe), Seq("shingle"))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_hits"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $duckShingleBase,
              |probe AS (SELECT DISTINCT shingle FROM shing WHERE doc_id < 10)
              |SELECT doc_id, COUNT(*) AS n_hits
              |FROM shing JOIN probe USING (shingle)
              |WHERE doc_id >= 10
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Fractional contamination score (the graded companion of the binary
    // decontaminate gate): share of each document's distinct shingles that
    // appear in the held-out probe set — partial-overlap documents get a
    // 0 < score < 1 instead of a drop/keep bit, which is what an eval-
    // contamination report needs. Same broadcast-probe shape; one extra
    // per-doc total.
    Q("text_contamination_score",
      (s, dir) => {
        import s.implicits._
        val sh = Dedup.shingleFrame(t(s, dir, "documents"), "doc_id", "text")
        val probe = sh.filter($"doc_id" < 10).select($"shingle").distinct()
        val corpus = sh.filter($"doc_id" >= 10)
        val tot = corpus.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
        val hits = corpus.join(broadcast(probe), Seq("shingle"))
          .groupBy($"doc_id").agg(count(lit(1)).as("h"))
        tot.join(hits, Seq("doc_id"), "left")
          .select($"doc_id", $"n_shingles",
            coalesce($"h", lit(0L)).as("n_hits"),
            round(coalesce($"h", lit(0L)) * lit(1.0) / $"n_shingles", 9)
              .as("contamination"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH $duckShingleBase,
              |probe AS (SELECT DISTINCT shingle FROM shing WHERE doc_id < 10),
              |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shing
              |        WHERE doc_id >= 10 GROUP BY doc_id),
              |hits AS (
              |  SELECT doc_id, COUNT(*) AS h
              |  FROM shing JOIN probe USING (shingle)
              |  WHERE doc_id >= 10 GROUP BY doc_id)
              |SELECT tot.doc_id, n_shingles,
              |  COALESCE(h, 0) AS n_hits,
              |  round(COALESCE(h, 0) * 1.0 / n_shingles, 9) AS contamination
              |FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
              |ORDER BY tot.doc_id""".stripMargin)),

    // Temperature-scaled language mixture (the multinomial upsampling weights
    // of multilingual-corpus training): w_l ∝ p_l^α with α = 0.7, spelled
    // exp(α·ln p) identically on both engines; the weight normalizer sums
    // through DECIMAL (unordered double sums are partitioning-dependent).
    // Everything runs on the |languages| aggregate frame. Grouped by lang
    // (218/75/73/70/64 docs), NOT by the 20 uniform 25-doc sources — a
    // uniform mixture gives constant weights, i.e. the temperature exponent
    // could be dropped entirely and the result would not change.
    Q("sample_temperature_weights",
      (s, dir) => {
        import s.implicits._
        val counts = t(s, dir, "documents")
          .groupBy($"lang").agg(count(lit(1)).as("n"))
          .withColumn("ntot", sum($"n").over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
        val p = $"n" * lit(1.0) / $"ntot"
        val w = exp(lit(0.7) * log(p))
        val scaled = counts.select($"lang", $"n", w.as("w"))
          .withColumn("wsum",
            sum($"w".cast("decimal(30,12)")).over(
              org.apache.spark.sql.expressions.Window.partitionBy())
              .cast("double"))
        scaled.select($"lang", $"n",
            round($"w" / $"wsum", 9).as("mix_weight"))
          .orderBy($"lang")
      },
      Some("""WITH c AS (
             |  SELECT lang, count(*) AS n FROM documents GROUP BY lang),
             |c2 AS (SELECT lang, n, SUM(n) OVER () AS ntot FROM c),
             |s AS (
             |  SELECT lang, n, exp(0.7 * ln(n * 1.0 / ntot)) AS w FROM c2),
             |s2 AS (
             |  SELECT lang, n, w,
             |    CAST(SUM(CAST(w AS DECIMAL(30,12))) OVER () AS DOUBLE) AS wsum
             |  FROM s)
             |SELECT lang, n, round(w / wsum, 9) AS mix_weight
             |FROM s2 ORDER BY lang""".stripMargin)),

    // Log₂-binned document-length histogram WITHOUT transcendentals: the bin is
    // the binary-representation length (⌊log₂ n⌋ + 1) — exact integer both
    // engines, no floor(log(x)/log(2)) boundary hazard at powers of two.
    Q("text_length_log_bins",
      (s, dir) => {
        import s.implicits._
        t(s, dir, "documents")
          .select($"doc_id", $"n_chars", length(bin($"n_chars")).as("log_bin"))
          .groupBy($"log_bin")
          .agg(count(lit(1)).as("n_docs"),
            min($"n_chars").as("min_chars"), max($"n_chars").as("max_chars"))
          .orderBy($"log_bin")
      },
      Some("""SELECT CAST(length(bin(n_chars)) AS INTEGER) AS log_bin,
             |  count(*) AS n_docs,
             |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PII scrubbing: inject deterministic synthetic emails+phones per document
    // (the corpus is synthetic word-soup with no real PII) with a VARYING
    // per-doc count — 0-2 emails, 0-1 phones keyed off doc_id residues — so
    // the redaction counters genuinely exercise 0/1/many instead of reporting
    // a constant 1/1 for every row. Pure codegen'd projection — scales as a
    // map-only stage.
    Q("text_pii_scrub",
      (s, dir) => {
        import s.implicits._
        val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phone = "\\+1-[0-9]{3}-[0-9]{4}"
        t(s, dir, "documents").filter($"doc_id" < 200)
          .select($"doc_id",
            concat($"text",
              when($"doc_id" % 4 =!= 1,
                concat(lit(" contact user"), $"doc_id".cast("string"),
                  lit("@mail.example.com"))).otherwise(lit("")),
              when($"doc_id" % 4 === 0,
                concat(lit(" cc admin"), $"doc_id".cast("string"),
                  lit("@mail.example.com"))).otherwise(lit("")),
              when($"doc_id" % 2 === 0,
                concat(lit(" or +1-555-"),
                  lpad($"doc_id".cast("string"), 4, "0"))).otherwise(lit("")),
              lit(" now")).as("raw"))
          .withColumn("scrubbed",
            regexp_replace(regexp_replace($"raw", email, "<EMAIL>"),
              phone, "<PHONE>"))
          .select($"doc_id",
            regexp_count($"raw", lit(email)).as("n_emails"),
            regexp_count($"raw", lit(phone)).as("n_phones"),
            expr("right(scrubbed, 60)").as("tail60"))
          .orderBy($"doc_id")
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    text
             |      || CASE WHEN doc_id % 4 <> 1
             |           THEN ' contact user' || CAST(doc_id AS VARCHAR)
             |                || '@mail.example.com' ELSE '' END
             |      || CASE WHEN doc_id % 4 = 0
             |           THEN ' cc admin' || CAST(doc_id AS VARCHAR)
             |                || '@mail.example.com' ELSE '' END
             |      || CASE WHEN doc_id % 2 = 0
             |           THEN ' or +1-555-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')
             |           ELSE '' END
             |      || ' now' AS raw
             |  FROM documents WHERE doc_id < 200)
             |SELECT doc_id,
             |  len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
             |    AS n_emails,
             |  len(regexp_extract_all(raw, '\+1-[0-9]{3}-[0-9]{4}')) AS n_phones,
             |  right(regexp_replace(regexp_replace(raw,
             |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), 60) AS tail60
             |FROM raw ORDER BY doc_id""".stripMargin)),

    // PII pseudonymization (the counterpart of text_pii_scrub's redaction): replace
    // each customer name with a deterministic salted-hash token, then run analytics
    // on the tokenized key. The token is stable (same input → same token, so joins
    // and aggregations still line up across tables and pipeline runs) but
    // irreversible without the salt. Map-only tokenization + one key-partitioned
    // join/agg — at 100 TB the raw PII column never leaves the scan that hashes it.
    Q("text_pii_pseudonymize",
      (s, dir) => {
        import s.implicits._
        val token = concat(lit("user_"),
          substring(sha2(concat(lit("salt42:"), $"c_name"), 256), 1, 12))
        val cust = t(s, dir, "customer").select($"c_custkey", token.as("token"))
        t(s, dir, "orders")
          .join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"token")
          .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
          .orderBy($"token")
      },
      Some(s"""SELECT 'user_' || substring(sha256('salt42:' || c_name), 1, 12)
              |    AS token,
              |  COUNT(*) AS n_orders, ${sqlDsum("o_totalprice")} AS sum_price
              |FROM orders JOIN customer ON o_custkey = c_custkey
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // URL/domain curation (the RefinedWeb/C4 source-filtering stage): parse_url
    // extracts HOST/PATH/QUERY from each document's source URL (synthesized
    // deterministically, like text_pii_scrub's PII), a BROADCAST anti-join drops
    // blocklisted domains, and the rollup is per-host. parse_url is a native
    // codegen'd expression — no UDF; the blocklist side is bounded, so the
    // anti-join never shuffles the corpus.
    Q("text_url_domain_filter",
      (s, dir) => {
        import s.implicits._
        val host = element_at(array(
          lit("en.wikipedia.org"), lit("github.com"), lit("arxiv.org"),
          lit("spam.example.com"), lit("ads.example.net"),
          lit("blog.example.org"), lit("news.example.com")),
          ($"doc_id" % 7 + 1).cast("int"))
        val urls = t(s, dir, "documents")
          .select($"doc_id", $"source",
            concat(lit("https://"), host, lit("/p/"), $"doc_id",
              lit("?src="), $"source", lit("&v=1")).as("url"))
          .select($"doc_id",
            parse_url($"url", lit("HOST")).as("host"),
            parse_url($"url", lit("PATH")).as("path"),
            parse_url($"url", lit("QUERY"), lit("src")).as("qsrc"))
        val blocklist = Seq("spam.example.com", "ads.example.net").toDF("bad_host")
        urls.join(broadcast(blocklist), $"host" === $"bad_host", "left_anti")
          .groupBy($"host")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct($"qsrc").as("n_sources"),
            min($"path").as("first_path"))
          .orderBy($"host")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, source,
             |    'https://' || (['en.wikipedia.org', 'github.com', 'arxiv.org',
             |      'spam.example.com', 'ads.example.net', 'blog.example.org',
             |      'news.example.com'])[CAST(doc_id % 7 + 1 AS INTEGER)]
             |      || '/p/' || doc_id || '?src=' || source || '&v=1' AS url
             |  FROM documents),
             |p AS (
             |  SELECT doc_id,
             |    regexp_extract(url, 'https://([^/]+)/', 1) AS host,
             |    regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
             |    regexp_extract(url, '[?&]src=([^&]*)', 1) AS qsrc
             |  FROM u)
             |SELECT host, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT qsrc) AS n_sources, MIN(path) AS first_path
             |FROM p
             |WHERE host NOT IN ('spam.example.com', 'ads.example.net')
             |GROUP BY host ORDER BY host""".stripMargin)),

    // URL canonicalization dedup (web-crawl curation): the same page arrives under
    // utm-tagged / fragment / mixed-case variants; canonicalize (lowercase host,
    // strip tracking params and fragments, trim trailing slash) BEFORE the dedup
    // groupBy so variants collapse. Pure codegen'd string expressions — the
    // canonical form is computed in the scan stage; the only shuffle is the dedup
    // rollup itself.
    Q("dedup_url_canonicalize",
      (s, dir) => {
        import s.implicits._
        val host = element_at(array(
          lit("EN.Wikipedia.org"), lit("github.com"), lit("Arxiv.org")),
          ($"doc_id" % 3 + 1).cast("int"))
        val noise = when($"doc_id" % 4 === 0, lit("?utm_source=feed&utm_campaign=x"))
          .when($"doc_id" % 4 === 1, lit("?utm_medium=mail"))
          .when($"doc_id" % 4 === 2, lit("#section-2"))
          .otherwise(lit(""))
        val raw = concat(lit("https://"), host, lit("/page/"),
          ($"doc_id" % 50).cast("string"), lit("/"), noise)
        t(s, dir, "documents")
          .select($"doc_id", raw.as("url"))
          .select($"doc_id",
            regexp_replace(
              regexp_replace(
                concat(lower(parse_url($"url", lit("HOST"))),
                  parse_url($"url", lit("PATH"))),
                "/$", ""),
              "\\?.*$|#.*$", "").as("canonical"))
          .groupBy($"canonical")
          .agg(count(lit(1)).as("n_variants"), min($"doc_id").as("keep_doc"))
          .orderBy($"canonical")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    'https://' ||
             |    CASE doc_id % 3 WHEN 0 THEN 'EN.Wikipedia.org'
             |      WHEN 1 THEN 'github.com' ELSE 'Arxiv.org' END ||
             |    '/page/' || CAST(doc_id % 50 AS VARCHAR) || '/' ||
             |    CASE doc_id % 4 WHEN 0 THEN '?utm_source=feed&utm_campaign=x'
             |      WHEN 1 THEN '?utm_medium=mail'
             |      WHEN 2 THEN '#section-2' ELSE '' END AS url
             |  FROM documents),
             |c AS (
             |  SELECT doc_id,
             |    regexp_replace(
             |      regexp_replace(
             |        lower(regexp_extract(url, 'https://([^/]+)', 1)) ||
             |        regexp_replace(regexp_extract(url, 'https://[^/]+([^?#]*)', 1),
             |          '\?.*$|#.*$', ''),
             |        '/$', ''),
             |      '\?.*$|#.*$', '') AS canonical
             |  FROM u)
             |SELECT canonical, COUNT(*) AS n_variants, MIN(doc_id) AS keep_doc
             |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin))
  )
}
