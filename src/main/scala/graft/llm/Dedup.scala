package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM data pipelines (SURVEY.md §2b "LLM extensions"):
  * exact (keyed keep-first, content-hash collapse), MinHash+LSH near-dup, n-gram
  * Jaccard, SimHash. All pure DataFrame pipelines — every stage is a shuffle on an
  * explicit key (doc id, band signature, shingle), so the work scales out
  * horizontally; nothing is collected to the driver. Near-dup detection composes
  * three pieces: [[shingleSets]] (one shingle array per document) →
  * [[lshCandidates]] (MinHash-LSH band buckets) → [[pairJaccard]] (exact
  * verification). The band join is the 100 TB path: candidates come from equal
  * band-signature buckets, never from a pairwise cross join. */
object Dedup {

  /** Deterministic keep-first exact dedup: first row per key under `order`. The batch
    * formulation of streaming dropDuplicates, made reproducible. */
  def keepFirst(df: DataFrame, keys: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Content digest for exact-hash dedup. */
  def contentDigest(text: Column): Column = sha2(text, 256)

  /** Document-frequency cap over an exploded (id, shingle) frame: drop shingles
    * appearing in more than `tau` documents. Boilerplate shingles (headers,
    * license banners) carry no dedup signal but ALL the join skew — at 100 TB a
    * single >τ-df shingle key would otherwise fan a shingle equi-join out
    * quadratically. Two narrow shuffles (df rollup + semi-join), both on the
    * shingle key. */
  def dfCap(sh: DataFrame, tau: Long): DataFrame = {
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
    sh.join(df.filter(col("__df") <= tau).select(col("shingle")), Seq("shingle"),
      "left_semi")
  }

  /** Each document's distinct word 3-shingle set as one array: `(id, shingles)`.
    * Documents whose set is null or empty (null text, under 3 tokens) are dropped:
    * they have no shingle to sign or share, and an empty pair would divide 0/0 in
    * [[pairJaccard]]. */
  def shingleSets(docs: DataFrame, id: String, textCol: String): DataFrame =
    docs
      // stage the token array as a real column: higher-order-function lambdas
      // re-evaluate free subexpressions per invocation, so tokenizing inline would
      // re-run the regex split once per shingle position
      .select(col(id), TextFunctions.tokens(col(textCol)).as("__tk"))
      // the set comes out of a one-row explode (no row for a set-less document)
      // rather than a Project + Filter: Catalyst pushes a filter below a Project
      // by inlining the aliased expression, which would re-run the tokenizer or
      // the n-gram lambda in the filter, but never below a generator's output
      .select(col(id), explode(when(size(col("__tk")) >= 3,
        array(array_distinct(TextFunctions.ngrams(col("__tk"), 3))))).as("shingles"))

  /** The exploded `(id, shingle)` frame: one row per distinct shingle of each
    * document, for shingle-keyed joins and document-frequency counts. */
  def shingleFrame(docs: DataFrame, id: String, textCol: String): DataFrame =
    shingleSets(docs, id, textCol).select(col(id), explode(col("shingles")).as("shingle"))

  /** MinHash-LSH candidate pairs `(id1, id2)`, `id1 < id2`, over a [[shingleSets]]
    * frame: [[graft.functions.MinHashBands]] emits each document's `(band, sig)`
    * rows in one pass over its array, and two documents are candidates when they
    * share a bucket — an equal signature in the same band. Rows carry no array.
    *
    * `maxBucket` (the LSH df-cap, mirroring the shingle-edge [[dfCap]]): a bucket
    * holding k members emits C(k,2) pairs, so a degenerate signature — boilerplate
    * text, or a dup-heavy crawl where one document has thousands of near-copies —
    * makes candidate volume quadratic in the hot-bucket size (measured on the 10×
    * clone-scaled probe: max bucket 15→150, pairs 13.5k→1.54M ≈ ×114). With a cap,
    * buckets over `maxBucket` members are dropped whole: their pairs are either
    * exact dups (found by hash-collapse dedup first) or re-surface in another of
    * the nBands independent bands, and candidate volume is bounded by
    * nBands·maxBucket·|docs|/2 — linear in the corpus.
    *
    * The capped path is fused: the single groupBy that forms the buckets also
    * decides keep-vs-drop, via [[graft.functions.CappedCollect]] — collect at most
    * cap+1 member ids per bucket (O(cap) aggregation state even on a
    * million-member degenerate bucket), keep buckets whose array has 2..cap
    * members (≤ cap ⇒ the array is provably the complete member set), and emit the
    * C(k,2) ≤ C(cap,2) pairs map-side from the sorted array. One bucket shuffle +
    * one distinct. None = exact LSH via the `(band, sig)` self-join (bucket sizes
    * unbounded, so pairs must come from the join, not an array).
    *
    * Requires a bigint id for the capped path (all graft doc ids are). */
  def lshCandidates(sets: DataFrame, id: String, numHashes: Int, bandSize: Int,
      maxBucket: Option[Int] = None): DataFrame = {
    val bands = sets.select(col(id),
      graft.functions.MinHashBands(col("shingles"), numHashes, bandSize))
    maxBucket match {
      case Some(cap) =>
        require(sets.schema(id).dataType == org.apache.spark.sql.types.LongType,
          s"maxBucket path requires a bigint id column, got " +
            sets.schema(id).dataType.simpleString)
        bands.groupBy(col("band"), col("sig"))
          .agg(graft.functions.CappedCollect.long(col(id), cap + 1).as("ms"))
          .filter(size(col("ms")).between(2, cap))
          // sorted ascending ⇒ positional (i < j) expansion yields id1 < id2
          .select(explode(expr(
            "flatten(transform(array_sort(ms), (x, i) -> " +
              "transform(slice(array_sort(ms), i + 2, size(ms)), " +
              "y -> struct(x AS id1, y AS id2))))")).as("p"))
          .select(col("p.id1").as("id1"), col("p.id2").as("id2"))
          .filter(col("id1") < col("id2"))
          .distinct()
      case None =>
        bands.select(col(id).as("id1"), col("band"), col("sig"))
          .join(bands.select(col(id).as("id2"), col("band"), col("sig")),
            Seq("band", "sig"))
          .filter(col("id1") < col("id2"))
          .select("id1", "id2").distinct()
    }
  }

  /** Exact shingle Jaccard of every `(id1, id2, …)` row of `pairs`: joins the
    * [[shingleSets]] frame on `id1` and on `id2` and adds the bigints
    * `n_shared = |s1 ∩ s2|`, `sz1 = |s1|`, `sz2 = |s2|` and the double
    * `jaccard = n_shared / (sz1 + sz2 − n_shared)`. A pair whose document has no
    * set is dropped. Arrays cross an exchange only here, keyed by a document id.
    *
    * Callers holding a materialized pair frame should first prune `sets` to the
    * pairs' ids with a broadcast semi-join (see dedup_minhash_lsh): verification
    * then shuffles ∝ |pairs|, not |corpus|. Pruning is not done here because a
    * broadcast built from a lazy `pairs` plan makes the broadcast thread race the
    * main stages through the whole candidate pipeline (measured ~2× wall). */
  def pairJaccard(pairs: DataFrame, sets: DataFrame, id: String): DataFrame = {
    val n = size(array_intersect(col("__s1"), col("__s2"))).cast("long")
    pairs
      .join(sets.select(col(id).as("id1"), col("shingles").as("__s1")), Seq("id1"))
      .join(sets.select(col(id).as("id2"), col("shingles").as("__s2")), Seq("id2"))
      .withColumn("n_shared", n)
      .withColumn("sz1", size(col("__s1")).cast("long"))
      .withColumn("sz2", size(col("__s2")).cast("long"))
      .drop("__s1", "__s2")
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("sz1") + col("sz2") - col("n_shared")))
  }

  /** 16-bit SimHash over the distinct token set (md5-nibble bit votes). Returns
    * (id, simhash16). Near-dup docs land on nearby/equal values. */
  def simhash16(docs: DataFrame, id: String, textCol: String): DataFrame = {
    val toks = docs.select(col(id),
      explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val bitVotes = (0 until 16).map { i =>
      sum(when(instr(lit("89abcdef"), substring(col("h"), i + 1, 1)) > 0, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val votes = toks.groupBy(col(id)).agg(bitVotes.head, bitVotes.tail: _*)
    val value = (0 until 16).map { i =>
      when(col(s"b$i") > 0, math.pow(2, i).toLong).otherwise(0L)
    }.reduce(_ + _)
    votes.select(col(id), value.as("simhash16"))
  }
}
