package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Similarity search over embedding columns (`array<float>`) — SURVEY.md §2b "LLM
  * extensions". Exact paths use order-insensitive decimal accumulation so results are
  * reproducible across engines/partitionings (per-element float→double products are
  * exact; the decimal sum is associative). Brute-force top-k is the oracle baseline;
  * the LSH-bucketed variant is the scale path (candidates from shared hyperplane
  * sign buckets — at 100 TB the cross join is replaced by a bucket equi-join). */
object Similarity {

  private val DEC = DataTypes.createDecimalType(30, 12)

  /** Exact dot product of two float arrays, accumulated in decimal (associative →
    * partitioning-independent) and returned as double. Computed by the codegen'd
    * [[graft.functions.FloatVecDotExact]] — bit-identical to [[dotExactHof]]
    * (spec-enforced) but without the CodegenFallback HOF overhead, which is what
    * makes exact brute-force similarity a usable baseline at BENCH scale. */
  def dotExact(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vec_dot_exact(a, b)

  /** The declarative HOF formulation of [[dotExact]] — kept as the semantic
    * specification (zip→round-to-decimal(30,12)→exact sum) the native expression
    * must match, and as the fallback if the extension isn't on the classpath. */
  def dotExactHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(DEC)),
      lit(0).cast(DEC),
      (acc, x) => (acc + x).cast(DEC)
    ).cast("double")

  def normExact(a: Column): Column = sqrt(dotExact(a, a))

  /** Brute-force cosine top-k: every query row against every corpus row, windowed
    * pick of the k best. Exact — the correctness baseline for ANN variants.
    *
    * Two-phase: a cheap double-cosine pass ranks all |Q|·|C| pairs, then the
    * decimal-exact scoring runs only on pairs within 1e-6 of the fast kth-best
    * per query. Lossless: |fast − exact| ≤ ε ≈ 1e-11 per pair, and sorted-value
    * functions are 1-Lipschitz under pointwise perturbation, so every exact
    * top-k member (and every tie on the kth exact cosine) has
    * fast ≥ fast_kth − 2ε — all inside the slack band. BigDecimal work drops
    * from |Q|·|C| pairs to ~|Q|·k. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    // A small query set (the eval shape: tens of probes against the corpus) often
    // arrives in ONE file partition, which would serialize the whole |Q|·|C|
    // fast-dot loop onto a single task — round-robin the stream side across
    // the configured parallelism first. At production |Q| this is a no-op cost.
    val para = queries.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // precompute norms once per vector (vs per pair): 3x less decimal work, same bits
    val q = queries.repartition(para)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        normExact(col("embedding")).as("qnorm"))
    val c = corpus.select(col("vec_id").as("vid"), col("embedding").as("cvec"),
      normExact(col("embedding")).as("cnorm"))
    // fast pass: project the vectors away BEFORE the rank window — the shuffle
    // carries 3 scalars per pair, not two embedding arrays (~50× the volume)
    val fast = q.join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (vec_dot(col("qvec"), col("cvec")) /
          (col("qnorm") * col("cnorm"))).as("fcos"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("fcos").desc, col("vid"))
    val wq = Window.partitionBy(col("qid"))
    val cand = fast
      .withColumn("rnf", row_number().over(wf))
      // kth is NULL when a query has < k pairs: keep everything in that case
      .withColumn("kth", max(when(col("rnf") === k, col("fcos"))).over(wq))
      .filter(col("kth").isNull || col("fcos") >= col("kth") - lit(1e-6))
      .select("qid", "vid")
    // exact pass on the surviving ~k+ε candidates per query
    val scored = cand.join(q, "qid").join(c, "vid")
      .withColumn("cosine", dotExact(col("qvec"), col("cvec")) /
        (col("qnorm") * col("cnorm")))
      .select(col("qid"), col("vid"), col("cosine"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cosine")
  }

  /** Sign-LSH bucketing: `numPlanes` pseudo-random hyperplanes derived
    * deterministically from xxhash64(plane, dim) — no RNG, reproducible anywhere.
    * Vectors sharing the full sign pattern land in one bucket; top-k runs within
    * buckets only (approximate, BENCH-only — not oracle-hashed). */
  def lshBuckets(vecs: DataFrame, numPlanes: Int, dims: Int): DataFrame = {
    import graft.functions.VectorFunctions.vec_dot
    // plane p component d in [-1, 1): derived from a 64-bit hash, fully deterministic
    val sigBits = (0 until numPlanes).map { p =>
      val plane = array((0 until dims).map { d =>
        val h = scala.util.hashing.MurmurHash3.stringHash(s"plane$p-dim$d")
        lit((h.toDouble / Int.MaxValue).toFloat)
      }: _*)
      when(vec_dot(col("embedding"), plane) >= 0, lit("1")).otherwise(lit("0"))
    }
    vecs.withColumn("bucket", concat(sigBits: _*))
  }

  /** ANN top-k via sign-LSH buckets: codegen'd cosine within each bucket only — the
    * 100 TB path (bucket equi-join replaces the cross join; BENCH-only, approximate). */
  def lshTopK(vecs: DataFrame, k: Int, numPlanes: Int, dims: Int): DataFrame = {
    import graft.functions.VectorFunctions.{cosine_fast, vec_norm}
    val bucketed = lshBuckets(vecs, numPlanes, dims)
    val a = bucketed.select(col("vec_id").as("qid"), col("embedding").as("qvec"),
      vec_norm(col("embedding")).as("qn"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("vid"), col("embedding").as("cvec"),
      vec_norm(col("embedding")).as("cn"), col("bucket"))
    val scored = a.join(b, Seq("bucket")).filter(col("qid") =!= col("vid"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.vec_dot(col("qvec"), col("cvec")) /
          (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cosine")
  }

  /** Band-split sign-LSH ANN: the full-sign-pattern bucketing above can skew (one
    * popular sign pattern = one huge bucket, and recall drops as numPlanes grows
    * because near neighbors must agree on EVERY plane). Splitting the signature
    * into `bands` bands of numPlanes/bands planes fixes both, exactly like MinHash
    * banding: a pair is a candidate when ANY band matches, so each band's buckets
    * are coarser (2^(planes/band) values — bounded skew) while overall recall
    * rises (OR over bands). Candidate generation runs on compact (band, sig, id)
    * rows, pairs are deduped BEFORE vectors are fetched, and scoring joins the
    * embeddings back by id — the shape that keeps shuffle payloads narrow at
    * 100 TB. Approximate — BENCH-only, never oracle-hashed. */
  def lshBandedTopK(vecs: DataFrame, k: Int, numPlanes: Int, bands: Int,
      dims: Int): DataFrame =
    lshBandedTopK(vecs, vecs, k, numPlanes, bands, dims, multiprobe = 0)

  /** Query-vs-corpus form of [[lshBandedTopK]] with optional multi-probe (Lv et
    * al., "Multi-Probe LSH", VLDB'07): with `multiprobe = d` each QUERY probes,
    * per band, every bucket within Hamming distance d of its own —
    * Σ_{j≤d} C(r,j) probes per band (9 at d=1, 37 at d=2 for r=8). On
    * weak-similarity corpora (per-plane sign agreement p ≈ 0.6 here) this
    * lifts per-band true-neighbor recall from p^r to Σ_{j≤d} C(r,j)·
    * p^(r-j)·(1-p)^j for a candidate-volume cost of (probes/2^r) per
    * query×corpus pair — and the probing explodes ONLY the query side, so
    * corpus-side candidate volume stays linear in |Q|·|C|·probes/2^r, never
    * quadratic in the corpus. The volume fraction IS the recall knob: at
    * r = 8, d=1 scans ~7% of brute force, d=2 ~29% — past d=2 banded LSH
    * stops being a bucketing structure on this corpus (see the PLANS.md ANN
    * positioning note). Approximate — BENCH-only, never oracle-hashed. */
  def lshBandedTopK(queries: DataFrame, corpus: DataFrame, k: Int, numPlanes: Int,
      bands: Int, dims: Int, multiprobe: Int): DataFrame = {
    import graft.functions.VectorFunctions.{vec_dot, vec_norm}
    require(numPlanes % bands == 0, s"bands ($bands) must divide numPlanes ($numPlanes)")
    require(multiprobe >= 0 && multiprobe <= 2,
      "only Hamming-1/-2 multi-probe is supported")
    val r = numPlanes / bands
    // compact candidate stream: (band index, band signature, id) — no vectors
    def bandSigs(df: DataFrame, idAs: String) =
      lshBuckets(df, numPlanes, dims)
        .select(col("vec_id").as(idAs), posexplode(array((0 until bands).map(b =>
          substring(col("bucket"), b * r + 1, r)): _*)).as(Seq("band", "bsig")))
    val qb = bandSigs(queries, "qid")
    val qprobes = if (multiprobe == 0) qb else {
      def flipAt(sig: Column, i: Int): Column =
        concat(substring(sig, 1, i),
          when(substring(sig, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
          substring(sig, i + 2, r - i - 1))
      val flipSets: Seq[Seq[Int]] =
        Seq(Seq.empty[Int]) ++
          (0 until r).map(Seq(_)) ++
          (if (multiprobe >= 2)
            for { i <- 0 until r; j <- (i + 1) until r } yield Seq(i, j)
          else Nil)
      val variants: Seq[Column] =
        flipSets.map(_.foldLeft(col("bsig"))(flipAt))
      qb.select(col("qid"), col("band"), explode(array(variants: _*)).as("bsig"))
    }
    val cands = qprobes
      .join(bandSigs(corpus, "vid"), Seq("band", "bsig"))
      .filter(col("qid") =!= col("vid"))
      .select("qid", "vid").distinct() // a pair may share several bands/probes — score once
    // fetch vectors for surviving pairs only, then score
    def side(df: DataFrame, idAs: String, vecAs: String, nAs: String) =
      df.select(col("vec_id").as(idAs), col("embedding").as(vecAs),
        vec_norm(col("embedding")).as(nAs))
    val scored = cands
      .join(side(queries, "qid", "qvec", "qn"), Seq("qid"))
      .join(side(corpus, "vid", "cvec", "cn"), Seq("vid"))
      .withColumn("cosine", vec_dot(col("qvec"), col("cvec")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cosine")
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nlist` centroids partitions the
    * corpus into lists; each query searches only its `nprobe` nearest lists. The
    * 100 TB path when sign-LSH buckets skew: list sizes are balanced by k-means-style
    * refinement, and the probe join is an equi-join on list id (never a cross join
    * against the corpus).
    *
    * Deterministic everywhere: seeds are the `nlist` lowest vec_ids (no RNG), one
    * refinement sweep (assign → exact mean), ties broken by list id. Approximate —
    * BENCH-only, never oracle-hashed. */
  def ivfTopK(vecs: DataFrame, k: Int, nlist: Int, nprobe: Int): DataFrame =
    ivfTopK(vecs, vecs, k, nlist, nprobe)

  /** Query/corpus split (round 15, VERDICT r14 ask #2): centroid training,
    * refinement, and list assignment run over `corpus`; only `queries` rows
    * are probed. A bounded probe set (an audit sample, an online query batch)
    * then costs |Q|·nprobe·(n/nlist) candidate volume — LINEAR in the corpus —
    * instead of the all-queries n·nprobe·(n/nlist). When `queries eq corpus`
    * the ranked centroid expansion is computed ONCE and serves both the final
    * list assignment (rn == 1) and the probe targets (rn ≤ nprobe), exactly
    * the fused self-retrieval plan benched by `sim_cosine_topk_ivf`. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nlist: Int,
      nprobe: Int): DataFrame = {
    // NOTE r16: a §2.5 repartition(defaultParallelism, vec_id) was tried here
    // and REVERTED — the corpus is 2000 rows at sf0.1, the ×nlist cosine
    // expansion is cheap float work, and the added 32-task stage constants
    // made sim_cosine_topk_ivf ~1.8x and sim_ann_recall ~2x slower (the
    // dedup_minhash_bbit revert class: small bounded frames do not want
    // spreading).
    val vecs = corpus
    import graft.functions.VectorFunctions.{cosine_fast, vec_dot, vec_norm}
    import org.apache.spark.sql.functions.broadcast

    // seed centroids: nlist lowest ids — deterministic, tiny (nlist × dims floats)
    val seeds = vecs.orderBy(col("vec_id")).limit(nlist)
      .select(col("vec_id").as("seed_ord"), col("embedding").as("cent"))
      .withColumn("list_id", row_number().over(Window.orderBy(col("seed_ord"))) - 1)
      .select("list_id", "cent")

    // assignment = argmax cosine over the broadcast centroid set. max_by instead of
    // a window: partial aggregation collapses the ×nlist expansion map-side, so the
    // shuffle carries one row per vector, not nlist rows (the window formulation
    // sort-shuffles the whole expansion).
    def assign(cents: DataFrame): DataFrame =
      vecs.crossJoin(broadcast(cents))
        .withColumn("aff", cosine_fast(col("embedding"), col("cent")))
        .groupBy(col("vec_id"))
        .agg(
          first(col("embedding")).as("embedding"),
          max_by(col("list_id"), struct(col("aff"), -col("list_id"))).as("list_id"))
        .select(col("vec_id"), col("embedding"), col("list_id"))

    // one k-means sweep: exact element-wise decimal mean per list (nlist×dims rows
    // — tiny; decimal accumulation keeps the centroids partitioning-independent,
    // same rule as labelCentroids/dotExact)
    val assigned0 = assign(seeds)
    val refined = assigned0
      .select(col("list_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("list_id", "pos")
      .agg((sum(col("v").cast("double").cast(DEC)).cast("double") / count(lit(1)))
        .cast("float").as("cv"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pcs"))
      .select(col("list_id"), transform(col("pcs"), p => p.getField("cv")).as("cent"))

    // ONE ranked pass over the vecs×refined-centroid expansion serves both roles:
    // rn == 1 is the final list assignment, rn <= nprobe are the probe targets —
    // computing them separately would evaluate the cross join + cosines twice.
    // Eagerly checkpointed (small: n_vecs × nprobe rows) so the two consumers read
    // the materialized blocks instead of re-running the expansion.
    val wProbe = Window.partitionBy(col("vec_id"))
      .orderBy(col("aff").desc, col("list_id"))
    val ranked = vecs.crossJoin(broadcast(refined))
      .withColumn("aff", cosine_fast(col("embedding"), col("cent")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= math.max(nprobe, 1))
      .select(col("vec_id"), col("embedding"), col("list_id"), col("rn"))
      .localCheckpoint(true)

    val lists = ranked.filter(col("rn") === 1)
      .select(col("vec_id").as("vid"), col("embedding").as("cvec"),
        vec_norm(col("embedding")).as("cn"), col("list_id"))

    // probe: each query joins only its nprobe nearest lists (equi-join on
    // list_id). Self case reuses the checkpointed corpus ranking; a separate
    // query frame ranks only ITS rows against the broadcast centroids — same
    // rn ≤ nprobe semantics, |Q| rows instead of n.
    val qProbe = (if (queries eq corpus) ranked
      else queries.crossJoin(broadcast(refined))
        .withColumn("aff", cosine_fast(col("embedding"), col("cent")))
        .withColumn("rn", row_number().over(wProbe))
        .filter(col("rn") <= math.max(nprobe, 1)))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        vec_norm(col("embedding")).as("qn"), col("list_id"))

    val scored = qProbe.join(lists, Seq("list_id")).filter(col("qid") =!= col("vid"))
      .withColumn("cosine", vec_dot(col("qvec"), col("cvec")) /
        (col("qn") * col("cn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vid"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("qid", "rank", "vid", "cosine")
  }

  /** Per-label centroids, exactly: explode positions, decimal-mean per (label, pos).
    * Returns (label, pos, centroid_val) — the distributed form of a vector mean. */
  def labelCentroids(vecs: DataFrame): DataFrame =
    vecs.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast("double").cast(DEC)).cast("double") / count(lit(1)))
        .as("centroid_val"))
}
