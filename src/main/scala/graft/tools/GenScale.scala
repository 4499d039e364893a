package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic N× scale-up of the driver's testdata (VERDICT r10 ask #7):
  * writes a larger slice into an output dir (under the repo; the source
  * testdata is read-only) so the scaling probe can measure a TRUE 10×/100×
  * step instead of inferring from sf0.01→sf0.1 alone.
  *
  * Scheme: each fact/entity table is unioned `factor` times with every key
  * column shifted into a disjoint sub-universe (`key + copy · (max+1)`), so
  * foreign-key joins keep exactly their per-key fan-in while row counts,
  * distinct-key counts, and group counts all scale by `factor` — the shape a
  * 100-TB corpus actually has (more users/orders/docs, not denser ones).
  * Timestamps/dates keep their window (more traffic in the same period).
  * `documents.text` gets a per-copy suffix token (otherwise exact/near-dedup
  * operators would collapse the replicas — unrepresentative); embeddings get
  * a tiny deterministic first-component jitter per copy so ANN probes don't
  * see factor-way ties. region/nation are fixed dimensions and copy as-is.
  *
  * `mutate` mode (round 14, VERDICT r13 ask #3 — the plain clone scheme
  * manufactured sf1-probe artifacts: suffix-only text clones inherit the
  * original's band signatures, so LSH buckets gained ×factor OCCUPANCY
  * instead of the corpus gaining ×factor new buckets, and duplicated basket
  * contents replayed identical part co-occurrence). On top of the stride
  * shifts, per copy k > 0:
  *  - documents: EVERY token is suffixed with the copy index, so clone
  *    shingles are disjoint from the original's (new buckets, flat
  *    occupancy) while near-dup pairs WITHIN a copy universe are preserved
  *    (both members get the same rewrite);
  *  - content FKs (l_partkey, l_suppkey, o_custkey, user_id): translated
  *    within the copy's key universe (`(key + k·8191) mod stride`, a
  *    bijection onto the same dense key range), so cloned orders are
  *    FK-consistent NEW part/supplier/customer combinations rather than
  *    replayed baskets; order↔lineitem linkage keys keep the pure shift so
  *    the join structure is untouched;
  *  - embeddings: components circularly rotated by k — each copy universe is
  *    an isometric copy of the original point cloud in a different
  *    orientation, so clones are not near-ties of their originals but
  *    per-universe geometry stays realistic.
  *
  * Usage: runMain graft.tools.GenScale <srcSfDir> <outDir> [factor] [clone|mutate]
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val mutate = args.lift(3).contains("mutate")
    val spark = graft.Harness.session("local[32]", 32)
    import spark.implicits._

    val copies = spark.range(factor).select($"id".cast("long").as("copy"))

    /** Shift `keys` columns into disjoint per-copy universes; pass through
      * the rest. One cross with the tiny copies frame (broadcast), then a
      * projection — scales linearly, no shuffle until the write. */
    /** One stride per KEY UNIVERSE, computed from the table that OWNS the
      * key (the PK side) and reused by every FK column referencing it.
      * Shifting an FK by its own table's local max would put copy-k FKs in
      * the wrong sub-universe whenever the sampled slice's max(FK) <
      * max(PK) — breaking the documented per-key fan-in preservation. */
    val universeStride = scala.collection.mutable.Map.empty[String, Long]
    def strideOf(owner: String, key: String): Long =
      universeStride.getOrElseUpdate(key, {
        val m = spark.read.parquet(s"$src/$owner.parquet")
          .agg(max(col(key))).head().getAs[Number](0).longValue
        m + 1L
      })
    // FK column -> (owning table, PK column) for keys referenced across tables
    val fkUniverse = Map(
      "o_custkey" -> ("customer", "c_custkey"),
      "l_orderkey" -> ("orders", "o_orderkey"),
      "l_partkey" -> ("part", "p_partkey"),
      "l_suppkey" -> ("supplier", "s_suppkey"))

    // FK columns translated within the copy universe in mutate mode: a
    // per-copy bijection onto the same dense 0..stride-1 key range (every
    // testdata PK range is dense from 0), so the FK stays valid while the
    // cloned row references a NEW combination of dimension members.
    val translated = Set("l_partkey", "l_suppkey", "o_custkey", "user_id")

    def scale(table: String, keys: Seq[String],
        extra: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] = Map.empty): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val shift = keys.map { k =>
        val (owner, pk) = fkUniverse.getOrElse(k, (table, k))
        k -> strideOf(owner, pk)
      }.toMap
      val scaled = df.crossJoin(broadcast(copies))
        .select(df.columns.map { c =>
          val base: org.apache.spark.sql.Column =
            if (shift.contains(c)) {
              val stride = shift(c)
              val local =
                if (mutate && translated(c))
                  (col(c) + $"copy" * 8191L) % stride
                else col(c)
              (local + $"copy" * stride).as(c)
            } else col(c)
          extra.get(c).map(f => f(base).as(c)).getOrElse(base)
        }.toIndexedSeq: _*)
      scaled.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$table.parquet")
      println(s"[genscale] $table x$factor -> ${scaled.count()} rows")
    }

    def copyAsIs(table: String): Unit = {
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[genscale] $table copied as-is")
    }

    copyAsIs("region")
    copyAsIs("nation")
    scale("customer", Seq("c_custkey"))
    scale("supplier", Seq("s_suppkey"))
    scale("part", Seq("p_partkey"))
    scale("orders", Seq("o_orderkey", "o_custkey"))
    scale("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scale("events", Seq("event_id", "user_id"))
    scale("documents", Seq("doc_id"), extra = Map(
      "text" -> (c =>
        if (mutate)
          // rewrite EVERY token per copy: clone shingle sets are disjoint
          // from the original's, near-dup pairs within a universe preserved
          when($"copy" === 0, c).otherwise(array_join(
            transform(split(c, " "),
              t => concat(t, lit("q"), $"copy".cast("string"))), " "))
        else
          // keep replicas textually distinct so dedup operators see a real corpus
          concat(c, lit(" zz"), $"copy".cast("string")))))
    scale("embeddings", Seq("vec_id"), extra = Map(
      "embedding" -> (c =>
        if (mutate)
          // circular component rotation by copy: an isometry per universe,
          // decorrelated across universes (factor < 64 dims, no wrap ties)
          expr("transform(sequence(0, size(embedding) - 1), i -> " +
            "element_at(embedding, " +
            "CAST((i + copy) % size(embedding) AS INT) + 1))")
        else
          // break factor-way distance ties without moving the distribution
          expr("transform(embedding, (x, i) -> IF(i = 0, " +
            "CAST(x + copy * 0.0001D AS FLOAT), x))"))))
    spark.stop()
  }
}
