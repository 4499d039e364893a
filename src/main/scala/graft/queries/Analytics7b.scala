package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.llm.Multimodal
import QueryDSL._

/** Analytics wave 7, part 2 (split from Analytics7 for file-size hygiene —
  * registration names unchanged): image median-filter/RLE/quantize kernels,
  * audio spectral centroid, Adamic-Adar link prediction, k-truss,
  * eccentricity, Chao1 richness. Same determinism contract. */
object Analytics7b {

  val queries: Seq[Q] = Seq(

    // 3×3 median filter through the real BMP decode: the classical
    // salt-and-pepper denoiser over the interior grayscale field, exact
    // middle of 9 sorted neighborhood levels per pixel. Oracle
    // re-evaluates every neighborhood from the closed-form pixel formula
    // with quantile_disc; the (x+2y)-weighted checksum pins neighborhood
    // addressing. One codec-stage pass, bounded per-record state.
    Q("multimodal_image_median_filter",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.medianStats(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x
             |  FROM dims),
             |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y
             |  FROM xs),
             |px AS (SELECT doc_id, w, h, x, y,
             |    ((doc_id*31 + x*7 + y*13) % 256
             |     + (doc_id*31 + x*7 + y*13 + 101) % 256
             |     + (doc_id*31 + x*7 + y*13 + 202) % 256) // 3 AS lv
             |  FROM xy),
             |med AS (
             |  SELECT p.doc_id, p.x, p.y,
             |    quantile_disc(q.lv, 0.5) AS med
             |  FROM px p JOIN px q ON q.doc_id = p.doc_id
             |    AND q.x BETWEEN p.x - 1 AND p.x + 1
             |    AND q.y BETWEEN p.y - 1 AND p.y + 1
             |  WHERE p.x BETWEEN 1 AND p.w - 2
             |    AND p.y BETWEEN 1 AND p.h - 2
             |  GROUP BY p.doc_id, p.x, p.y)
             |SELECT doc_id, COUNT(*) AS n_interior,
             |  CAST(SUM(med) AS BIGINT) AS sum_med,
             |  CAST(MIN(med) AS INTEGER) AS min_med,
             |  CAST(MAX(med) AS INTEGER) AS max_med,
             |  CAST(SUM((x + 2*y) * med) AS BIGINT) AS wsum_med
             |FROM med GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Run-length-encoding audit of the thresholded binary field through
    // the real BMP decode: horizontal run counts, the longest on-run, and
    // the 2-bytes-per-run RLE size estimate — the compressibility
    // diagnostic behind mask/bitmap storage choices. Run starts are
    // value-changes (or x=0); the oracle rebuilds runs with a window
    // cumulation over the closed-form pixel field.
    Q("multimodal_image_rle_audit",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.rleStats(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x
             |  FROM dims),
             |xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y
             |  FROM xs),
             |px AS (SELECT doc_id, w, h, x, y,
             |    CAST(((doc_id*31 + x*7 + y*13) % 256
             |     + (doc_id*31 + x*7 + y*13 + 101) % 256
             |     + (doc_id*31 + x*7 + y*13 + 202) % 256) > 382 AS INT)
             |      AS o
             |  FROM xy),
             |runs AS (
             |  SELECT doc_id, y, x, o,
             |    CASE WHEN x = 0 OR o <> lag(o) OVER
             |      (PARTITION BY doc_id, y ORDER BY x) THEN 1 ELSE 0 END
             |      AS strt
             |  FROM px),
             |rid AS (
             |  SELECT doc_id, y, x, o,
             |    strt,
             |    SUM(strt) OVER (PARTITION BY doc_id, y ORDER BY x)
             |      AS run_id
             |  FROM runs),
             |runlen AS (
             |  SELECT doc_id, y, run_id, MAX(o) AS o, COUNT(*) AS len
             |  FROM rid GROUP BY doc_id, y, run_id)
             |SELECT p.doc_id,
             |  (SELECT COUNT(*) FROM px x2 WHERE x2.doc_id = p.doc_id)
             |    AS n_pix,
             |  CAST(SUM(CASE WHEN o = 1 THEN len ELSE 0 END) AS BIGINT)
             |    AS n_on,
             |  COUNT(*) AS n_runs,
             |  CAST(SUM(o) AS BIGINT) AS n_runs_on,
             |  CAST(COALESCE(MAX(CASE WHEN o = 1 THEN len END), 0)
             |    AS BIGINT) AS max_run_on,
             |  CAST(2 * COUNT(*) AS BIGINT) AS rle_bytes
             |FROM runlen p GROUP BY p.doc_id ORDER BY p.doc_id"""
        .stripMargin)),

    // 3-3-2 palette quantization through the real BMP decode: distinct
    // 8-bit codes used, exact per-channel |error| sums against the
    // cell-midpoint reconstruction, and the position-weighted code
    // checksum — the palette-compression quality audit, pure integer.
    Q("multimodal_image_quantize332",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        Multimodal.quantStats(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)))
          .toDF()
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x
             |  FROM dims),
             |xy0 AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y
             |  FROM xs),
             |xy AS (SELECT doc_id, x, y,
             |    (doc_id*31 + x*7 + y*13) % 256 AS r,
             |    (doc_id*31 + x*7 + y*13 + 101) % 256 AS g,
             |    (doc_id*31 + x*7 + y*13 + 202) % 256 AS b
             |  FROM xy0),
             |q AS (
             |  SELECT doc_id, x, y, r, g, b,
             |    (r // 32) * 32 + (g // 32) * 4 + b // 64 AS code
             |  FROM xy)
             |SELECT doc_id, COUNT(*) AS n_pix,
             |  COUNT(DISTINCT code) AS n_codes,
             |  CAST(SUM(abs(r - ((r // 32) * 32 + 16))) AS BIGINT)
             |    AS err_r,
             |  CAST(SUM(abs(g - ((g // 32) * 32 + 16))) AS BIGINT)
             |    AS err_g,
             |  CAST(SUM(abs(b - ((b // 64) * 64 + 32))) AS BIGINT)
             |    AS err_b,
             |  CAST(SUM((x + 2*y) * code) AS BIGINT) AS wsum_code
             |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Spectral centroid + bandwidth of each recording from the same
    // pinned-integer DFT bin powers as the flatness query: centroid =
    // Σ k·P_k / ΣP_k, bandwidth = √(Σ(k−c)²·P_k/ΣP_k) — the
    // brightness/spread pair of classical audio features. Powers are
    // bit-identical (pure-Long correlation sums); the ~1e9-magnitude
    // moment sums use DECIMAL(30,0) — a grid of 1 sits far above the
    // double's ulp there, so the decimal casts agree across engines.
    Q("multimodal_audio_spectral_centroid",
      (s, dir) => {
        import s.implicits._
        import graft.llm.Multimodal
        val powers = Multimodal.dftBinPowers(s,
            Multimodal.syntheticAudio(s,
              t(s, dir, "documents").filter($"doc_id" < 100)), nBins = 8)
          .toDF()
        val cen = powers.groupBy($"doc_id")
          .agg(dsum($"power", 0).as("sp"),
            dsum($"bin" * $"power", 0).as("skp"))
          .select($"doc_id", ($"skp" / $"sp").as("centroid"), $"sp")
        powers.join(cen, Seq("doc_id"))
          .groupBy($"doc_id")
          .agg(max($"centroid").as("c"), max($"sp").as("sp2"),
            dsum(($"bin" - $"centroid") * ($"bin" - $"centroid") *
              $"power", 0).as("sv"))
          .select($"doc_id", round($"c", 6).as("centroid"),
            round(sqrt($"sv" / $"sp2"), 6).as("bandwidth"))
          .orderBy($"doc_id")
      },
      Some {
        s"""WITH coefs(m, cosv, sinv) AS (VALUES
           |    ${Analytics7.dftCoefValues}),
           |dims AS (
           |  SELECT doc_id FROM documents WHERE doc_id < 100),
           |sm AS (SELECT doc_id, unnest(range(0, 256)) AS i FROM dims),
           |ks AS (SELECT doc_id, i, unnest(range(1, 9)) AS k FROM sm),
           |v AS (
           |  SELECT doc_id, k,
           |    CAST((doc_id*37 + i*13) % 2048 - 1024 AS BIGINT) AS s,
           |    cosv, sinv
           |  FROM ks JOIN coefs ON coefs.m = (k * i) % 256),
           |bp AS (
           |  SELECT doc_id, k,
           |    CAST(CAST(SUM(s * cosv) AS DOUBLE) / 1e12 AS DOUBLE) AS a,
           |    CAST(CAST(SUM(s * sinv) AS DOUBLE) / 1e12 AS DOUBLE) AS b
           |  FROM v GROUP BY doc_id, k),
           |p AS (SELECT doc_id, k, a * a + b * b AS power FROM bp),
           |cen AS (
           |  SELECT doc_id,
           |    ${sqlDsum("k * power", 0)} / ${sqlDsum("power", 0)}
           |      AS c,
           |    ${sqlDsum("power", 0)} AS sp
           |  FROM p GROUP BY doc_id)
           |SELECT p.doc_id, round(MAX(cen.c), 6) AS centroid,
           |  round(sqrt(${sqlDsum("(p.k - cen.c) * (p.k - cen.c) * p.power",
              0)} / MAX(cen.sp)), 6) AS bandwidth
           |FROM p JOIN cen ON cen.doc_id = p.doc_id
           |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin
      }),

    // Adamic–Adar link prediction over the heavy-trade nation backbone:
    // for each NON-adjacent pair, Σ 1/ln(deg(w)) over common neighbors —
    // the degree-discounted common-neighbor score (rare hubs count more).
    // Pair space is bounded by the ≤|V|² backbone; existing edges drop
    // via an anti-join; decimal-exact score sums; top 30.
    Q("graph_adamic_adar",
      (s, dir) => {
        import s.implicits._
        val e0 = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter($"w" >= 150 && $"src" =!= $"dst")
          .select($"src", $"dst")
        val und = e0.select(least($"src", $"dst").as("a"),
            greatest($"src", $"dst").as("b")).distinct().localCheckpoint()
        val adj = und.select($"a".as("v"), $"b".as("u"))
          .unionByName(und.select($"b".as("v"), $"a".as("u")))
        val deg = adj.groupBy($"v").agg(count(lit(1)).as("deg"))
        val wadj = adj.select($"u".as("w"), $"v")
          .join(deg.select($"v".as("w"), $"deg"), Seq("w"))
        val cand = wadj.select($"w", $"v".as("x"), $"deg")
          .join(wadj.select($"w", $"v".as("y")), Seq("w"))
          .filter($"x" < $"y")
          .join(und, $"x" === $"a" && $"y" === $"b", "left_anti")
        cand.groupBy($"x", $"y")
          .agg(count(lit(1)).as("n_common"),
            dsum(lit(1.0d) / log($"deg".cast("double")), 8).as("aa"))
          .select($"x", $"y", $"n_common", round($"aa", 6).as("aa_score"))
          .orderBy($"aa_score".desc, $"x", $"y")
          .limit(30)
      },
      Some(s"""WITH e0 AS (
             |  SELECT c_nationkey AS src, s_nationkey AS dst
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN supplier ON l_suppkey = s_suppkey
             |  WHERE c_nationkey <> s_nationkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 150),
             |und AS (
             |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst)
             |      AS b
             |  FROM e0),
             |adj AS (SELECT a AS v, b AS u FROM und
             |        UNION ALL SELECT b AS v, a AS u FROM und),
             |deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
             |wadj AS (
             |  SELECT adj.u AS w, adj.v, deg.deg
             |  FROM adj JOIN deg ON deg.v = adj.u),
             |cand AS (
             |  SELECT p.w, p.v AS x, q.v AS y, p.deg
             |  FROM wadj p JOIN wadj q ON p.w = q.w AND p.v < q.v
             |  WHERE NOT EXISTS (SELECT 1 FROM und
             |    WHERE und.a = p.v AND und.b = q.v))
             |SELECT x, y, COUNT(*) AS n_common,
             |  round(${sqlDsum("1.0 / ln(CAST(deg AS DOUBLE))", 8)}, 6)
             |    AS aa_score
             |FROM cand GROUP BY x, y
             |ORDER BY aa_score DESC, x, y LIMIT 30""".stripMargin)),

    // 4-truss of the heavy-trade backbone: iteratively drop edges with
    // support < 2 (fewer than 2 triangles) for three unrolled rounds —
    // the cohesive-subgraph peel one level above triangles (every k-truss
    // edge has k−2 triangle witnesses). Triangle support via the oriented
    // a<b edge frame + both-direction adjacency; each round's frame is
    // ≤|E| and checkpointed, so the corpus-sized lineage runs once.
    Q("graph_ktruss",
      (s, dir) => {
        import s.implicits._
        val e0 = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter($"w" >= 150 && $"src" =!= $"dst")
          .select($"src", $"dst")
        val cur0 = e0.select(least($"src", $"dst").as("a"),
            greatest($"src", $"dst").as("b")).distinct().localCheckpoint()
        // Fixpoint early-exit (FixpointLoop doc): each round's surviving edge
        // set is a SUBSET of the previous round's (sup pairs come from joining
        // against the previous cur), so an unchanged count means the set — and
        // therefore every later round's recomputed supports — is identical.
        val sup = graft.ops.FixpointLoop.iterate(
          cur0.select($"a", $"b", lit(0L).as("support")), 3,
          Seq(count(lit(1)), sum($"support".cast("decimal(38,0)")))) { prev =>
          val cur = prev.select($"a", $"b")
          val adj = cur.select($"a".as("v"), $"b".as("u"))
            .unionByName(cur.select($"b".as("v"), $"a".as("u")))
          cur
            .join(adj.select($"v".as("a"), $"u".as("nb")), Seq("a"))
            .filter($"nb" =!= $"b")
            .join(cur.select($"a".as("a2"), $"b".as("b2")),
              least($"nb", $"b") === $"a2" &&
                greatest($"nb", $"b") === $"b2")
            .groupBy($"a", $"b")
            .agg(count(lit(1)).as("support"))
            .filter($"support" >= 2)
            .localCheckpoint()
        }
        sup.select($"a", $"b", $"support").orderBy($"a", $"b")
      },
      Some {
        // Every CTE referenced more than once is MATERIALIZED: DuckDB otherwise
        // inlines each reference, so the plan grows with the product of the
        // reference counts over the rounds and runs out of memory.
        val round = (k: Int) =>
          s"""s$k AS (
             |  SELECT e.a, e.b, COUNT(*) AS support
             |  FROM e${k - 1} e
             |  JOIN (SELECT a AS v, b AS u FROM e${k - 1}
             |        UNION ALL SELECT b AS v, a AS u FROM e${k - 1}) n
             |    ON n.v = e.a AND n.u <> e.b
             |  JOIN e${k - 1} x ON x.a = LEAST(n.u, e.b)
             |                  AND x.b = GREATEST(n.u, e.b)
             |  GROUP BY e.a, e.b HAVING COUNT(*) >= 2),
             |e$k AS${if (k < 3) " MATERIALIZED" else ""} (SELECT a, b FROM s$k)""".stripMargin
        s"""WITH e0raw AS (
           |  SELECT c_nationkey AS src, s_nationkey AS dst
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  WHERE c_nationkey <> s_nationkey
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 150),
           |e0 AS MATERIALIZED (
           |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst)
           |      AS b
           |  FROM e0raw),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT a, b, CAST(support AS BIGINT) AS support
           |FROM s3 ORDER BY a, b""".stripMargin
      }),

    // Eccentricity / diameter decomposition of the heavy-trade backbone:
    // BFS from every node (6 fixed min-distance rounds over the
    // checkpointed ≤|V|² distance frame), eccentricity = max distance,
    // plus is-center (ecc = radius) and is-periphery (ecc = diameter)
    // flags from the two graph-level scalars — the APSP summary next to
    // the closeness/harmonic centralities.
    Q("graph_eccentricity",
      (s, dir) => {
        import s.implicits._
        val e0 = t(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
          .join(t(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
            $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer").select($"c_custkey", $"c_nationkey"),
            $"o_custkey" === $"c_custkey")
          .join(t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey"),
            $"l_suppkey" === $"s_suppkey")
          .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
          .agg(count(lit(1)).as("w"))
          .filter($"w" >= 150 && $"src" =!= $"dst")
          .select($"src", $"dst")
        val edges = e0.unionByName(
            e0.select($"dst".as("src"), $"src".as("dst")))
          .distinct().localCheckpoint()
        val nodes = edges.select($"src".as("node")).distinct()
          .localCheckpoint()
        val dist0 = nodes.select($"node".as("s"), $"node".as("v"),
          lit(0).as("d"))
        // Fixpoint early-exit — monotone BFS-distance argument (FixpointLoop
        // doc): bit-identical to the fixed 6 rounds, skips the no-op tail.
        val dist = graft.ops.FixpointLoop.iterate(dist0, 6,
          Seq(count(lit(1)), sum($"d".cast("long")))) { prev =>
          val nxt = prev.join(edges, $"v" === $"src")
            .select($"s", $"dst".as("v"), ($"d" + 1).as("d"))
          prev.unionByName(nxt)
            .groupBy($"s", $"v").agg(min($"d").as("d"))
            .localCheckpoint()
        }
        val ecc = dist.groupBy($"s".as("node"))
          .agg(count(lit(1)).as("n_reached"), max($"d").as("ecc"))
          .localCheckpoint()
        val bounds = ecc.agg(min($"ecc").as("radius"),
          max($"ecc").as("diameter"))
        ecc.crossJoin(broadcast(bounds))
          .select($"node", $"n_reached", $"ecc",
            ($"ecc" === $"radius").as("is_center"),
            ($"ecc" === $"diameter").as("is_periphery"))
          .orderBy($"node")
      },
      Some {
        // e0, edges and d0..d6 are MATERIALIZED (see graph_ktruss).
        val round = (k: Int) =>
          s"""d$k AS MATERIALIZED (
             |  SELECT s, v, MIN(d) AS d FROM (
             |    SELECT s, v, d FROM d${k - 1}
             |    UNION ALL
             |    SELECT p.s, e.dst AS v, p.d + 1 AS d
             |    FROM d${k - 1} p JOIN edges e ON e.src = p.v)
             |  GROUP BY 1, 2)""".stripMargin
        s"""WITH e0 AS MATERIALIZED (
           |  SELECT c_nationkey AS src, s_nationkey AS dst
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  WHERE c_nationkey <> s_nationkey
           |  GROUP BY 1, 2 HAVING COUNT(*) >= 150),
           |edges AS MATERIALIZED (SELECT src, dst FROM e0
           |          UNION SELECT dst, src FROM e0),
           |d0 AS MATERIALIZED (SELECT DISTINCT src AS s, src AS v, 0 AS d FROM edges),
           |${round(1)},
           |${round(2)},
           |${round(3)},
           |${round(4)},
           |${round(5)},
           |${round(6)},
           |ecc AS (
           |  SELECT s AS node, COUNT(*) AS n_reached,
           |    CAST(MAX(d) AS INTEGER) AS ecc
           |  FROM d6 GROUP BY s),
           |bounds AS (SELECT MIN(ecc) AS radius, MAX(ecc) AS diameter
           |  FROM ecc)
           |SELECT node, n_reached, ecc,
           |  ecc = radius AS is_center,
           |  ecc = diameter AS is_periphery
           |FROM ecc, bounds ORDER BY node""".stripMargin
      }),

    // Chao1 species-richness + Good–Turing coverage over the corpus
    // 3-gram shingle population: S_obs observed species, f₁ singletons,
    // f₂ doubletons, Chao1 = S + f₁²/(2f₂) (how many shingles a bigger
    // crawl would reveal), coverage = 1 − f₁/N (how much of the
    // population the sample already saw) — the dedup-planning question
    // "is the corpus saturated" asked properly. Two grouped passes, all
    // integer until the final ratios.
    Q("stats_chao1_richness",
      (s, dir) => {
        import s.implicits._
        import graft.llm.TextFunctions
        val sh = t(s, dir, "documents")
          .select(TextFunctions.tokens($"text").as("tk"))
          .select(explode(TextFunctions.ngrams($"tk", 3)).as("shingle"))
        val counts = sh.groupBy($"shingle").agg(count(lit(1)).as("c"))
        counts.agg(count(lit(1)).cast("long").as("s_obs"),
            sum($"c").cast("long").as("n_shingles"),
            sum(when($"c" === 1, 1L).otherwise(0L)).cast("long").as("f1"),
            sum(when($"c" === 2, 1L).otherwise(0L)).cast("long").as("f2"))
          .select($"s_obs", $"n_shingles", $"f1", $"f2",
            round($"s_obs" + ($"f1" * $"f1").cast("double") /
              (lit(2.0d) * $"f2"), 6).as("chao1"),
            round(lit(1.0d) - $"f1".cast("double") / $"n_shingles", 6)
              .as("coverage"))
      },
      Some(s"""WITH toks AS (
             |  SELECT ${Llm.duckToks("text")} AS tk FROM documents),
             |shing AS (
             |  SELECT unnest(CASE WHEN len(tk) >= 3
             |    THEN list_transform(range(1, len(tk) - 1),
             |           i -> array_to_string(tk[i:i+2], ' '))
             |    ELSE [] END) AS shingle
             |  FROM toks),
             |counts AS (SELECT shingle, COUNT(*) AS c FROM shing
             |  GROUP BY shingle),
             |s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
             |    CAST(SUM(c) AS BIGINT) AS n_shingles,
             |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS f1,
             |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS f2
             |  FROM counts)
             |SELECT s_obs, n_shingles, f1, f2,
             |  round(s_obs + CAST(f1 * f1 AS DOUBLE) / (2.0 * f2), 6)
             |    AS chao1,
             |  round(1.0 - CAST(f1 AS DOUBLE) / n_shingles, 6)
             |    AS coverage
             |FROM s""".stripMargin))
  )
}
