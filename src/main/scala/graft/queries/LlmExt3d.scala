package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes
import graft.llm.{Multimodal, TextFunctions => TF}
import QueryDSL._

/** Fourth-wave LLM/analytics operators, part 2 (split from LlmExt3 for
  * file-size hygiene — registration names unchanged): audio SNR gating,
  * balanced downsampling, Markov stationary distribution, hash-collision
  * audit, Kaplan-Meier survival, image histograms, sequence mining, FIR
  * resampling. Same determinism contract as LlmExt3. */
object LlmExt3d {

  private val dec12 = DataTypes.createDecimalType(30, 12)

  val queries: Seq[Q] = Seq(

    // Audio SNR gate — the speech-data quality filter next to the VAD: per
    // doc, compare mean active-frame energy to mean quiet-frame energy and
    // keep only records where the signal clears 16× the noise floor. The
    // compare is integer cross-multiplied (e_act·n_quiet > 16·e_quiet·n_act):
    // no float division anywhere, and an all-active record (no noise floor
    // observed) passes by convention. Same codec-stage frame reduction as
    // the VAD — one partition-wise pass then a per-doc agg.
    Q("multimodal_audio_snr_gate",
      (s, dir) => {
        import s.implicits._
        val frames = Multimodal.frameEnergies(s,
          Multimodal.syntheticGatedAudio(s,
            t(s, dir, "documents").filter($"doc_id" < 100)), frameLen = 160)
          .toDF()
        frames
          .withColumn("active", $"energy" > 28000000L)
          .groupBy($"doc_id")
          .agg(sum(when($"active", 1L).otherwise(0L)).as("n_active"),
            sum(when(!$"active", 1L).otherwise(0L)).as("n_quiet"),
            sum(when($"active", $"energy").otherwise(0L)).as("e_active"),
            sum(when(!$"active", $"energy").otherwise(0L)).as("e_quiet"))
          .select($"doc_id", $"n_active", $"n_quiet", $"e_active", $"e_quiet",
            (($"n_quiet" === 0 && $"n_active" > 0) ||
              $"e_active" * $"n_quiet" > lit(16L) * $"e_quiet" * $"n_active")
              .as("keep"))
          .orderBy($"doc_id")
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
             |       FROM v GROUP BY 1, 2)
             |SELECT doc_id,
             |  CAST(SUM(CASE WHEN energy > 28000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_active,
             |  CAST(SUM(CASE WHEN energy <= 28000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_quiet,
             |  CAST(SUM(CASE WHEN energy > 28000000 THEN energy ELSE 0 END)
             |    AS BIGINT) AS e_active,
             |  CAST(SUM(CASE WHEN energy <= 28000000 THEN energy ELSE 0 END)
             |    AS BIGINT) AS e_quiet,
             |  (SUM(CASE WHEN energy <= 28000000 THEN 1 ELSE 0 END) = 0
             |     AND SUM(CASE WHEN energy > 28000000 THEN 1 ELSE 0 END) > 0)
             |  OR (SUM(CASE WHEN energy > 28000000 THEN energy ELSE 0 END) *
             |      SUM(CASE WHEN energy <= 28000000 THEN 1 ELSE 0 END) >
             |      16 * SUM(CASE WHEN energy <= 28000000 THEN energy ELSE 0 END) *
             |      SUM(CASE WHEN energy > 28000000 THEN 1 ELSE 0 END)) AS keep
             |FROM fe GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Balanced class downsampling — equalize per-language doc counts to the
    // minority class (the classic class-balancing pass before training a
    // classifier): rank docs within each language by a deterministic md5
    // shuffle key and keep the first min-class-count of each. Windows
    // partition by language (parallel); the min class size joins as a
    // bounded scalar broadcast. The md5 order stands in for the RNG — same
    // no-RNG-state rule as every sampling query in the corpus.
    Q("sample_balanced_downsample",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select($"doc_id", $"lang")
        val minN = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
          .agg(min($"n").as("min_n"))
        docs
          .withColumn("rk", row_number().over(
            Window.partitionBy($"lang")
              .orderBy(md5($"doc_id".cast("string")), $"doc_id")))
          .crossJoin(broadcast(minN))
          .filter($"rk" <= $"min_n")
          .select($"lang", $"doc_id", $"rk".cast("long").as("rk"))
          .orderBy($"lang", $"rk")
      },
      Some("""WITH minn AS (
             |  SELECT MIN(n) AS min_n FROM (
             |    SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1)),
             |ranked AS (
             |  SELECT lang, doc_id,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             |  FROM documents)
             |SELECT lang, doc_id, rk FROM ranked
             |WHERE rk <= (SELECT min_n FROM minn)
             |ORDER BY lang, rk""".stripMargin)),

    // Stationary distribution of the event-type Markov chain (4 synchronous
    // power-iteration rounds over the transition matrix the
    // events_markov_transitions query estimates) — "where does user behavior
    // settle". Each round is π_j ← Σ_i π_i·(n_ij/n_i): the per-term double is
    // a pinned IEEE expression, and the cross-state sum goes through DECIMAL
    // (scale 12 — coarser than the ulp at |π|≤1, so the double→decimal cast
    // is engine-stable per the QueryDSL boundary rule) to stay partitioning-
    // independent. The K×K matrix is bounded (event-type vocabulary), so at
    // any corpus scale the iteration is K² work after one count shuffle.
    Q("events_markov_stationary",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val trans = graft.Tables.events(s, dir)
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("prev_type", lag($"event_type", 1).over(w))
          .filter($"prev_type".isNotNull)
          .groupBy($"prev_type".as("i"), $"event_type".as("j"))
          .agg(count(lit(1)).as("n_ij"))
        val rowTot = trans.groupBy($"i").agg(sum($"n_ij").as("n_i"))
        val p = trans.join(rowTot, "i").localCheckpoint()
        val k = p.select($"i").distinct().count()
        var pi = p.select($"i".as("state")).distinct()
          .withColumn("pi", lit(1.0d) / lit(k.toDouble))
        (1 to 4).foreach { _ =>
          pi = p.join(pi, $"i" === $"state")
            .withColumn("term", ($"pi" * $"n_ij".cast("double")) /
              $"n_i".cast("double"))
            .groupBy($"j".as("state2"))
            .agg(sum($"term".cast("decimal(30,12)")).cast("double").as("pi"))
            .select($"state2".as("state"), $"pi")
        }
        pi.orderBy($"state")
      },
      Some {
        val round = (r: Int) =>
          s"""pi$r AS (
             |  SELECT p.j AS state,
             |    CAST(SUM(CAST((q.pi * n_ij) / n_i AS DECIMAL(30,12)))
             |      AS DOUBLE) AS pi
             |  FROM p JOIN pi${r - 1} q ON q.state = p.i
             |  GROUP BY 1)""".stripMargin
        s"""WITH t AS (
           |  SELECT event_type,
           |    lag(event_type) OVER (PARTITION BY user_id
           |      ORDER BY ts, event_id) AS prev_type
           |  FROM events),
           |trans AS (
           |  SELECT prev_type AS i, event_type AS j, COUNT(*) AS n_ij
           |  FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
           |p AS (
           |  SELECT trans.i, trans.j, CAST(n_ij AS DOUBLE) AS n_ij,
           |    CAST(rt.n_i AS DOUBLE) AS n_i
           |  FROM trans JOIN (
           |    SELECT i, SUM(n_ij) AS n_i FROM trans GROUP BY 1) rt
           |    ON rt.i = trans.i),
           |kk AS (SELECT COUNT(DISTINCT i) AS k FROM p),
           |pi0 AS (
           |  SELECT DISTINCT i AS state,
           |    CAST(1 AS DOUBLE) / CAST((SELECT k FROM kk) AS DOUBLE) AS pi
           |  FROM p),
           |${(1 to 4).map(round).mkString(",\n")}
           |SELECT state, pi FROM pi4 ORDER BY state""".stripMargin
      }),

    // Feature-hash collision audit: how many distinct 3-shingle features
    // share each cell of a 256-bucket hash space, as a collision histogram
    // (k features/bucket → bucket count). The diagnostic every hashed-
    // feature pipeline runs before trusting bucket counts as feature
    // statistics. Shingles (not unigrams — the synthetic corpus has only ~31
    // distinct tokens, which would make the audit vacuous) give a feature
    // vocabulary ≫ the bucket space, so real collisions are guaranteed at
    // any SF. Two bounded aggs after the feature-vocabulary shuffle.
    Q("text_hash_collision_audit",
      (s, dir) => {
        import s.implicits._
        val vocab = graft.llm.Dedup.shingleFrame(
            t(s, dir, "documents"), "doc_id", "text")
          .select($"shingle").distinct()
        val perBucket = vocab
          .select((conv(substring(md5($"shingle"), 1, 12), 16, 10)
            .cast("long") % 256L).as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n_feats"))
        perBucket.groupBy($"n_feats".as("feats_in_bucket"))
          .agg(count(lit(1)).as("n_buckets"))
          .orderBy($"feats_in_bucket")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, list_filter(
              |    regexp_split_to_array(lower(text), '[^\\p{L}\\p{N}]+'),
              |    x -> x <> '') AS tk
              |  FROM documents),
              |vocab AS (
              |  SELECT DISTINCT unnest(CASE WHEN len(tk) >= 3
              |    THEN list_distinct(list_transform(range(1, len(tk) - 1),
              |           i -> array_to_string(tk[i:i+2], ' ')))
              |    ELSE [] END) AS shingle
              |  FROM toks),
              |pb AS (
              |  SELECT (${QueryDSL.sqlHexInt("md5(shingle)", 1, 12)}) % 256
              |      AS bucket,
              |    COUNT(*) AS n_feats
              |  FROM vocab GROUP BY 1)
              |SELECT n_feats AS feats_in_bucket, COUNT(*) AS n_buckets
              |FROM pb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Kaplan-Meier time-to-conversion WITH administrative right-censoring:
    // duration = days from a user's first event to their first 'purchase',
    // observed under a 3-day follow-up horizon — converts within horizon =
    // death at t, otherwise censored at day 3 (every user converts EVENTUALLY
    // in this corpus, so the horizon is what makes censoring real at every
    // SF). The KM estimate handles those censored users correctly, vs the
    // naive conversion rates already in EventsQ. Lifetimes reduce per-user;
    // the KM product runs over the BOUNDED duration frame (≤ horizon days)
    // via a typed single-group fold — the sanctioned aggregated-frame shape,
    // not a corpus-sized single-partition window. The survival recursion
    // multiplies pinned IEEE factors (n−d)/n in duration order; the oracle's
    // recursive CTE steps the same arithmetic (multiplying by an exact 1.0
    // on death-free rows, which is bit-identity).
    Q("events_survival_km",
      (s, dir) => {
        import s.implicits._
        val ev = graft.Tables.events(s, dir)
        val firsts = ev.groupBy($"user_id").agg(min($"ts").as("first_ts"))
        val conv = ev.filter($"event_type" === "purchase")
          .groupBy($"user_id").agg(min($"ts").as("p_ts"))
        val per = firsts.join(conv, Seq("user_id"), "left")
          .select($"user_id",
            datediff(to_date($"p_ts"), to_date($"first_ts")).as("t_p"))
          .select($"user_id",
            when($"t_p".isNotNull && $"t_p" <= 3, $"t_p").otherwise(lit(3))
              .as("dur"),
            (!($"t_p".isNotNull && $"t_p" <= 3)).as("censored"))
        val byDur = per.groupBy($"dur")
          .agg(count(lit(1)).as("n_total"),
            sum(when(!$"censored", 1L).otherwise(0L)).as("d"))
          .select($"dur".as[Int], $"n_total".as[Long], $"d".as[Long])
        byDur.groupByKey(_ => 0)
          .flatMapGroups { (_, it) =>
            val rows = it.toArray.sortBy(_._1)
            var atRisk = rows.map(_._2).sum
            var surv = 1.0d
            rows.iterator.flatMap { case (dur, nTotal, d) =>
              val nI = atRisk
              val factor =
                if (d > 0) (nI - d).toDouble / nI.toDouble else 1.0d
              surv = surv * factor
              atRisk -= nTotal
              if (d > 0) Iterator.single((dur.toLong, nI, d, surv))
              else Iterator.empty
            }
          }
          .toDF("duration_days", "n_at_risk", "n_deaths", "survival")
          .orderBy($"duration_days")
      },
      Some("""WITH RECURSIVE f AS (
             |  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
             |c AS (
             |  SELECT user_id, min(ts) AS p_ts FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |tp AS (
             |  SELECT f.user_id,
             |    date_diff('day', CAST(f.first_ts AS DATE),
             |      CAST(c.p_ts AS DATE)) AS t_p
             |  FROM f LEFT JOIN c USING (user_id)),
             |per AS (
             |  SELECT user_id,
             |    CASE WHEN t_p IS NOT NULL AND t_p <= 3 THEN t_p ELSE 3 END
             |      AS dur,
             |    NOT (t_p IS NOT NULL AND t_p <= 3) AS censored
             |  FROM tp),
             |byd AS (
             |  SELECT dur, COUNT(*) AS n_total,
             |    SUM(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS d
             |  FROM per GROUP BY 1),
             |ord AS (
             |  SELECT dur, n_total, d,
             |    row_number() OVER (ORDER BY dur) AS rn,
             |    (SELECT COUNT(*) FROM per) -
             |      COALESCE(CAST(SUM(n_total) OVER (ORDER BY dur
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) AS at_risk
             |  FROM byd),
             |km AS (
             |  SELECT dur, rn, at_risk, d,
             |    CASE WHEN d > 0
             |      THEN CAST(at_risk - d AS DOUBLE) / CAST(at_risk AS DOUBLE)
             |      ELSE CAST(1 AS DOUBLE) END AS s
             |  FROM ord WHERE rn = 1
             |  UNION ALL
             |  SELECT o.dur, o.rn, o.at_risk, o.d,
             |    km.s * (CASE WHEN o.d > 0
             |      THEN CAST(o.at_risk - o.d AS DOUBLE) /
             |        CAST(o.at_risk AS DOUBLE)
             |      ELSE CAST(1 AS DOUBLE) END)
             |  FROM km JOIN ord o ON o.rn = km.rn + 1)
             |SELECT CAST(dur AS BIGINT) AS duration_days,
             |  at_risk AS n_at_risk, CAST(d AS BIGINT) AS n_deaths,
             |  s AS survival
             |FROM km WHERE d > 0 ORDER BY dur""".stripMargin)),

    // Corpus pixel histogram (16 equal bins per channel) — the exposure/
    // clipping QA pass of an image pipeline. The decoder emits bounded
    // (channel, bin, cnt) partials per record; the corpus reduction is a
    // 48-cell bounded-state agg. Exact integer counts, formula-checked.
    Q("multimodal_image_histogram",
      (s, dir) => {
        import s.implicits._
        Multimodal.channelHistogram(s,
            Multimodal.syntheticImages(s,
              t(s, dir, "documents").filter($"doc_id" < 60)), bins = 16)
          .toDF("doc_id", "channel", "bin", "cnt")
          .groupBy($"channel", $"bin".cast("long").as("bin"))
          .agg(sum($"cnt").as("n_px"))
          .orderBy($"channel", $"bin")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
             |  FROM documents WHERE doc_id < 60),
             |xs AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
             |xy AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM xs),
             |px AS (SELECT doc_id * 31 + x * 7 + y * 13 AS base FROM xy),
             |vals AS (
             |  SELECT 'r' AS channel, (base % 256) // 16 AS bin FROM px
             |  UNION ALL SELECT 'g', ((base + 101) % 256) // 16 FROM px
             |  UNION ALL SELECT 'b', ((base + 202) % 256) // 16 FROM px)
             |SELECT channel, bin, COUNT(*) AS n_px
             |FROM vals GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Sequential pattern mining (PrefixSpan-lite): contiguous event-type
    // 2-grams and 3-grams per user's time-ordered stream, supported by the
    // number of DISTINCT users exhibiting each, kept at ≥ 50% user support.
    // The min-support threshold joins as a scalar cross and compares integer
    // cross-multiplied (2·support ≥ n_users — no float). Window lags per user
    // partition (parallel); candidate space is bounded by the event-type
    // vocabulary cubed, not the corpus.
    Q("events_sequence_mining",
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val seq = graft.Tables.events(s, dir)
          .select($"user_id", $"ts", $"event_id", $"event_type")
          .withColumn("n1", lead($"event_type", 1).over(w))
          .withColumn("n2", lead($"event_type", 2).over(w))
        val p2 = seq.filter($"n1".isNotNull)
          .select($"user_id",
            concat($"event_type", lit(">"), $"n1").as("pattern"),
            lit(2L).as("pattern_len"))
        val p3 = seq.filter($"n2".isNotNull)
          .select($"user_id",
            concat($"event_type", lit(">"), $"n1", lit(">"), $"n2")
              .as("pattern"),
            lit(3L).as("pattern_len"))
        val nUsers = graft.Tables.events(s, dir)
          .agg(countDistinct($"user_id").as("n_users"))
        p2.unionByName(p3)
          .groupBy($"pattern_len", $"pattern")
          .agg(countDistinct($"user_id").as("support"))
          .crossJoin(broadcast(nUsers))
          .filter($"support" * 2 >= $"n_users")
          .select($"pattern_len", $"pattern", $"support", $"n_users")
          .orderBy($"pattern_len", $"pattern")
      },
      Some("""WITH seq AS (
             |  SELECT user_id, event_type,
             |    lead(event_type, 1) OVER w AS n1,
             |    lead(event_type, 2) OVER w AS n2
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |pats AS (
             |  SELECT user_id, event_type || '>' || n1 AS pattern,
             |    2 AS pattern_len
             |  FROM seq WHERE n1 IS NOT NULL
             |  UNION ALL
             |  SELECT user_id, event_type || '>' || n1 || '>' || n2,
             |    3
             |  FROM seq WHERE n2 IS NOT NULL),
             |nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
             |sup AS (
             |  SELECT CAST(pattern_len AS BIGINT) AS pattern_len, pattern,
             |    COUNT(DISTINCT user_id) AS support
             |  FROM pats GROUP BY 1, 2)
             |SELECT s.pattern_len, s.pattern, s.support,
             |  CAST(nu.n_users AS BIGINT) AS n_users
             |FROM sup s CROSS JOIN nu
             |WHERE s.support * 2 >= nu.n_users
             |ORDER BY s.pattern_len, s.pattern""".stripMargin)),

    // Anti-aliased audio resample: 7-tap triangular FIR (integer taps,
    // truncating /16) then keep every 4th output — the PROPER downsample
    // next to multimodal_audio_decimate's naive sample-dropping. The whole
    // convolution stays in exact integer arithmetic inside the codec stage;
    // the oracle re-convolves from the sample formula with the same taps and
    // the same TRUNC division.
    Q("multimodal_audio_fir_resample",
      (s, dir) => {
        import s.implicits._
        Multimodal.extractAudioFeatures(s,
            Multimodal.firDecimateAudio(s,
              Multimodal.syntheticAudio(s,
                t(s, dir, "documents").filter($"doc_id" < 100)), k = 4))
          .toDF()
          .select($"doc_id", $"n_samples",
            $"sample_rate".cast("long").as("sample_rate"),
            $"sum_s", $"min_s".cast("long").as("min_s"),
            $"max_s".cast("long").as("max_s"), $"energy")
          .orderBy($"doc_id")
      },
      Some("""WITH dims AS (
             |  SELECT doc_id, 800 + (doc_id % 7) * 100 AS n,
             |         8000 + (doc_id % 3) * 4000 AS rate
             |  FROM documents WHERE doc_id < 100),
             |ms AS (SELECT doc_id, n, rate,
             |         unnest(range(0, (n - 7) // 4 + 1)) AS m FROM dims),
             |terms AS (
             |  SELECT doc_id, rate, m,
             |    list_value(1,2,3,4,3,2,1)[k + 1] *
             |      ((doc_id*37 + (m*4 + k)*13) % 2048 - 1024) AS term
             |  FROM ms, unnest(range(0, 7)) t(k)),
             |y AS (
             |  SELECT doc_id, rate, m, SUM(term) // 16 AS s
             |  FROM terms GROUP BY 1, 2, 3)
             |SELECT doc_id, COUNT(*) AS n_samples,
             |  ANY_VALUE(rate // 4) AS sample_rate,
             |  CAST(SUM(s) AS BIGINT) AS sum_s,
             |  CAST(MIN(s) AS BIGINT) AS min_s,
             |  CAST(MAX(s) AS BIGINT) AS max_s,
             |  CAST(SUM(s * s) AS BIGINT) AS energy
             |FROM y GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
