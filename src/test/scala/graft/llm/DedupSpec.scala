package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.ArrayType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.MinHashBands

/** Dedup building blocks. The dfCap test is the scale guard for the
  * incremental-dedup corpus store: boilerplate shingles (appearing in more than
  * τ docs) must be pruned BEFORE any shingle equi-join, or a single hot key
  * fans the join out quadratically at corpus scale. */
class DedupSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("dfCap prunes boilerplate shingles but keeps rare ones") {
    import spark.implicits._
    // 20 docs sharing one license banner (boilerplate: df=20) plus one
    // distinctive sentence each (df=1 shingles)
    val banner = "licensed under the apache license version two point zero"
    val docs = (0 until 20)
      .map(i => (i.toLong, s"$banner document number $i talks about topic $i"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleFrame(docs, "doc_id", "text")
    val capped = Dedup.dfCap(sh, tau = 5L)
    val bannerShingle = "licensed under the"
    assert(sh.filter($"shingle" === bannerShingle).count() == 20)
    // every banner-only shingle (df=20 > 5) is gone...
    assert(capped.filter($"shingle" === bannerShingle).count() == 0)
    assert(capped.filter($"shingle" === "under the apache").count() == 0)
    // ...while per-doc distinctive shingles (df=1) survive for every doc
    assert(capped.filter($"shingle" === "about topic 7").count() == 1)
    assert(capped.select($"doc_id").distinct().count() == 20)
    // the cap is a pure filter: kept rows are a subset of the input
    assert(capped.count() < sh.count())
    assert(capped.join(sh, Seq("doc_id", "shingle"), "left_anti").count() == 0)
  }

  test("lshCandidates maxBucket drops oversized buckets, keeps the rest") {
    import spark.implicits._
    // 12 exact copies of one text (a 12-member bucket in EVERY band) plus two
    // near-identical outliers that pair only with each other
    val docs = ((0 until 12).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta")) ++
      Seq((100L, "one two three four five six seven eight nine"),
        (101L, "one two three four five six seven eight nine")))
      .toDF("doc_id", "text")
    val sets = Dedup.shingleSets(docs, "doc_id", "text")
    val plain = Dedup.lshCandidates(sets, "doc_id", 8, 2)
    val capped = Dedup.lshCandidates(sets, "doc_id", 8, 2, maxBucket = Some(5))
    // uncapped: the 12-clone group alone yields C(12,2)=66 pairs
    assert(plain.count() >= 66 + 1)
    assert(plain.filter($"id1" === 100 && $"id2" === 101).count() == 1)
    // capped: the hot bucket's 66 pairs are gone, the small pair survives
    val cap = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cap.contains((100L, 101L)))
    assert(!cap.exists { case (a, b) => a < 12 && b < 12 })
    // the cap only removes pairs — never invents them
    assert(capped.join(plain, Seq("id1", "id2"), "left_anti").count() == 0)
  }

  test("CappedCollect.long: complete below the limit, truncated at it") {
    import spark.implicits._
    // 3 groups over 8 input partitions so partial-merge paths are exercised:
    // g=0 has 4 members (< limit ⇒ complete set), g=1 has 12 (⇒ exactly
    // `limit` survive), g=2 has 1
    val df = ((0 until 4).map(i => (0L, i.toLong)) ++
      (0 until 12).map(i => (1L, 100L + i)) ++ Seq((2L, 7L)))
      .toDF("g", "v").repartition(8)
    val got = df.groupBy($"g")
      .agg(graft.functions.CappedCollect.long($"v", 5).as("ms"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(got(0L).toSet == (0 until 4).map(_.toLong).toSet)
    assert(got(1L).length == 5 &&
      got(1L).forall(v => v >= 100L && v < 112L))
    assert(got(2L) == Seq(7L))
  }

  test("dfCap at tau >= max df is the identity") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleFrame(docs, "doc_id", "text")
    assert(Dedup.dfCap(sh, tau = 2L).count() == sh.count())
  }

  /** The sf0.001 tables, from the table in TESTDATA.md. */
  private lazy val sf001 = {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("TESTDATA.md")), "UTF-8")
    """(?m)^\|\s*0\.001\s*\|\s*`([^`]+)`""".r.findFirstMatchIn(doc)
      .map(_.group(1).stripSuffix("/")).getOrElse(fail("no sf0.001 row in TESTDATA.md"))
  }

  private def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  private def env(kv: (String, String)*) =
    kv.toMap.map { case (k, v) => k -> graft.spec.EnvValue(v) }

  /** The ids the `minhash-dedup` op drops from `docs`. */
  private def opVictims(docs: DataFrame, numHashes: Int, bandSize: Int,
      minJaccard: Double): Set[Long] = {
    docs.createOrReplaceTempView("op_docs")
    graft.exec.Ops.builtins("minhash-dedup")(new graft.exec.JobContext(spark, "."),
      env("INPUT" -> "op_docs", "OUTPUT" -> "op_out", "NUM_HASHES" -> numHashes.toString,
        "BAND_SIZE" -> bandSize.toString, "MIN_JACCARD" -> minJaccard.toString))
    ids(docs.select("doc_id")) -- ids(spark.table("op_out").select("doc_id"))
  }

  /** Exact dups, near-dups at Jaccard 9/11, exactly 8/10 and 7/9, non-ASCII, and
    * documents with no shingle: null text, "" and under 3 tokens. */
  private def edgeDocs = {
    import spark.implicits._
    // a one-token change to an n-token text leaves n-3 of its n-2 shingles:
    // Jaccard (n-3)/(n-1) — 9/11 above 0.8, 8/10 exactly at it, 7/9 below
    def text(p: String, n: Int, last: String) =
      ((0 until n - 1).map(i => s"$p$i") :+ last).mkString(" ")
    Seq[(Long, String)](
      (1L, null), (2L, ""), (3L, "two words"), (4L, "two words"),
      (10L, "the same text five times"), (11L, "The same text, five times!"),
      (20L, text("a", 12, "x")), (21L, text("a", 12, "y")),
      (30L, text("b", 11, "x")), (31L, text("b", 11, "y")),
      (40L, text("c", 10, "x").toUpperCase), (41L, text("c", 10, "y")),
      (50L, "naïve café über straße 東京 タワー größe"),
      (51L, "Naïve café über straße 東京 タワー größe"),
      (52L, "naïve café über strasse 東京 タワー größe"))
      .toDF("doc_id", "text")
  }

  test("minhash-dedup op and lshCandidates equal the exploded SQL on sf0.001 documents") {
    val docs = graft.Tables.documents(spark, sf001).select("doc_id", "text")
    docs.createOrReplaceTempView("sf_docs")
    val sets = Dedup.shingleSets(docs, "doc_id", "text")
    for ((nh, bs, mj) <- Seq((12, 3, 0.8), (12, 3, 0.0), (8, 2, 0.5))) {
      val got = opVictims(docs, nh, bs, mj)
      val want = ids(spark.sql(DedupSql.victims("sf_docs", nh, bs, mj)))
      assert(got == want, s"($nh, $bs, $mj)")
      if (mj == 0.0) assert(want.nonEmpty) // the bands do find candidates here
      val cands = Dedup.lshCandidates(sets, "doc_id", nh, bs)
      val wantCands = spark.sql(DedupSql.candidates("sf_docs", nh, bs))
      assert(cands.exceptAll(wantCands).isEmpty && wantCands.exceptAll(cands).isEmpty,
        s"candidates ($nh, $bs)")
    }
  }

  test("minhash-dedup op equals the exploded SQL on edge-case documents") {
    val docs = edgeDocs
    docs.createOrReplaceTempView("edge_docs")
    val got = opVictims(docs, 12, 3, 0.8)
    assert(got == ids(spark.sql(DedupSql.victims("edge_docs", 12, 3, 0.8))))
    // copies (case and punctuation fold away) and pairs at or above 0.8 lose
    // their higher id; short, empty and null texts and the 7/9 pair never pair
    assert(got == Set(11L, 21L, 31L, 51L), got)
  }

  test("pairJaccard equals the exploded SQL on arbitrary pairs, dropping set-less documents") {
    import spark.implicits._
    val docs = edgeDocs
    docs.createOrReplaceTempView("pj_docs")
    val all = docs.select("doc_id").as[Long].collect().toSeq
    // about two thirds of the id1 < id2 pairs, the reversed pair (41, 40)
    // (its forward pair is left out) and a self pair
    val pairs = (for (a <- all; b <- all if a < b && (a + b) % 3 != 0) yield (a, b)) ++
      Seq((41L, 40L), (20L, 20L))
    val pf = pairs.toDF("id1", "id2").repartition(3)
    pf.createOrReplaceTempView("pj_pairs")
    val got = Dedup.pairJaccard(pf, Dedup.shingleSets(docs, "doc_id", "text"), "doc_id")
      .select("id1", "id2", "n_shared", "sz1", "sz2", "jaccard")
    val want = spark.sql(DedupSql.jaccard("pj_docs", "pj_pairs"))
    assert(got.schema.map(f => (f.name, f.dataType.simpleString)) == Seq("id1" -> "bigint",
      "id2" -> "bigint", "n_shared" -> "bigint", "sz1" -> "bigint", "sz2" -> "bigint",
      "jaccard" -> "double"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    val rows = got.as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // null, "" and under-3-token texts have no set: none of their pairs survive
    val setless = Set(1L, 2L, 3L, 4L)
    assert(rows.keys.forall { case (a, b) => !setless(a) && !setless(b) })
    assert(rows.size == pairs.count { case (a, b) => !setless(a) && !setless(b) })
    assert(rows((20L, 21L)) == ((20L, 21L, 9L, 10L, 10L, 9.0 / 11)))
    assert(rows((41L, 40L)) == ((41L, 40L, 7L, 8L, 8L, 7.0 / 9)))
    assert(rows((20L, 20L)) == ((20L, 20L, 10L, 10L, 10L, 1.0)))
  }

  test("minhash_bands equals the SQL min-of-affine-md5 formula") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = Seq("a", "b", "c", "x", "y", " ", "é", "ß", "東", "京", "😀")
    val sets = (0 until 300).map { i =>
      val n = if (i % 17 == 0) 0 else 1 + rnd.nextInt(9)
      (i.toLong, (0 until n).map(_ =>
        (0 to rnd.nextInt(6)).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString))
    } :+ ((999L, null.asInstanceOf[Seq[String]]))
    val df = sets.toDF("id", "sh").repartition(3)
    df.createOrReplaceTempView("mhb_sets")
    for ((nh, bs) <- Seq((12, 3), (8, 2), (7, 3), (1, 1))) {
      val nBands = nh / bs
      val mh = (0 until nh).map(i =>
        s"min(conv(substring(md5(s), 1, 7), 16, 10) + $i * " +
          s"conv(substring(md5(s), 8, 7), 16, 10)) AS mh$i").mkString(", ")
      val sig = (0 until nBands).map { b =>
        s"$b, concat_ws('|', ${(0 until bs).map(j => s"mh${b * bs + j}").mkString(", ")})"
      }.mkString(", ")
      val want = spark.sql(
        s"""SELECT id, stack($nBands, $sig) AS (band, sig) FROM (
           |  SELECT id, $mh FROM (SELECT id, explode(sh) AS s FROM mhb_sets)
           |  GROUP BY id)""".stripMargin)
      val got = df.select($"id", MinHashBands($"sh", nh, bs))
      assert(got.schema.map(_.name) == Seq("id", "band", "sig"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"($nh, $bs)")
      assert(got.count() == (sets.count(s => s._2 != null && s._2.nonEmpty) * nBands))
    }
  }

  test("minhash-dedup op plan: one signature pass per document, arrays shuffled by id") {
    // the 100 TB shape: no broadcast, every join is a shuffle join
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val docs = graft.Tables.documents(s, sf001).select("doc_id", "text")
    docs.createOrReplaceTempView("mhd_docs")
    val env = Map("INPUT" -> "mhd_docs", "OUTPUT" -> "mhd_out")
      .map { case (k, v) => k -> graft.spec.EnvValue(v) }
    graft.exec.Ops.builtins("minhash-dedup")(new graft.exec.JobContext(s, "."), env)
    def isSig(e: Expression) = e.exists(_.isInstanceOf[MinHashBands])
    def sigPasses(p: SparkPlan) = collect(p) {
      case g: GenerateExec if isSig(g.generator) => g
    }.size
    def shuffles(p: SparkPlan) = collect(p) { case e: ShuffleExchangeExec => e }

    // Planned (before AQE runs a stage): each of the band self-join's two scan
    // branches derives the signature once, as the Generate itself
    val planned = s.table("mhd_out").queryExecution.executedPlan
    assert(sigPasses(planned) == 2)
    assert(collect(planned) {
      case f: FilterExec if isSig(f.condition) => f
      case p: ProjectExec if p.projectList.exists(isSig) => p
    }.isEmpty)
    val parent = docs.join(s.sql(DedupSql.victims("mhd_docs", 12, 3, 0.8)), Seq("doc_id"),
      "left_anti")
    val n = shuffles(planned).size
    val n0 = shuffles(parent.queryExecution.executedPlan).size
    // adding a shuffle to the op fails here too
    assert(n <= 8 && n < n0, s"shuffle exchanges: op $n, exploded SQL $n0")

    // Executed: the second band branch and the id2 side of the verification
    // are reused exchanges, so the signature runs once per document and the
    // arrays cross two exchanges — the (id, array) frame and the id1-joined
    // candidates — each keyed by one document id
    val done = s.table("mhd_out")
    done.collect()
    val ran = done.queryExecution.executedPlan
    assert(sigPasses(ran) == 1)
    val arrayShuffles =
      shuffles(ran).filter(_.output.exists(_.dataType.isInstanceOf[ArrayType]))
    assert(arrayShuffles.size == 2 && arrayShuffles.forall(_.outputPartitioning match {
      case h: HashPartitioning => h.expressions.size == 1
      case _ => false
    }), arrayShuffles)
  }
}
