package graft.queries

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `QueryDSL.spread` adds its exchange only over a scan with few files, and it
  * is the one place in `graft.queries` that decides to spread a scan. */
class QueryDSLSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The sf0.001 tables (one parquet file each) PlanLint's shuffle budget is
    * recorded at. */
  private lazy val sf = graft.tools.PlanLint.shuffleBudget()._1

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("spread plans one exchange over a one-file scan and none over a many-file copy") {
    val para = spark.sparkContext.defaultParallelism
    assert(sf.endsWith("sf0.001"), sf)
    def project(li: DataFrame) = li.select(col("l_orderkey"), col("l_extendedprice"))
    val oneFile = project(QueryDSL.t(spark, sf, "lineitem"))
    assert(oneFile.inputFiles.length == 1)
    val tmp = Files.createTempDirectory("graft-spread")
    try {
      val copy = tmp.resolve("lineitem").toString
      QueryDSL.t(spark, sf, "lineitem").repartition(para).write.parquet(copy)
      val manyFiles = project(spark.read.parquet(copy))
      assert(manyFiles.inputFiles.length >= para)

      val hashed = exchanges(QueryDSL.spread(oneFile, col("l_extendedprice")))
      assert(hashed.size == 1, hashed)
      assert(hashed.head.outputPartitioning match {
        case h: HashPartitioning => h.numPartitions == para
        case _ => false
      }, hashed)
      val roundRobin = exchanges(QueryDSL.spread(oneFile))
      assert(roundRobin.map(_.outputPartitioning) == Seq(RoundRobinPartitioning(para)),
        roundRobin)
      assert(exchanges(QueryDSL.spread(manyFiles, col("l_extendedprice"))).isEmpty)
      assert(exchanges(QueryDSL.spread(manyFiles)).isEmpty)

      val expected = rows(oneFile)
      Seq(QueryDSL.spread(oneFile, col("l_extendedprice")), QueryDSL.spread(oneFile),
        QueryDSL.spread(manyFiles, col("l_extendedprice")), QueryDSL.spread(manyFiles))
        .foreach(df => assert(rows(df) == expected))
    } finally Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  /** The explicit repartitions that stay, by query, each with why `spread` does
    * not fit it. Exact both ways, like the shuffle budget: a site missing from
    * this list fails, and so does a listed site that is gone. */
  private val keptSites: Map[String, String] = Map(
    "sim_silhouette_eval" ->
      "small subset (vec_id < 150) before a 150² cross: on a multi-file table those rows sit in a few files",
    "dedup_minhash_eval" ->
      "small subset (doc_id < 150) before the shingle self-join: on a multi-file table those rows sit in a few files",
    "dedup_incremental_store_update" ->
      "the batch is hash-partitioned by doc_id; the per-doc shingle-count groupBy reuses it",
    "text_ngram_novelty" ->
      "the persisted shingle frame is hash-partitioned by shingle; its groupBy and both join sides reuse it",
    "text_rouge_ngram" ->
      "the persisted tokens are hash-partitioned by doc_id; the bigram window and doc-keyed groupBys reuse it",
    "text_bleu_ngram" ->
      "the persisted tokens are hash-partitioned by doc_id; the bigram window and doc-keyed groupBys reuse it",
    "agg_basket_assoc_rules" ->
      "the groupBy reuses the l_orderkey partitioning, and the checkpoint lands at defaultParallelism partitions",
    "graph_copurchase_projection" ->
      "the groupBy reuses the l_orderkey partitioning, so the pair explode runs at defaultParallelism partitions",
    "agg_spearman_corr" ->
      "the band-count groupBy and the rank window reuse the (flag, band) partitioning",
    "stats_anderson_darling_uniform" ->
      "bandedRowNumber's bandPartitions sizes the band window against AQE coalescing, not a file layout")

  test("only QueryDSL.spread names defaultParallelism in graft.queries, apart from the kept sites") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala", "graft", "queries")
    assert(Files.isDirectory(root), s"query sources not found at $root")
    val query = raw"""\bQ\("([^"]+)"""".r
    val sites = Files.list(root).iterator().asScala.toList
      .filter(f => f.toString.endsWith(".scala") && !f.endsWith("QueryDSL.scala"))
      .sortBy(_.toString)
      .flatMap { f =>
        var current = "<outside any Q>"
        Files.readAllLines(f).asScala.toList.flatMap { line =>
          query.findFirstMatchIn(line).foreach(m => current = m.group(1))
          if (line.contains(".defaultParallelism")) Some(current) else None
        }
      }
    val unlisted = sites.filterNot(keptSites.contains)
    assert(unlisted.isEmpty, s"spread the scan with QueryDSL.spread instead: $unlisted")
    val stale = keptSites.keySet -- sites
    assert(stale.isEmpty, s"kept sites that no longer exist: $stale")
    assert(sites.size == keptSites.size, s"one site per kept query: $sites")
  }
}
