package graft.exec

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.spec.EnvValue
import graft.tools.PlanLint

/** A cost budget for every built-in op: on a fixed input, the Spark jobs it
  * fires (the op itself, then one digest of the view it publishes) and the
  * exchanges it runs ([[PlanLint.exchanges]] over the published view's final
  * plan and the plans the op executed). Both are pinned exactly in
  * `src/test/resources/op-budgets.txt`, PlanLint's anti-rot rule: a missing,
  * stale or extra line fails, as does any count that moved either way. */
class OpsBudgetSpec extends AnyFunSuite {

  // a session of its own: a conf another suite set on the shared one (a
  // broadcast threshold, AQE) must not move the counts
  private lazy val spark = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate().newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  private val sf = "/root/testdata/sf0.001"
  private val BudgetPath = Paths.get(sys.props("user.dir"), "src", "test", "resources",
    "op-budgets.txt")

  /** Each op's one measured command, by op name. Input views (`ob_*`) are
    * registered before any op runs; paths point into a fresh directory. */
  private def commands(data: String): Seq[(String, Map[String, String])] = Seq(
    "read-parquet" -> Map("PATH" -> s"$data/docs.parquet", "OUTPUT" -> "ob_read_parquet"),
    "read-csv" -> Map("PATH" -> s"$data/a.csv", "OUTPUT" -> "ob_read_csv"),
    "read-json" -> Map("PATH" -> s"$data/b.json", "OUTPUT" -> "ob_read_json"),
    "read-text" -> Map("PATH" -> s"$data/c.txt", "OUTPUT" -> "ob_read_text"),
    "filter" -> Map("INPUT" -> "ob_orders", "PREDICATE" -> "o_totalprice > 100000",
      "OUTPUT" -> "ob_filter"),
    "select" -> Map("INPUT" -> "ob_orders", "COLUMNS" -> "o_orderkey, o_totalprice * 2 AS p2",
      "OUTPUT" -> "ob_select"),
    "sql" -> Map("QUERY" ->
      "SELECT o_custkey, count(*) AS n FROM ob_orders GROUP BY o_custkey ORDER BY o_custkey",
      "OUTPUT" -> "ob_sql"),
    "write-parquet" -> Map("INPUT" -> "ob_orders", "PATH" -> s"$data/w_parquet"),
    "write-csv" -> Map("INPUT" -> "ob_orders", "PATH" -> s"$data/w_csv"),
    "show" -> Map("INPUT" -> "ob_orders", "LIMIT" -> "5"),
    "text-quality" -> Map("INPUT" -> "ob_docs", "OUTPUT" -> "ob_text_quality"),
    "dedup-exact" -> Map("INPUT" -> "ob_docs", "KEYS" -> "lang", "ORDER" -> "doc_id",
      "OUTPUT" -> "ob_dedup_exact"),
    "minhash-dedup" -> Map("INPUT" -> "ob_docs", "OUTPUT" -> "ob_minhash_dedup"),
    "similarity-topk" -> Map("INPUT" -> "ob_vecs", "K" -> "3", "OUTPUT" -> "ob_similarity_topk"),
    "asof-join" -> Map("LEFT" -> "ob_orders", "RIGHT" -> "ob_right",
      "LEFT_KEY" -> "o_custkey", "RIGHT_KEY" -> "rk", "LEFT_TIME" -> "o_orderdate",
      "RIGHT_TIME" -> "rt", "RIGHT_TIE" -> "r_order", "OUTPUT" -> "ob_asof_join"),
    "media-frames" -> Map("INPUT" -> "ob_docs", "EVERY_K" -> "2", "OUTPUT" -> "ob_media_frames"),
    "profile" -> Map("INPUT" -> "ob_orders", "COLUMNS" -> "o_orderstatus, o_custkey",
      "OUTPUT" -> "ob_profile"),
    "dq-check" -> Map("INPUT" -> "ob_orders", "RULES" -> "unique:o_orderkey, not_null:o_custkey",
      "OUTPUT" -> "ob_dq_check"),
    "run-job" -> Map("PATH" -> s"$data/inner.yml"))

  /** The fixed inputs: sf0.001 tables as views, and small files to read. */
  private def seed(): String = {
    val data = Files.createTempDirectory("graft-op-budget").toString
    val orders = graft.Tables(spark, sf, "orders")
    orders.createOrReplaceTempView("ob_orders")
    orders.selectExpr("o_custkey AS rk", "o_orderkey AS r_order", "o_orderdate AS rt")
      .createOrReplaceTempView("ob_right")
    graft.Tables(spark, sf, "documents").createOrReplaceTempView("ob_docs")
    graft.Tables(spark, sf, "embeddings").createOrReplaceTempView("ob_vecs")
    Files.copy(Paths.get(s"$sf/documents.parquet"), Paths.get(s"$data/docs.parquet"))
    Files.writeString(Paths.get(s"$data/a.csv"), "k,v\n1,x\n2,y\n3,z\n")
    Files.writeString(Paths.get(s"$data/b.json"), "{\"k\": 1, \"v\": \"p\"}\n{\"k\": 2, \"v\": \"q\"}\n")
    Files.writeString(Paths.get(s"$data/c.txt"), "one\ntwo\nthree\n")
    Files.createDirectories(Paths.get(s"$data/inner"))
    Files.writeString(Paths.get(s"$data/inner.yml"),
      s"""name: inner
         |data: $data/inner
         |commands:
         |  - task: sql
         |    env: {query: "SELECT n_regionkey, count(*) AS n FROM ob_nation GROUP BY n_regionkey", output: ob_inner}
         |  - task: write-parquet
         |    env: {input: ob_inner, path: $data/inner/out}
         |""".stripMargin)
    graft.Tables(spark, sf, "nation").createOrReplaceTempView("ob_nation")
    data
  }

  /** (jobs, exchanges) of one op command. */
  private def measure(op: String, env: Map[String, String], data: String): (Int, Int) = {
    val ctx = new JobContext(spark, data, new ContextLogger(_ => ()))
    val built = PlanLint.capture(spark)(
      Ops.builtins(op)(ctx, env.map { case (k, v) => k -> EnvValue(v) }))
    val out = env.get("OUTPUT").map(spark.table)
    val digest = out.fold(0)(df => PlanLint.capture(spark)(graft.Harness.consume(df)).jobs)
    val finalPlan = out.fold("")(_.queryExecution.executedPlan.toString)
    (built.jobs + digest, PlanLint.exchanges(finalPlan, built.plans))
  }

  test("every built-in op runs within its committed jobs and exchanges budget") {
    val data = seed()
    val cases = commands(data)
    assert(cases.map(_._1).toSet == Ops.builtins.keySet,
      "one measured command per op in Ops.builtins")
    val actual = cases.map { case (op, env) =>
      val (jobs, exchanges) = measure(op, env, data)
      s"$op $jobs $exchanges"
    }.sorted
    val committed = Files.readAllLines(BudgetPath).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    assert(committed == actual,
      s"\n$BudgetPath (op jobs exchanges) differs from this run; if the change is " +
        "intended, commit these lines and justify the diff:\n" + actual.mkString("\n"))
  }
}
