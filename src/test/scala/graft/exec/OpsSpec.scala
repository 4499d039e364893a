package graft.exec

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** The built-in op table: one YAML case for each op no other suite runs, the
  * guarantees of declaring each op's parameters once (defaults visible to
  * dryrun, filled for discovered `spark-op:` tasks, undeclared inputs warned,
  * unknown op names failing fast), and a guard that every op in the table has
  * a coverage case. */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def tmp(): String = Files.createTempDirectory("graft-ops").toString

  /** Run `commands` (YAML list items) as a job; returns the log lines. */
  private def run(data: String, commands: String, dryrun: Boolean = false,
      tasks: Option[String] = None): List[String] = {
    val buf = scala.collection.mutable.ListBuffer[String]()
    val job = Yaml.jobFromString(
      s"""name: ops
         |data: $data
         |${tasks.fold("")(t => s"tasks: [$t]")}
         |commands:
         |$commands""".stripMargin)
    new JobRunner(spark, new ContextLogger(buf += _, style = "minimal", timestamps = false))
      .execute(job, dryrun = dryrun)
    buf.toList
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("read-csv, read-json and read-text load their formats; SCHEMA replaces inference") {
    val data = tmp()
    Files.writeString(Paths.get(s"$data/a.csv"), "k,v\n1,x\n2,y\n")
    Files.writeString(Paths.get(s"$data/b.csv"), "3;z\n4;w\n")
    Files.writeString(Paths.get(s"$data/c.json"),
      "{\"k\": 5, \"v\": \"p\"}\n{\"k\": 6, \"v\": \"q\"}\n")
    Files.writeString(Paths.get(s"$data/d.txt"), "one\ntwo\nthree\n")
    run(data,
      s"""  - task: read-csv
         |    env: {path: $data/a.csv, output: rc_default}
         |  - task: read-csv
         |    env:
         |      path: $data/b.csv
         |      header: "false"
         |      delimiter: ";"
         |      schema: "n INT, s STRING"
         |      output: rc_schema
         |  - task: read-json
         |    env: {path: $data/c.json, output: rj}
         |  - task: read-json
         |    env: {path: $data/c.json, schema: "v STRING", output: rj_schema}
         |  - task: read-text
         |    env: {path: $data/d.txt, output: rt}
         |""".stripMargin)
    val csv = spark.table("rc_default")
    assert(csv.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("k" -> "int", "v" -> "string"))
    assert(rows(csv) == Seq("1|x", "2|y"))
    val typed = spark.table("rc_schema")
    assert(typed.columns.toSeq == Seq("n", "s") && rows(typed) == Seq("3|z", "4|w"))
    assert(spark.table("rj").columns.toSeq == Seq("k", "v"))
    assert(rows(spark.table("rj")) == Seq("5|p", "6|q"))
    assert(rows(spark.table("rj_schema")) == Seq("p", "q"))
    assert(rows(spark.table("rt")) == Seq("one", "three", "two"))
  }

  test("write-csv writes a header row and logs the observed row count") {
    val data = tmp()
    val log = run(data,
      s"""  - task: read-parquet
         |    env: {path: $sf/region.parquet, output: wc_regions}
         |  - task: write-csv
         |    env: {input: wc_regions, path: $data/regions}
         |""".stripMargin)
    assert(log.contains(s"wrote 5 rows -> $data/regions"), log.mkString("\n"))
    val back = spark.read.option("header", "true").csv(s"$data/regions")
    assert(back.columns.toSeq == spark.table("wc_regions").columns.toSeq)
    assert(rows(back) == rows(spark.table("wc_regions").select(
      spark.table("wc_regions").columns.map(c => col(c).cast("string")).toSeq: _*)))
  }

  test("show prints LIMIT rows of its input, untruncated") {
    val data = tmp()
    val printed = run(data,
      s"""  - task: sql
         |    env:
         |      query: SELECT id, repeat('w', 30) AS wide FROM range(5) ORDER BY id
         |      output: sh_in
         |  - task: show
         |    env: {input: sh_in, limit: 2}
         |""".stripMargin)
    assert(printed.count(_.startsWith("|")) == 3, printed.mkString("\n")) // header + 2 rows
    assert(printed.exists(_.contains("w" * 30)))
    assert(printed.exists(_.contains("only showing top 2 rows")))
  }

  test("select, text-quality and dedup-exact: features, keep-first per key, projection") {
    val data = tmp()
    run(data,
      s"""  - task: read-parquet
         |    env: {path: $sf/documents.parquet, output: tq_docs}
         |  - task: text-quality
         |    env: {input: tq_docs, output: tq_feat}
         |  - task: dedup-exact
         |    env: {input: tq_feat, keys: "lang", order: "doc_id", output: tq_first}
         |  - task: dedup-exact
         |    env: {input: tq_feat, keys: "lang, source", output: tq_bykey}
         |  - task: select
         |    env: {input: tq_first, columns: "doc_id, lang, n_tokens + 1 AS n1", output: tq_out}
         |""".stripMargin)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val feat = spark.table("tq_feat")
    assert(feat.columns.toSeq == docs.columns.toSeq ++ Seq("text_len", "n_tokens",
      "n_bpeish", "whitespace_ratio", "digit_ratio", "punct_ratio", "lang_pred"))
    assert(feat.count() == docs.count())
    assert(feat.filter(col("text_len") =!= length(col("text"))).isEmpty)
    // keep-first: the lowest doc_id of each lang
    val firsts = docs.groupBy("lang").agg(min("doc_id").as("doc_id"))
    assert(rows(spark.table("tq_first").select("lang", "doc_id")) ==
      rows(firsts.select("lang", "doc_id")))
    assert(spark.table("tq_bykey").count() == docs.select("lang", "source").distinct().count())
    val out = spark.table("tq_out")
    assert(out.columns.toSeq == Seq("doc_id", "lang", "n1"))
    assert(out.join(feat.select("doc_id", "n_tokens"), "doc_id")
      .filter(col("n1") =!= col("n_tokens") + 1).isEmpty)
  }

  test("dryrun lists each op's declared defaults") {
    val data = tmp()
    val log = run(data,
      """  - task: minhash-dedup
        |    env: {input: docs, output: kept}
        |""".stripMargin, dryrun = true)
    assert(log.contains("  env: {BAND_SIZE=3, ID_COL=doc_id, INPUT=docs, " +
      "MIN_JACCARD=0.8, NUM_HASHES=12, OUTPUT=kept, TEXT_COL=text}"), log.mkString("\n"))
  }

  test("a discovered spark-op task whose schema omits NUM_HASHES runs with the op's defaults") {
    val data = tmp()
    val tasks = tmp()
    Files.createDirectories(Paths.get(s"$tasks/near-dups"))
    Files.writeString(Paths.get(s"$tasks/near-dups/manifest.yml"),
      """name: near-dups
        |spark-op: minhash-dedup
        |env:
        |  INPUT: {type: str}
        |  OUTPUT: {type: str}
        |""".stripMargin)
    run(data,
      s"""  - task: read-parquet
         |    env: {path: $sf/documents.parquet, output: nd_docs}
         |  - task: near-dups
         |    env: {input: nd_docs, output: nd_discovered}
         |  - task: minhash-dedup
         |    env: {input: nd_docs, output: nd_builtin}
         |""".stripMargin, tasks = Some(tasks))
    def ids(v: String) = spark.table(v).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids("nd_discovered") == ids("nd_builtin"))
    assert(ids("nd_builtin").size < spark.table("nd_docs").count()) // near-dups removed
  }

  test("media-frames declares no TARGET_BYTES: target-bytes warns as an unknown input") {
    val data = tmp()
    val log = run(data,
      """  - task: media-frames
        |    env: {input: docs, target-bytes: 4096, output: frames}
        |""".stripMargin, dryrun = true)
    assert(log.contains("WARNING: unknown input 'TARGET_BYTES' for task 'media-frames'"),
      log.mkString("\n"))
  }

  test("an unknown spark-op fails fast: no command runs and nothing is written") {
    val data = tmp()
    val tasks = tmp()
    Files.createDirectories(Paths.get(s"$tasks/ghost"))
    Files.writeString(Paths.get(s"$tasks/ghost/manifest.yml"),
      "name: ghost\nspark-op: no-such-op\n")
    spark.range(3).createOrReplaceTempView("ff_src")
    val e = intercept[SpecError](run(data,
      s"""  - task: write-parquet
         |    env: {input: ff_src, path: $data/out}
         |  - task: ghost
         |""".stripMargin, tasks = Some(tasks)))
    assert(e.getMessage.contains("unknown spark-op 'no-such-op' in task 'ghost'"))
    assert(!Files.exists(Paths.get(s"$data/out")))
  }

  test("every op in the table has a YAML coverage case in the tests") {
    val root = Paths.get(sys.props("user.dir"), "src", "test", "scala")
    assert(Files.isDirectory(root), s"test sources not found at $root")
    val text = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).map(Files.readString).mkString("\n")
    val covered = raw"task:\s*([a-z0-9-]+)".r.findAllMatchIn(text).map(_.group(1)).toSet
    val missing = Ops.builtins.keySet.diff(covered)
    assert(missing.isEmpty, s"ops with no `task: <op>` case under $root: " +
      missing.toSeq.sorted.mkString(", "))
  }
}
