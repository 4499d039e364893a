package graft.exec

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.spec._

/** End-to-end job execution over the real engine (reference
  * tests/test_end_to_end.py): full pipeline, dryrun, skip, fail-fast validation,
  * command filter, subprocess exit codes, task discovery. */
class JobRunnerSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-exec").toString
  private val sf = "/root/testdata/sf0.001"

  private def runner(buf: scala.collection.mutable.ListBuffer[String]) =
    new JobRunner(spark, new ContextLogger(m => buf += m, style = "minimal", timestamps = false))

  test("two-command spark-op pipeline with ${previous} chaining writes real output") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: pipeline
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/lineitem.parquet
         |      output: li_raw
         |  - name: narrow
         |    task: filter
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      predicate: l_quantity > 45
         |      output: li_f
         |  - name: save
         |    task: write-parquet
         |    env:
         |      input: $${narrow.env.OUTPUT}
         |      path: $${job.data}/out
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job)
    val out = spark.read.parquet(s"$data/out")
    assert(out.count() > 0)
    assert(out.filter("l_quantity <= 45").count() == 0)
    assert(log.exists(_.contains("Done! \\o/")))
    // Observation metric emitted by the sink op, no extra pass
    assert(log.exists(l => l.contains("wrote") && l.contains("rows")))
  }

  test("profile spark-op emits one stats row per requested column") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: profile-job
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/orders.parquet
         |      output: p_orders
         |  - name: stats
         |    task: profile
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      columns: o_orderstatus,o_custkey
         |      output: p_stats
         |""".stripMargin)
    runner(scala.collection.mutable.ListBuffer[String]()).execute(job)
    val rows = spark.table("p_stats").orderBy("column").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("o_custkey", "o_orderstatus"))
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val n = orders.count()
    assert(rows.forall(_.getLong(1) == n))          // n_rows
    assert(rows.forall(_.getLong(2) == 0L))         // n_null
    val ndStatus = orders.select("o_orderstatus").distinct().count()
    assert(rows.find(_.getString(0) == "o_orderstatus").get.getLong(3) == ndStatus)
  }

  test("asof-join spark-op attaches the latest prior right row per key") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: asof-job
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/orders.parquet
         |      output: aj_orders
         |  - name: right-view
         |    task: sql
         |    env:
         |      query: >-
         |        SELECT o_custkey AS rk, o_orderkey AS r_order,
         |        o_orderdate AS rt FROM aj_orders
         |      output: aj_right
         |  - name: attach
         |    task: asof-join
         |    env:
         |      left: aj_orders
         |      right: aj_right
         |      left_key: o_custkey
         |      right_key: rk
         |      left_time: o_orderdate
         |      right_time: rt
         |      right_tie: r_order
         |      output: aj_out
         |""".stripMargin)
    runner(scala.collection.mutable.ListBuffer[String]()).execute(job)
    import org.apache.spark.sql.functions._
    val got = spark.table("aj_out")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    assert(got.count() == orders.count())
    // every attached right row is at-or-before the left row's time, same key
    assert(got.filter(col("rt").isNotNull &&
      (col("rt") > col("o_orderdate") || col("rk") =!= col("o_custkey"))).isEmpty)
    // self-as-of always matches (the row itself qualifies) with the HIGHEST
    // order key among same-date orders of that customer
    assert(got.filter(col("r_order").isNull).isEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"), col("o_orderdate"))
    val expectTop = orders
      .withColumn("top_same_ts", max(col("o_orderkey")).over(w))
    val joined = got.select(col("o_orderkey"), col("r_order"))
      .join(expectTop.select(col("o_orderkey"), col("top_same_ts")), Seq("o_orderkey"))
    assert(joined.filter(col("r_order") < col("top_same_ts")).isEmpty)
  }

  test("dq-check spark-op passes clean rules and aborts the job on violations") {
    val data = tmp()
    def job(rules: String, outView: String) = Yaml.jobFromString(
      s"""name: dq-job
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/orders.parquet
         |      output: dq_orders
         |  - name: gate
         |    task: dq-check
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      rules: $rules
         |      output: $outView
         |""".stripMargin)
    // clean rules: unique PK, no nulls, prices positive
    runner(scala.collection.mutable.ListBuffer[String]())
      .execute(job("unique:o_orderkey,not_null:o_totalprice,min:o_totalprice:0", "dq_ok"))
    val ok = spark.table("dq_ok").collect()
    assert(ok.length == 3 && ok.forall(_.getLong(1) == 0L))
    // violated rule (custkey repeats across orders): job aborts with TaskFailure,
    // and the report view still carries the diagnosable count
    val buf = scala.collection.mutable.ListBuffer[String]()
    val ex = intercept[TaskFailure] {
      runner(buf).execute(job("unique:o_custkey", "dq_bad"))
    }
    assert(ex.returncode == 1)
    assert(spark.table("dq_bad").head().getLong(1) > 0L)
    assert(buf.exists(_.contains("dq-check FAILED")))
  }

  test("context logger renders nested JOB/COMMAND frames (reference R15)") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: framed
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: fr_regions
         |""".stripMargin)
    // Reference frame semantics (logging goldens in RefMatrixLogSpec): the
    // runner opens a gaudy JOB frame, a TASK frame per command, and a
    // COMMAND frame around the task execution with a Return-code footer
    // (command.py:76-85). `box` stays as a gaudy alias.
    val buf = scala.collection.mutable.ListBuffer[String]()
    val ctx = new ContextLogger(m => buf += m, style = "box", timestamps = false)
    new JobRunner(spark, ctx).execute(job)
    assert(buf.exists(_.startsWith("╭──╴Executing job: framed")))
    assert(buf.exists(_.startsWith("┏━━╸Executing command: load (1 of 1)")))
    assert(buf.exists(_.startsWith("┃╭──╴Executing task: read-parquet")))
    assert(buf.exists(_.startsWith("┃╰──╴Return code: 0")))
    // minimal style (alias plain) has bare headers, no frames
    val buf2 = scala.collection.mutable.ListBuffer[String]()
    val ctx2 = new ContextLogger(m => buf2 += m, style = "plain", timestamps = false)
    new JobRunner(spark, ctx2).execute(job)
    assert(buf2.exists(_.startsWith("Executing job: framed")))
    assert(!buf2.exists(_.contains("╭")))
  }

  test("unnamed command forms: bare header, #N skip label, Done inside frame (r12 ADVICE)") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: unnamed
         |data: $data
         |commands:
         |  - task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: un_r
         |  - task: read-parquet
         |    skip: true
         |    env:
         |      path: $sf/region.parquet
         |      output: un_r2
         |""".stripMargin)
    val buf = scala.collection.mutable.ListBuffer[String]()
    val ctx = new ContextLogger(m => buf += m, style = "box", timestamps = false)
    new JobRunner(spark, ctx).execute(job)
    // reference command.py:70-74: unnamed header has no colon/label/parens
    assert(buf.exists(_.startsWith("┏━━╸Executing command 1 of 2")))
    // reference job.py:205: unnamed skip label is `#N`
    assert(buf.exists(_.contains("Skipping command `#2` from job 'unnamed'")))
    // reference job.py:209: Done! \o/ logs INSIDE the job frame
    assert(buf.exists(_.startsWith("│ Done! \\o/")))
  }

  test("--commands filter: header total is the UNFILTERED count, filtered-out commands warn (r12 ADVICE)") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: filtered
         |data: $data
         |commands:
         |  - name: one
         |    task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: fl_r1
         |  - name: two
         |    task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: fl_r2
         |  - task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: fl_r3
         |""".stripMargin)
    val buf = scala.collection.mutable.ListBuffer[String]()
    val ctx = new ContextLogger(m => buf += m, style = "box", timestamps = false)
    new JobRunner(spark, ctx).execute(job, commands = Some(Seq("two")))
    // reference job.py:207: total is len(self.commands) = 3, position is the
    // FILTERED enumerate index = 1, so the selected command reads "1 of 3"
    assert(buf.exists(_.startsWith("┏━━╸Executing command: two (1 of 3)")), buf.mkString("\n"))
    // reference job.py:190-193: each filtered-out command warns by name;
    // Python renders the unnamed command's missing name as `None`
    assert(buf.exists(_.contains("Skipping command `one`")), buf.mkString("\n"))
    assert(buf.exists(_.contains("Skipping command `None`")), buf.mkString("\n"))
  }

  test("command echo: env keys keep insertion order, booleans render lowercase (r12 ADVICE)") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: echoed
         |data: $data
         |commands:
         |  - name: filt
         |    task: filter
         |    env:
         |      input: ep_missing_view
         |      ZULU: true
         |      predicate: 1 = 1
         |      ALPHA: false
         |      output: ep_out
         |""".stripMargin)
    // The echo only renders on the real execution path (the dryrun branch
    // uses ManifestRender); the task itself fails on the missing view AFTER
    // the echo, which is all this test needs.
    val buf = scala.collection.mutable.ListBuffer[String]()
    val ctx = new ContextLogger(m => buf += m, style = "plain", timestamps = false)
    val r = new JobRunner(spark, ctx)
    try r.execute(job) catch { case _: Exception => () }
    val echo = buf.toList
    val zi = echo.indexWhere(_.contains("ZULU: true"))
    val ai = echo.indexWhere(_.contains("ALPHA: false"))
    assert(zi >= 0 && ai >= 0 && zi < ai,
      s"yaml.dump(sort_keys=False) echo order/boolean form; got: $echo")
  }

  test("nested job via run-job op: inner manifest executes on the same session") {
    val data = tmp()
    val innerPath = s"$data/inner.yml"
    // data dirs must pre-exist (reference job.py:211-214 aborts otherwise)
    Files.createDirectories(Paths.get(s"$data/inner-data"))
    Files.writeString(Paths.get(innerPath),
      s"""name: inner
         |data: $data/inner-data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: inner_regions
         |  - name: save
         |    task: write-parquet
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      path: $${job.data}/out
         |""".stripMargin)
    val job = Yaml.jobFromString(
      s"""name: outer
         |data: $data
         |commands:
         |  - name: delegate
         |    task: run-job
         |    env:
         |      path: $innerPath
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job)
    assert(spark.read.parquet(s"$data/inner-data/out").count() == 5)
    // inner views share the outer catalog (analogue of the shared filesystem)
    assert(spark.table("inner_regions").count() == 5)
    assert(log.exists(_.contains("Executing job: inner")))
  }

  test("dryrun prints resolved manifest and executes nothing") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: dry
         |data: $data
         |commands:
         |  - name: save
         |    task: write-parquet
         |    env: {input: nonexistent_view, path: $data/nope}
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job, dryrun = true)
    assert(!Files.exists(Paths.get(s"$data/nope")))
    assert(log.exists(_.startsWith("DRYRUN")))
    assert(log.exists(_.contains("input validation") == false))
  }

  // Reference dryrun prints the FULLY-RESOLVED manifest as an indented YAML dump
  // (job.py:160-171), golden-tested against the exact transcript like
  // tests/test_end_to_end.py:252-349 — placeholders resolved, nested structure kept.
  test("dryrun golden transcript: resolved YAML manifest + per-command would-execute") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: dry-gold
         |description: golden dryrun
         |data: $data
         |env:
         |  BASE_QTY: 45
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env:
         |      path: $sf/region.parquet
         |      output: dg_regions
         |  - name: narrow
         |    task: filter
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      predicate: r_regionkey > $${job.env.BASE_QTY}
         |      output: dg_f
         |    skip: true
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job, dryrun = true)
    val expected = List(
      "Executing job: dry-gold",
      "Parsed manifest for job: dry-gold",
      "WARNING: The property `tasks` is not defined in the job manifest, " +
        "no tasks will be available",
      // resolution-time warnings precede the dump: job env propagates into every
      // command's env (R4), where the tasks don't declare it (R10
      // warn-on-unknown). No missing-host-var warning: BASE_QTY has a job-env
      // default, and the reference only warns for allowlisted names missing
      // from BOTH host and job env (inherit_env, job.py:246-250).
      "WARNING: unknown input 'BASE_QTY' for task 'read-parquet'",
      "WARNING: unknown input 'BASE_QTY' for task 'filter'",
      "DRYRUN: job 'dry-gold' — manifest parsed as:",
      "  name: dry-gold",
      "  description: golden dryrun",
      s"  data: $data",
      "  host_env:",
      "  - BASE_QTY",
      "  env:",
      "    BASE_QTY: 45",
      "  commands:",
      "  - name: load",
      "    task: read-parquet",
      "    env:",
      "      BASE_QTY: 45",
      "      OUTPUT: dg_regions",
      s"      PATH: $sf/region.parquet",
      "  - name: narrow",
      "    task: filter",
      "    env:",
      "      BASE_QTY: 45",
      "      INPUT: dg_regions",
      "      OUTPUT: dg_f",
      "      PREDICATE: r_regionkey > 45",
      "    skip: true",
      "DRYRUN: [1/2] 'load' (task read-parquet) would execute with:",
      "  spark-op: read-parquet",
      s"  env: {BASE_QTY=45, OUTPUT=dg_regions, PATH=$sf/region.parquet}",
      "DRYRUN: [2/2] 'narrow' skipped",
      "Done! \\o/")
    assert(log.toList == expected)
  }

  test("minhash-dedup spark-op matches the library pipeline's survivor set") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: md
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env: {path: $sf/documents.parquet, output: md_docs}
         |  - name: collapse
         |    task: minhash-dedup
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      num-hashes: 12
         |      band-size: 3
         |      min-jaccard: 0.8
         |      output: md_out
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job)
    val out = spark.table("md_out")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(out.columns.toSeq == docs.columns.toSeq) // schema preserved
    // survivors = docs minus the exploded SQL's near-dup victims (id1 kept)
    docs.createOrReplaceTempView("md_ref_docs")
    val victims = spark.sql(graft.llm.DedupSql.victims("md_ref_docs", 12, 3, 0.8))
    val survivors = docs.join(victims, Seq("doc_id"), "left_anti")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = ids(survivors)
    assert(want.size < docs.count()) // the pipeline does remove near-dups here
    assert(ids(out) == want && out.count() == want.size)
  }

  test("similarity-topk and media-frames spark-ops run end-to-end from YAML") {
    import org.apache.spark.sql.functions.col
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: simmm
         |data: $data
         |commands:
         |  - name: vecs
         |    task: read-parquet
         |    env: {path: $sf/embeddings.parquet, output: sm_vecs}
         |  - name: ann
         |    task: similarity-topk
         |    env:
         |      input: $${previous.env.OUTPUT}
         |      k: 3
         |      output: sm_ann
         |  - name: docs
         |    task: read-parquet
         |    env: {path: $sf/documents.parquet, output: sm_docs}
         |  - name: frames
         |    task: media-frames
         |    env:
         |      input: $${docs.env.OUTPUT}
         |      every-k: 2
         |      output: sm_frames
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job)
    val ann = spark.table("sm_ann")
    assert(ann.count() > 0 && ann.filter(col("rank") > 3).count() == 0)
    assert(ann.columns.toSeq == Seq("qid", "rank", "vid", "cosine"))
    val frames = spark.table("sm_frames")
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() == 0)
    // real decode: per-channel sums bounded by 255 * n_px of the largest frame
    assert(frames.filter(col("sum_r") > 255L * 17 * 14).count() == 0)
    assert(frames.filter(col("width") < 12 || col("height") < 10).count() == 0)
  }

  test("skip: true prunes execution but the command still resolves") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: skippy
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env: {path: $sf/region.parquet, output: r}
         |  - name: broken
         |    task: read-parquet
         |    skip: true
         |    env: {path: /nonexistent/nowhere.parquet, output: x}
         |  - name: save
         |    task: write-parquet
         |    env:
         |      input: $${load.env.OUTPUT}
         |      path: $${job.data}/out
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job)
    assert(spark.read.parquet(s"$data/out").count() == 5)
    assert(log.exists(_.contains("Skipping command `broken`")))
  }

  test("fail-fast: a bad command blocks ALL execution, including valid earlier ones") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: failfast
         |data: $data
         |commands:
         |  - name: ok
         |    task: read-parquet
         |    env: {path: $sf/region.parquet, output: r}
         |  - name: bad
         |    task: read-parquet
         |    env: {output: x}
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    val e = intercept[SpecError](runner(log).execute(job))
    assert(e.getMessage.contains("PATH"))
    assert(!log.exists(_.contains("Executing command"))) // nothing ran
  }

  test("command filter selects by name, case-insensitively") {
    val data = tmp()
    val job = Yaml.jobFromString(
      s"""name: filtered
         |data: $data
         |commands:
         |  - name: load
         |    task: read-parquet
         |    env: {path: $sf/nation.parquet, output: n}
         |  - name: save-a
         |    task: write-parquet
         |    env: {input: n, path: $data/a}
         |  - name: save-b
         |    task: write-parquet
         |    env: {input: n, path: $data/b}
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    runner(log).execute(job, commands = Some(Seq("LOAD,save-a")))
    assert(Files.exists(Paths.get(s"$data/a")))
    assert(!Files.exists(Paths.get(s"$data/b")))
  }

  test("subprocess task: env crosses stringified, non-zero exit aborts the job") {
    val data = tmp()
    val tasksDir = tmp()
    Files.createDirectories(Paths.get(s"$tasksDir/check"))
    Files.writeString(Paths.get(s"$tasksDir/check/manifest.yml"),
      """name: check-env
        |run:
        |  interpreter: /bin/sh -c
        |  script: test "$FLAG" = "True" && test "$N" = "3"
        |env:
        |  FLAG: {type: bool}
        |  N: {type: int}
        |""".stripMargin)
    val good = Yaml.jobFromString(
      s"""name: sub
         |data: $data
         |tasks: [$tasksDir]
         |commands:
         |  - task: check-env
         |    env: {flag: true, n: 3}
         |""".stripMargin)
    runner(scala.collection.mutable.ListBuffer[String]()).execute(good)

    val bad = Yaml.jobFromString(
      s"""name: sub2
         |data: $data
         |tasks: [$tasksDir]
         |commands:
         |  - name: willfail
         |    task: check-env
         |    env: {flag: false, n: 3}
         |""".stripMargin)
    val e = intercept[TaskFailure](
      runner(scala.collection.mutable.ListBuffer[String]()).execute(bad))
    assert(e.returncode != 0)
  }

  test("task discovery skips tests/ dirs and broken manifests, warns") {
    val tasksDir = tmp()
    Files.createDirectories(Paths.get(s"$tasksDir/good"))
    Files.writeString(Paths.get(s"$tasksDir/good/manifest.yml"), "name: good\nrun: echo\n")
    Files.createDirectories(Paths.get(s"$tasksDir/tests/hidden"))
    Files.writeString(Paths.get(s"$tasksDir/tests/hidden/manifest.yml"),
      "name: hidden\nrun: echo\n")
    Files.createDirectories(Paths.get(s"$tasksDir/broken"))
    Files.writeString(Paths.get(s"$tasksDir/broken/manifest.yml"), "name: [unclosed\n")
    var warned = List.empty[String]
    val reg = Registry.discover(Seq(tasksDir), w => warned ::= w)
    assert(reg.get("good").isDefined)
    assert(reg.get("GOOD").isDefined) // case-insensitive lookup
    assert(reg.get("hidden").isEmpty)
    assert(warned.exists(_.contains("broken")))
  }

  test("in-manifest task tests run: exit 0 = pass") {
    val data = tmp()
    val task = Yaml.taskFromString(
      """name: echoer
        |run:
        |  interpreter: /bin/sh -c
        |  script: test -n "$MSG"
        |env:
        |  MSG: {type: str}
        |tests:
        |  happy:
        |    env: {msg: hello}
        |    verify: /bin/true
        |  sad:
        |    env: {msg: ""}
        |    verify: /bin/true
        |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    val results = runner(log).runTaskTests(task, new JobContext(spark, data))
    assert(results("happy"))
    assert(!results("sad"))
  }

  test("--test-task path: discovers the task from the job and reports per-case results") {
    val data = tmp()
    val taskDir = Paths.get(data, "tasks", "checker")
    Files.createDirectories(taskDir)
    Files.writeString(taskDir.resolve("manifest.yml"),
      """name: checker
        |run:
        |  interpreter: /bin/sh -c
        |  script: test -n "$MSG"
        |env:
        |  MSG: {type: str}
        |tests:
        |  happy:
        |    env: {msg: hello}
        |    verify: /bin/true
        |  sad:
        |    env: {msg: ""}
        |    verify: /bin/true
        |""".stripMargin)
    val job = Yaml.jobFromString(
      s"""name: test-task-job
         |data: $data
         |tasks:
         |  - $data/tasks
         |commands: []
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    val results = runner(log).testTask(job, "checker")
    assert(results == Map("happy" -> true, "sad" -> false))
    assert(log.exists(_.contains("TEST checker/happy: PASS")))
    assert(log.exists(_.contains("TEST checker/sad: FAIL")))
    intercept[SpecError] { runner(log).testTask(job, "no-such-task") }
  }

  test("--test-task: a case that throws reports FAIL and its error") {
    val data = tmp()
    val taskDir = Paths.get(data, "tasks", "picker")
    Files.createDirectories(taskDir)
    Files.writeString(taskDir.resolve("manifest.yml"),
      """name: picker
        |spark-op: select
        |env:
        |  INPUT: {type: str}
        |  COLUMNS: {type: str}
        |  OUTPUT: {type: str}
        |tests:
        |  missing-view:
        |    env: {input: no_such_view, columns: a, output: picked}
        |    verify: /bin/true
        |""".stripMargin)
    val job = Yaml.jobFromString(
      s"""name: test-task-error
         |data: $data
         |tasks:
         |  - $data/tasks
         |commands: []
         |""".stripMargin)
    val log = scala.collection.mutable.ListBuffer[String]()
    val results = runner(log).testTask(job, "picker")
    assert(results == Map("missing-view" -> false))
    assert(log.exists(l => l.contains("ERROR: ") && l.contains("no such view 'no_such_view'")),
      log.mkString("\n"))
    assert(log.exists(_.contains("TEST picker/missing-view: FAIL")))
  }

  test("--test-task: an error with no message is logged by its class") {
    // ProcessBuilder.start throws a message-less NullPointerException on a
    // null argument
    val task = Task(name = "nulls", body = TaskBody.Exec(List(null)),
      tests = Map("npe" -> TaskTestCase("npe", Map.empty, List("/bin/true"))))
    val log = scala.collection.mutable.ListBuffer[String]()
    val ctx = new JobContext(spark, tmp(),
      new ContextLogger(m => log += m, style = "minimal", timestamps = false))
    assert(runner(log).runTaskTests(task, ctx) == Map("npe" -> false))
    assert(log.exists(_.contains("ERROR: java.lang.NullPointerException")), log.mkString("\n"))
  }
}
