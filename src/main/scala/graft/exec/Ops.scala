package graft.exec

import scala.collection.immutable.VectorMap
import org.apache.spark.sql.{DataFrame, DataFrameReader, DataFrameWriter, Observation, Row,
  SparkSession}
import org.apache.spark.sql.functions._
import graft.spec.{EnvValue, InputType, Keys, SpecError, Task, TaskBody, TaskInput, Validation}

/** Mutable per-job state: named DataFrame handoff (the engine's analogue of the
  * reference's file-based data plane — results are temp views instead of files on
  * disk; only the write ops put data on disk). Ops log through the job's
  * [[ContextLogger]], inside the frame of the command that runs them. */
final class JobContext(val spark: SparkSession, val dataDir: String,
    val logger: ContextLogger = new ContextLogger(println)) {
  def log(msg: String): Unit = logger.line(msg)
  def view(name: String): DataFrame =
    try spark.table(name)
    catch { case _: Exception => throw SpecError(s"no such view '$name'") }
}

/** One built-in Spark operator: its parameters, declared once (name, required,
  * type and any constant default), and its body. The registry seeds [[task]]
  * from them, so the runner's fail-fast validation and dryrun see exactly what
  * the body reads. [[apply]] fills the declared defaults for absent keys before
  * the body runs, so a discovered `spark-op:` task with its own env schema
  * still gets them. */
final case class Op(name: String, params: VectorMap[String, TaskInput],
    body: (JobContext, Op.Params) => Unit) {
  val task: Task = Task(name = name, body = TaskBody.SparkOp(name), env = params)

  def apply(ctx: JobContext, env: Map[String, EnvValue]): Unit = {
    val full = Validation.withDefaults(task, env)
    body(ctx, new Op.Params(params.keys.flatMap(k => Keys.fuzzyGet(full, k).map(k -> _)).toMap))
  }
}

object Op {
  /** An op's declared parameters, read through typed accessors. Values are the
    * rendered env strings, so a discovered task that declares a parameter with
    * another (or no) type still converts the way the built-in one does. */
  final class Params(values: Map[String, EnvValue]) {
    def opt(k: String): Option[String] = values.get(k).filter(_ != EnvValue.NullV).map(_.render)
    def str(k: String): String =
      opt(k).getOrElse(throw SpecError(s"op parameter '$k' is required"))
    def int(k: String): Int = str(k).toInt
    def double(k: String): Double = str(k).toDouble
    def bool(k: String): Boolean = str(k).equalsIgnoreCase("true")
    /** A comma-separated list, each item trimmed. */
    def names(k: String): Seq[String] = str(k).split(",").map(_.trim).toSeq
  }
}

/** The built-in Spark operators (`spark-op:` in a task manifest), one declaration
  * each. An op reads its parameters from the command's resolved env and, when it
  * declares OUTPUT, registers its result as that view, which downstream commands
  * reference via `${previous.env.OUTPUT}` — lineage replaces file handoff.
  *
  * These generalize the reference's shipped task archetypes (SURVEY.md §2a): download
  * → read-parquet/read-csv/read-json; grep-filter → filter; parser → select/sql;
  * splitter → repartition-write; echo/print-env → show. */
object Ops {
  import Op.Params

  private val required = TaskInput(required = true, inputType = Some(InputType.TString))
  private val optional = TaskInput(required = false, inputType = Some(InputType.TString))
  /** An optional parameter whose type is its default's. */
  private def default(v: Any): TaskInput = {
    val d = EnvValue(v)
    TaskInput(required = false, default = Some(d), inputType =
      Seq(InputType.TString, InputType.TInt, InputType.TFloat, InputType.TBool).find(_.matches(d)))
  }

  private def op(name: String, params: (String, TaskInput)*)(
      body: (JobContext, Params) => Unit): Op = Op(name, VectorMap.from(params), body)

  /** An op whose result is the view named by its OUTPUT parameter. */
  private def view(name: String, params: (String, TaskInput)*)(
      body: (JobContext, Params) => DataFrame): Op =
    op(name, params :+ ("OUTPUT" -> required): _*)((ctx, p) => publish(body(ctx, p), p))

  private def publish(df: DataFrame, p: Params): DataFrame = {
    df.createOrReplaceTempView(p.str("OUTPUT"))
    df
  }

  /** `read-<format>`: PATH through the format's reader; SCHEMA, where declared
    * and given, replaces inference. */
  private def reader(format: String, params: (String, TaskInput)*)(
      configure: (DataFrameReader, Params) => DataFrameReader = (r, _) => r): Op =
    view(s"read-$format", ("PATH" -> required) +: params: _*) { (ctx, p) =>
      val r = configure(ctx.spark.read, p)
      p.opt("SCHEMA").fold(r)(r.schema).format(format).load(p.str("PATH"))
    }

  /** `write-<format>`: INPUT to PATH. Observation piggybacks the row count on
    * the write job itself — zero extra passes (a separate count() would re-run
    * the whole plan). */
  private def writer(format: String, params: (String, TaskInput)*)(
      configure: (DataFrameWriter[Row], Params) => DataFrameWriter[Row]): Op =
    op(s"write-$format", Seq("INPUT" -> required, "PATH" -> required,
        "MODE" -> default("overwrite")) ++ params: _*) { (ctx, p) =>
      val obs = new Observation()
      configure(ctx.view(p.str("INPUT")).observe(obs, count(lit(1)).as("rows")).write
        .mode(p.str("MODE")), p).format(format).save(p.str("PATH"))
      // bounded wait: metric delivery is async; after the deadline log an explicit
      // marker so a missing count is distinguishable from zero rows
      val rows = org.apache.spark.sql.graftbridge.Bridge.observedRow(obs, waitMillis = 2000)
        .fold("? rows (metric unavailable)")(r => s"${r.getAs[Long]("rows")} rows")
      ctx.log(s"wrote $rows -> ${p.str("PATH")}")
    }

  val builtins: Map[String, Op] = Seq(
    // through Tables: the footer schema is read on the driver and cached per
    // path, so no read fires a schema job
    view("read-parquet", "PATH" -> required)((ctx, p) =>
      graft.Tables.parquet(ctx.spark, p.str("PATH"))),
    reader("csv", "HEADER" -> default("true"), "DELIMITER" -> default(","),
        "SCHEMA" -> optional) { (r, p) =>
      val o = r.option("header", p.str("HEADER")).option("delimiter", p.str("DELIMITER"))
      if (p.opt("SCHEMA").isEmpty) o.option("inferSchema", "true") else o
    },
    reader("json", "SCHEMA" -> optional)(),
    reader("text")(),
    view("filter", "INPUT" -> required, "PREDICATE" -> required) { (ctx, p) =>
      ctx.view(p.str("INPUT")).filter(p.str("PREDICATE"))
    },
    view("select", "INPUT" -> required, "COLUMNS" -> required) { (ctx, p) =>
      ctx.view(p.str("INPUT")).select(p.names("COLUMNS").map(expr): _*)
    },
    view("sql", "QUERY" -> required)((ctx, p) => ctx.spark.sql(p.str("QUERY"))),
    writer("parquet", "PARTITION_BY" -> optional) { (w, p) =>
      p.opt("PARTITION_BY").fold(w)(c => w.partitionBy(c.split(","): _*))
    },
    writer("csv")((w, _) => w.option("header", "true")),
    op("show", "INPUT" -> required, "LIMIT" -> default(20)) { (ctx, p) =>
      org.apache.spark.sql.graftbridge.Bridge
        .showString(ctx.view(p.str("INPUT")), p.int("LIMIT"), truncate = 0)
        .linesIterator.foreach(ctx.log)
    },
    // LLM-pipeline operators as first-class YAML tasks: a reference user drives
    // everything through the job manifest, so the dedup/text-analysis surface must
    // be reachable from the spec layer, not only from the library.
    view("text-quality", "INPUT" -> required, "TEXT_COL" -> default("text")) { (ctx, p) =>
      import graft.llm.{TextFunctions => TF}
      val t = col(p.str("TEXT_COL"))
      ctx.view(p.str("INPUT"))
        .withColumn("__toks", TF.tokens(t)) // staged once for the token features
        .withColumn("text_len", length(t))
        .withColumn("n_tokens", size(col("__toks")))
        .withColumn("n_bpeish", TF.bpeishTokenCount(t))
        .withColumn("whitespace_ratio", TF.whitespaceRatio(t))
        .withColumn("digit_ratio", TF.digitRatio(t))
        .withColumn("punct_ratio", TF.punctRatio(t))
        .withColumn("lang_pred", TF.langIdFrom(t, col("__toks")))
        .drop("__toks")
    },
    view("dedup-exact", "INPUT" -> required, "KEYS" -> required,
        "ORDER" -> optional) { (ctx, p) =>
      val keys = p.names("KEYS").map(col)
      val order = p.opt("ORDER").fold(keys)(_ => p.names("ORDER").map(col))
      graft.llm.Dedup.keepFirst(ctx.view(p.str("INPUT")), keys, order)
    },
    // Near-dup collapse with graft.llm.Dedup's kernel — one shingle array and one
    // (band, sig) signature pass per document, a band self-join for candidates,
    // exact Jaccard from the two arrays — then drop the id2 of every pair at or
    // above the threshold, so the lowest id of each near-dup pair survives
    // (deterministic: hashes, banding and the threshold are all reproducible).
    view("minhash-dedup", "INPUT" -> required, "ID_COL" -> default("doc_id"),
        "TEXT_COL" -> default("text"), "NUM_HASHES" -> default(12),
        "BAND_SIZE" -> default(3), "MIN_JACCARD" -> default(0.8)) { (ctx, p) =>
      import graft.llm.Dedup
      val idCol = p.str("ID_COL")
      val docs = ctx.view(p.str("INPUT"))
      val sets = Dedup.shingleSets(docs, idCol, p.str("TEXT_COL"))
      val cands = Dedup.lshCandidates(sets, idCol,
        numHashes = p.int("NUM_HASHES"), bandSize = p.int("BAND_SIZE"))
      val victims = Dedup.pairJaccard(cands, sets, idCol)
        .filter(col("jaccard") >= p.double("MIN_JACCARD"))
        .select(col("id2").as(idCol)).distinct()
      docs.join(victims, Seq(idCol), "left_anti")
    },
    // ANN similarity search from the spec layer: banded sign-LSH top-k over an
    // embedding view (vec_id, embedding) — the scale path, never a cross join.
    view("similarity-topk", "INPUT" -> required, "K" -> default(5),
        "PLANES" -> default(16), "BANDS" -> default(2), "DIMS" -> default(64)) { (ctx, p) =>
      graft.llm.Similarity.lshBandedTopK(ctx.view(p.str("INPUT")), k = p.int("K"),
        numPlanes = p.int("PLANES"), bands = p.int("BANDS"), dims = p.int("DIMS"))
    },
    // Native as-of join from the spec layer: attach the latest right row at or
    // before each left row's time, per key (graft.plans.AsOfJoinExec — the
    // co-partitioned one-pass merge operator; no pair expansion at any scale).
    view("asof-join", "LEFT" -> required, "RIGHT" -> required,
        "LEFT_KEY" -> required, "RIGHT_KEY" -> required, "LEFT_TIME" -> required,
        "RIGHT_TIME" -> required, "RIGHT_TIE" -> optional) { (ctx, p) =>
      val l = ctx.view(p.str("LEFT"))
      val r = ctx.view(p.str("RIGHT"))
      graft.plans.AsOfNative.join(l, r,
        l(p.str("LEFT_KEY")), r(p.str("RIGHT_KEY")),
        l(p.str("LEFT_TIME")), r(p.str("RIGHT_TIME")),
        r(p.opt("RIGHT_TIE").getOrElse(p.str("RIGHT_TIME"))))
    },
    // Multimodal frame sampling from the spec layer: synthesize one multi-frame
    // BMP payload per input doc_id, walk the container (frames self-declare
    // their length), keep every k-th frame, and REALLY decode the kept frames
    // to pixel statistics (graft.llm.Bmp — partition-wise, no stub).
    view("media-frames", "INPUT" -> required, "EVERY_K" -> default(2)) { (ctx, p) =>
      graft.llm.Multimodal.frameSample(ctx.spark,
          graft.llm.Multimodal.syntheticVideos(ctx.spark, ctx.view(p.str("INPUT"))),
          everyK = p.int("EVERY_K"))
        .toDF()
    },
    // One-pass column profiler from the spec layer (data-quality stats before a
    // pipeline stage commits to a schema): one aggregation over the view computes
    // row/null/distinct/min/max per requested column, unpivoted to a row per
    // column. Exact distincts; swap in approx_count_distinct for 100 TB profiles.
    view("profile", "INPUT" -> required, "COLUMNS" -> required) { (ctx, p) =>
      val cols = p.names("COLUMNS").filter(_.nonEmpty)
      if (cols.isEmpty) throw SpecError("op parameter 'COLUMNS' must name >= 1 column")
      val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__lo_$c"),
        max(col(c)).cast("string").as(s"__hi_$c")))
      val structs = cols.map(c =>
        s"""named_struct('column', '$c', 'n_rows', __n,
           |  'n_null', __n - `__nn_$c`, 'n_distinct', `__nd_$c`,
           |  'min_value', `__lo_$c`, 'max_value', `__hi_$c`)""".stripMargin)
        .mkString("inline(array(", ", ", "))")
      ctx.view(p.str("INPUT")).agg(aggs.head, aggs.tail: _*).selectExpr(structs)
    },
    // Data-quality gate from the spec layer: evaluate declared RULES against a view
    // and FAIL the job (TaskFailure abort, reference R9 semantics —
    // /root/reference/xetl/models/command.py:85-86 raises TaskFailure on a non-zero
    // task, aborting the job) when any rule has violations — the fail-fast hoisting
    // Job.execute applies to parameters (job.py:198-200), applied to data before
    // downstream stages burn compute. RULES syntax (comma-separated):
    //   unique:col | not_null:col | min:col:value | max:col:value
    // Violation counts land in OUTPUT (one row per rule) whether or not the gate
    // trips, so the failure is diagnosable from the sink.
    op("dq-check", "INPUT" -> required, "RULES" -> required,
        "OUTPUT" -> required) { (ctx, p) =>
      val rules = p.names("RULES").filter(_.nonEmpty)
      if (rules.isEmpty) throw SpecError("op parameter 'RULES' must declare >= 1 rule")
      val checks = rules.map { r =>
        val parts = r.split(":")
        (parts(0), parts.lift(1), parts.lift(2)) match {
          case ("unique", Some(c), _) =>
            (r, count(lit(1)) - countDistinct(col(c)))
          case ("not_null", Some(c), _) =>
            (r, count(when(col(c).isNull, 1)))
          case ("min", Some(c), Some(v)) =>
            val thr = v.toDoubleOption.getOrElse(
              throw SpecError(s"dq-check: non-numeric bound in '$r'"))
            (r, count(when(col(c).cast("double") < thr, 1)))
          case ("max", Some(c), Some(v)) =>
            val thr = v.toDoubleOption.getOrElse(
              throw SpecError(s"dq-check: non-numeric bound in '$r'"))
            (r, count(when(col(c).cast("double") > thr, 1)))
          case _ => throw SpecError(s"dq-check: unparseable rule '$r'")
        }
      }
      val aggs = checks.zipWithIndex.map { case ((_, e), i) => e.cast("long").as(s"__v$i") }
      val wide = ctx.view(p.str("INPUT")).agg(aggs.head, aggs.tail: _*)
      val structs = checks.zipWithIndex.map { case ((name, _), i) =>
        s"named_struct('rule', '$name', 'n_violations', `__v$i`)"
      }.mkString("inline(array(", ", ", "))")
      val report = publish(wide.selectExpr(structs), p)
      // driver sees only the <=#rules-row report (bounded), never the data
      val bad = report.filter(col("n_violations") > 0)
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
      if (bad.nonEmpty) {
        ctx.log(s"dq-check FAILED: ${bad.mkString(", ")}")
        throw TaskFailure("dq-check", 1)
      }
    },
    // Nested job (reference R13: a task runs the CLI on an inner manifest,
    // tests/test_end_to_end.py:434-519): pipeline-as-operator on the same session,
    // so inner temp views land in the shared catalog exactly like inner output
    // files land in the shared filesystem for the reference. The inner job's
    // frames render inside this command's frame, as the reference's streamed
    // inner CLI output does.
    op("run-job", "PATH" -> required, "COMMANDS" -> optional,
        "DRYRUN" -> default(false)) { (ctx, p) =>
      new JobRunner(ctx.spark, ctx.logger.nested)
        .execute(graft.spec.Yaml.jobFromFile(p.str("PATH")),
          p.opt("COMMANDS").map(c => Seq(c)), dryrun = p.bool("DRYRUN"))
    }
  ).map(o => o.name -> o).toMap
}
