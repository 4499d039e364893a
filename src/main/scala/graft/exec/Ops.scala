package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spec.{EnvValue, SpecError}

/** Mutable per-job state: named DataFrame handoff (the engine's analogue of the
  * reference's file-based data plane — results are temp views instead of files on
  * disk; only the write ops put data on disk). */
final class JobContext(val spark: SparkSession, val dataDir: String,
    val log: String => Unit = println) {
  def view(name: String): DataFrame =
    try spark.table(name)
    catch { case _: Exception => throw SpecError(s"no such view '$name'") }
}

/** Built-in Spark operator task bodies (`spark-op:` in a task manifest). Each op reads
  * its parameters from the command's resolved env (strings by then validated/typed)
  * and registers its result as the view named by OUTPUT, which downstream commands
  * reference via `${previous.env.OUTPUT}` — lineage replaces file handoff.
  *
  * These generalize the reference's shipped task archetypes (SURVEY.md §2a): download
  * → read-parquet/read-csv/read-json; grep-filter → filter; parser → select/sql;
  * splitter → repartition-write; echo/print-env → show. */
object Ops {

  type SparkOp = (JobContext, Map[String, EnvValue]) => Unit

  private def str(env: Map[String, EnvValue], k: String): String =
    graft.spec.Keys.fuzzyGet(env, k) match {
      case Some(v) if v != EnvValue.NullV => v.render
      case _ => throw SpecError(s"op parameter '$k' is required")
    }
  private def opt(env: Map[String, EnvValue], k: String): Option[String] =
    graft.spec.Keys.fuzzyGet(env, k).filter(_ != EnvValue.NullV).map(_.render)

  val builtins: Map[String, SparkOp] = Map(
    "read-parquet" -> { (ctx, env) =>
      ctx.spark.read.parquet(str(env, "PATH"))
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "read-csv" -> { (ctx, env) =>
      var r = ctx.spark.read
        .option("header", opt(env, "HEADER").getOrElse("true"))
        .option("delimiter", opt(env, "DELIMITER").getOrElse(","))
      r = opt(env, "SCHEMA") match {
        case Some(s) => r.schema(s)
        case None => r.option("inferSchema", "true")
      }
      r.csv(str(env, "PATH")).createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "read-json" -> { (ctx, env) =>
      val r = ctx.spark.read
      opt(env, "SCHEMA").map(r.schema).getOrElse(r)
        .json(str(env, "PATH")).createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "read-text" -> { (ctx, env) =>
      ctx.spark.read.text(str(env, "PATH")).createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "filter" -> { (ctx, env) =>
      ctx.view(str(env, "INPUT")).filter(str(env, "PREDICATE"))
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "select" -> { (ctx, env) =>
      val cols = str(env, "COLUMNS").split(",").map(c => expr(c.trim))
      ctx.view(str(env, "INPUT")).select(cols.toIndexedSeq: _*)
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "sql" -> { (ctx, env) =>
      ctx.spark.sql(str(env, "QUERY")).createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "write-parquet" -> { (ctx, env) =>
      // Observation piggybacks metrics on the write job itself — row counts with
      // zero extra passes (a separate count() would re-run the whole plan).
      val obs = new org.apache.spark.sql.Observation()
      var w = ctx.view(str(env, "INPUT"))
        .observe(obs, count(lit(1)).as("rows")).write
        .mode(opt(env, "MODE").getOrElse("overwrite"))
      opt(env, "PARTITION_BY").foreach(p => w = w.partitionBy(p.split(","): _*))
      w.parquet(str(env, "PATH"))
      // bounded wait: metric delivery is async; after the deadline log an explicit
      // marker so a missing count is distinguishable from zero rows
      org.apache.spark.sql.graftbridge.Bridge.observedRow(obs, waitMillis = 2000)
        .fold(ctx.log(s"wrote ? rows (metric unavailable) -> ${str(env, "PATH")}")) {
          r => ctx.log(s"wrote ${r.getAs[Long]("rows")} rows -> ${str(env, "PATH")}")
        }
    },
    "write-csv" -> { (ctx, env) =>
      val obs = new org.apache.spark.sql.Observation()
      ctx.view(str(env, "INPUT"))
        .observe(obs, count(lit(1)).as("rows")).write
        .mode(opt(env, "MODE").getOrElse("overwrite"))
        .option("header", "true").csv(str(env, "PATH"))
      org.apache.spark.sql.graftbridge.Bridge.observedRow(obs, waitMillis = 2000)
        .fold(ctx.log(s"wrote ? rows (metric unavailable) -> ${str(env, "PATH")}")) {
          r => ctx.log(s"wrote ${r.getAs[Long]("rows")} rows -> ${str(env, "PATH")}")
        }
    },
    "show" -> { (ctx, env) =>
      ctx.view(str(env, "INPUT"))
        .show(opt(env, "LIMIT").map(_.toInt).getOrElse(20), truncate = false)
    },
    // LLM-pipeline operators as first-class YAML tasks: a reference user drives
    // everything through the job manifest, so the dedup/text-analysis surface must
    // be reachable from the spec layer, not only from the library.
    "text-quality" -> { (ctx, env) =>
      import graft.llm.{TextFunctions => TF}
      val textCol = opt(env, "TEXT_COL").getOrElse("text")
      val t = col(textCol)
      ctx.view(str(env, "INPUT"))
        .withColumn("__toks", TF.tokens(t)) // staged once for the token features
        .withColumn("text_len", length(t))
        .withColumn("n_tokens", size(col("__toks")))
        .withColumn("n_bpeish", TF.bpeishTokenCount(t))
        .withColumn("whitespace_ratio", TF.whitespaceRatio(t))
        .withColumn("digit_ratio", TF.digitRatio(t))
        .withColumn("punct_ratio", TF.punctRatio(t))
        .withColumn("lang_pred", TF.langIdFrom(t, col("__toks")))
        .drop("__toks")
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    "dedup-exact" -> { (ctx, env) =>
      val keys = str(env, "KEYS").split(",").map(k => col(k.trim)).toSeq
      val order = opt(env, "ORDER").map(_.split(",").map(k => col(k.trim)).toSeq)
        .getOrElse(keys)
      graft.llm.Dedup.keepFirst(ctx.view(str(env, "INPUT")), keys, order)
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    // Near-dup collapse with graft.llm.Dedup's kernel — one shingle array and one
    // (band, sig) signature pass per document, a band self-join for candidates,
    // exact Jaccard from the two arrays — then drop the id2 of every pair at or
    // above the threshold, so the lowest id of each near-dup pair survives
    // (deterministic: hashes, banding and the threshold are all reproducible).
    "minhash-dedup" -> { (ctx, env) =>
      import graft.llm.Dedup
      val idCol = opt(env, "ID_COL").getOrElse("doc_id")
      val docs = ctx.view(str(env, "INPUT"))
      val sets = Dedup.shingleSets(docs, idCol, opt(env, "TEXT_COL").getOrElse("text"))
      val cands = Dedup.lshCandidates(sets, idCol,
        numHashes = opt(env, "NUM_HASHES").map(_.toInt).getOrElse(12),
        bandSize = opt(env, "BAND_SIZE").map(_.toInt).getOrElse(3))
      val victims = Dedup.pairJaccard(cands, sets, idCol)
        .filter(col("jaccard") >= opt(env, "MIN_JACCARD").map(_.toDouble).getOrElse(0.8))
        .select(col("id2").as(idCol)).distinct()
      docs.join(victims, Seq(idCol), "left_anti")
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    // ANN similarity search from the spec layer: banded sign-LSH top-k over an
    // embedding view (vec_id, embedding) — the scale path, never a cross join.
    "similarity-topk" -> { (ctx, env) =>
      graft.llm.Similarity.lshBandedTopK(
        ctx.view(str(env, "INPUT")),
        k = opt(env, "K").map(_.toInt).getOrElse(5),
        numPlanes = opt(env, "PLANES").map(_.toInt).getOrElse(16),
        bands = opt(env, "BANDS").map(_.toInt).getOrElse(2),
        dims = opt(env, "DIMS").map(_.toInt).getOrElse(64))
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    // Native as-of join from the spec layer: attach the latest right row at or
    // before each left row's time, per key (graft.plans.AsOfJoinExec — the
    // co-partitioned one-pass merge operator; no pair expansion at any scale).
    "asof-join" -> { (ctx, env) =>
      val l = ctx.view(str(env, "LEFT"))
      val r = ctx.view(str(env, "RIGHT"))
      graft.plans.AsOfNative.join(l, r,
          l(str(env, "LEFT_KEY")), r(str(env, "RIGHT_KEY")),
          l(str(env, "LEFT_TIME")), r(str(env, "RIGHT_TIME")),
          r(opt(env, "RIGHT_TIE").getOrElse(str(env, "RIGHT_TIME"))))
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    // Multimodal frame sampling from the spec layer: synthesize one multi-frame
    // BMP payload per input doc_id, walk the container (frames self-declare
    // their length), keep every k-th frame, and REALLY decode the kept frames
    // to pixel statistics (graft.llm.Bmp — partition-wise, no stub).
    "media-frames" -> { (ctx, env) =>
      graft.llm.Multimodal.frameSample(ctx.spark,
          graft.llm.Multimodal.syntheticVideos(ctx.spark, ctx.view(str(env, "INPUT"))),
          everyK = opt(env, "EVERY_K").map(_.toInt).getOrElse(2))
        .toDF()
        .createOrReplaceTempView(str(env, "OUTPUT"))
    },
    // One-pass column profiler from the spec layer (data-quality stats before a
    // pipeline stage commits to a schema): one aggregation over the view computes
    // row/null/distinct/min/max per requested column, unpivoted to a row per
    // column. Exact distincts; swap in approx_count_distinct for 100 TB profiles.
    "profile" -> { (ctx, env) =>
      val cols = str(env, "COLUMNS").split(",").map(_.trim).filter(_.nonEmpty)
      if (cols.isEmpty) throw SpecError("op parameter 'COLUMNS' must name >= 1 column")
      val df = ctx.view(str(env, "INPUT"))
      val aggs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__lo_$c"),
        max(col(c)).cast("string").as(s"__hi_$c"))).toSeq
      val structs = cols.map(c =>
        s"""named_struct('column', '$c', 'n_rows', __n,
           |  'n_null', __n - `__nn_$c`, 'n_distinct', `__nd_$c`,
           |  'min_value', `__lo_$c`, 'max_value', `__hi_$c`)""".stripMargin)
        .mkString("inline(array(", ", ", "))")
      df.agg(aggs.head, aggs.tail: _*).selectExpr(structs)
        .createOrReplaceTempView(str(env, "OUTPUT"))
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
    "dq-check" -> { (ctx, env) =>
      val df = ctx.view(str(env, "INPUT"))
      val rules = str(env, "RULES").split(",").map(_.trim).filter(_.nonEmpty)
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
      val wide = df.agg(aggs.head, aggs.tail: _*)
      val structs = checks.zipWithIndex.map { case ((name, _), i) =>
        s"named_struct('rule', '$name', 'n_violations', `__v$i`)"
      }.mkString("inline(array(", ", ", "))")
      val report = wide.selectExpr(structs)
      report.createOrReplaceTempView(str(env, "OUTPUT"))
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
    // files land in the shared filesystem for the reference.
    "run-job" -> { (ctx, env) =>
      val job = graft.spec.Yaml.jobFromFile(str(env, "PATH"))
      new JobRunner(ctx.spark, m => ctx.log(s"  [nested] $m"))
        .execute(job, opt(env, "COMMANDS").map(c => Seq(c)),
          dryrun = opt(env, "DRYRUN").exists(_.equalsIgnoreCase("true")))
    }
  )

  import graft.spec.{InputType, Task, TaskBody, TaskInput}
  private def req = TaskInput(required = true, inputType = Some(InputType.TString))
  private def optIn = TaskInput(required = false, inputType = Some(InputType.TString))

  /** Input schemas for the builtin ops, so the runner's fail-fast validation catches
    * missing/mistyped parameters before ANY command executes (reference
    * job.py:198-200 semantics carried over to Spark operators). */
  val taskSpecs: Map[String, Task] = Map(
    "read-parquet" -> Map("PATH" -> req, "OUTPUT" -> req),
    "read-csv" -> Map("PATH" -> req, "OUTPUT" -> req, "HEADER" -> optIn,
      "DELIMITER" -> optIn, "SCHEMA" -> optIn),
    "read-json" -> Map("PATH" -> req, "OUTPUT" -> req, "SCHEMA" -> optIn),
    "read-text" -> Map("PATH" -> req, "OUTPUT" -> req),
    "filter" -> Map("INPUT" -> req, "PREDICATE" -> req, "OUTPUT" -> req),
    "select" -> Map("INPUT" -> req, "COLUMNS" -> req, "OUTPUT" -> req),
    "sql" -> Map("QUERY" -> req, "OUTPUT" -> req),
    "write-parquet" -> Map("INPUT" -> req, "PATH" -> req, "MODE" -> optIn,
      "PARTITION_BY" -> optIn),
    "write-csv" -> Map("INPUT" -> req, "PATH" -> req, "MODE" -> optIn),
    "show" -> Map("INPUT" -> req,
      "LIMIT" -> TaskInput(required = false, inputType = Some(InputType.TInt))),
    "run-job" -> Map("PATH" -> req, "COMMANDS" -> optIn,
      "DRYRUN" -> TaskInput(required = false, inputType = Some(InputType.TBool))),
    "text-quality" -> Map("INPUT" -> req, "OUTPUT" -> req, "TEXT_COL" -> optIn),
    "profile" -> Map("INPUT" -> req, "COLUMNS" -> req, "OUTPUT" -> req),
    "dq-check" -> Map("INPUT" -> req, "RULES" -> req, "OUTPUT" -> req),
    "dedup-exact" -> Map("INPUT" -> req, "KEYS" -> req, "ORDER" -> optIn,
      "OUTPUT" -> req),
    "minhash-dedup" -> Map("INPUT" -> req, "OUTPUT" -> req, "ID_COL" -> optIn,
      "TEXT_COL" -> optIn,
      "NUM_HASHES" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "BAND_SIZE" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "MIN_JACCARD" -> TaskInput(required = false, inputType = Some(InputType.TFloat))),
    "similarity-topk" -> Map("INPUT" -> req, "OUTPUT" -> req,
      "K" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "PLANES" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "BANDS" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "DIMS" -> TaskInput(required = false, inputType = Some(InputType.TInt))),
    "asof-join" -> Map("LEFT" -> req, "RIGHT" -> req, "LEFT_KEY" -> req,
      "RIGHT_KEY" -> req, "LEFT_TIME" -> req, "RIGHT_TIME" -> req,
      "RIGHT_TIE" -> optIn, "OUTPUT" -> req),
    "media-frames" -> Map("INPUT" -> req, "OUTPUT" -> req,
      "TARGET_BYTES" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "FRAME_BYTES" -> TaskInput(required = false, inputType = Some(InputType.TInt)),
      "EVERY_K" -> TaskInput(required = false, inputType = Some(InputType.TInt)))
  ).map { case (name, schema) =>
    name -> Task(name = name, body = TaskBody.SparkOp(name), env = schema)
  }
}
