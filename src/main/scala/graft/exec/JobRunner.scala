package graft.exec

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.spec._

/** Raised when a command's task fails (reference TaskFailure, command.py:85-86): the
  * job aborts and the CLI exits with the task's return code. */
final case class TaskFailure(command: String, returncode: Int)
  extends RuntimeException(s"command '$command' failed with returncode $returncode")

/** Raised when the job's `data` directory does not exist (reference
  * JobDataDirectoryNotFound, job.py:26,211-214 + test_job.py:1119): the
  * reference never creates it — a missing data dir is a fatal misconfiguration
  * caught before any command runs (dryrun skips the check, job.py:195-196). */
final case class JobDataDirectoryNotFound(dataDir: String)
  extends RuntimeException(s"The job's `data` directory does not exist: $dataDir")

/** Job execution (reference Job.execute, job.py:146-209) with the same control flow:
  *
  *  1. conform the optional command-name filter (comma string or list,
  *     case-insensitive, job.py:147-157)
  *  2. build the task registry (discovery + engine built-ins)
  *  3. verify the data dir exists (job.py:196,211-214)
  *  4. **fail-fast**: validate every command's inputs against its task schema before
  *     anything runs (job.py:198-200)
  *  5. run sequentially; `skip: true` commands are pruned from execution but were
  *     already resolved and stay referenceable (command.py:45-51)
  *  6. a non-zero task → TaskFailure aborts the job
  *
  * `dryrun` prints the fully-resolved manifest instead of executing.
  *
  * Every line renders through `log`, a [[ContextLogger]] of JOB/COMMAND scopes
  * (reference R15 nested log contexts). */
final class JobRunner(spark: SparkSession, log: ContextLogger) {

  private def out(msg: String): Unit = log.line(msg)
  private def warn(msg: String): Unit = out(s"WARNING: $msg")

  private def buildRegistry(resolved: Job): Registry = {
    // discovery narrates like the reference (test_end_to_end.py:352-433
    // goldens): per-manifest "Loading task at:" then the detected-task catalogue
    if (resolved.tasks.nonEmpty)
      out("Discovering tasks at paths: " +
        resolved.tasks.map(t => s"'$t'").mkString("[", ", ", "]"))
    else warn("The property `tasks` is not defined in the job manifest, " +
      "no tasks will be available")
    val discovered = Registry.discover(resolved.tasks, warn, out, e => out(s"ERROR: $e"))
    if (discovered.names.nonEmpty) {
      out("Available tasks detected:")
      discovered.names.foreach(n => out(s" - $n"))
    }
    Ops.builtins.values.foldLeft(discovered) { (r, op) =>
      if (r.get(op.name).isDefined) r else r.withTask(op.task)
    }
  }

  /** Run one task's in-manifest tests from the CLI (`--test-task NAME`). The
    * reference defines the tests mechanism (task.py:161-193) but ships no runner;
    * this closes that last gap: resolve the job, discover the task, execute each
    * test case (env + verify, exit 0 = pass) and report per-case results. */
  def testTask(job: Job, taskName: String): Map[String, Boolean] = {
    val resolved = Placeholders.resolve(job, sys.env, warn)
    val registry = buildRegistry(resolved)
    val task = registry.get(taskName).getOrElse(
      throw SpecError(s"unknown task '$taskName'"))
    if (task.tests.isEmpty) out(s"task '${task.name}' declares no tests")
    val results = runTaskTests(task, new JobContext(spark, resolved.data, log))
    results.toSeq.sortBy(_._1).foreach { case (name, ok) =>
      out(s"TEST ${task.name}/$name: ${if (ok) "PASS" else "FAIL"}")
    }
    results
  }

  def execute(job: Job, commands: Option[Seq[String]] = None,
      dryrun: Boolean = false): Unit = {
    val resolved = Placeholders.resolve(job, sys.env, warn)
    // reference job.py:159: the JOB frame opens first; discovery and the
    // parsed-manifest line narrate inside it
    log.jobStart(resolved.name)
    log.info(s"Parsed manifest for job: ${resolved.name}")
    val registry = buildRegistry(resolved)

    val filter = commands.map(_.flatMap(_.split(",")).map(c => Keys.snake(c.trim)).toSet)
    val selected = resolved.commands.zipWithIndex.filter { case (c, i) =>
      filter.forall(f =>
        f.contains(Keys.snake(c.name.getOrElse(""))) || f.contains(i.toString))
    }
    if (filter.isDefined && selected.isEmpty)
      throw SpecError(s"no commands match filter ${commands.get.mkString(",")}")

    // Reference job.py:190-193: with a --commands filter active, each
    // filtered-OUT command gets its own skip warning while the filtered list
    // is built (manifest order, before validation). Python's f-string renders
    // a missing name as `None`.
    filter.foreach { _ =>
      val kept = selected.map(_._2).toSet
      resolved.commands.zipWithIndex.foreach { case (c, i) =>
        if (!kept.contains(i)) log.warning(s"Skipping command `${c.name.getOrElse("None")}`")
      }
    }

    // Reference job.py:195-196,211-214: a missing data dir is FATAL (the
    // reference never creates it) — logger.fatal renders the bare message
    // (CRITICAL carries no ERROR/WARNING prefix, logging.py:147-153), then
    // JobDataDirectoryNotFound aborts. Dryrun skips the check.
    if (!dryrun && !Files.exists(Paths.get(resolved.data))) {
      out(s"The job's `data` directory does not exist: ${resolved.data}")
      throw JobDataDirectoryNotFound(resolved.data)
    }

    // fail-fast: validate ALL selected commands before running ANY (job.py:198-200),
    // including that a `spark-op:` task names a built-in op
    val errors = selected.flatMap { case (cmd, _) =>
      val task = registry.get(cmd.task).getOrElse(
        throw SpecError(s"unknown task '${cmd.task}'"))
      val opError = task.body match {
        case TaskBody.SparkOp(op) if !Ops.builtins.contains(op) => List(unknownOp(task, op))
        case _ => Nil
      }
      Validation.validate(task, cmd.env, warn) ++ opError
    }
    if (errors.nonEmpty)
      throw SpecError("input validation failed:\n  " + errors.mkString("\n  "))

    // n = UNFILTERED total, mirroring job.py:207's len(self.commands), so
    // headers under a --commands filter read "1 of 3"
    val n = resolved.commands.size
    if (dryrun) {
      // Reference dryrun (job.py:160-171, golden-tested test_end_to_end.py:252-349):
      // the fully-resolved manifest as an indented YAML dump — users inspect resolved
      // placeholders here — then, per command, what WOULD execute (run/cwd/env with
      // the task's declared defaults, reference task.py dryrun branch) without
      // running anything.
      out(s"DRYRUN: job '${resolved.name}' — manifest parsed as:")
      ManifestRender.job(resolved).foreach(l => out(s"  $l"))
      selected.zipWithIndex.foreach { case ((cmd, _), i) =>
        val label = cmd.name.getOrElse(cmd.task)
        if (cmd.skip) out(s"DRYRUN: [${i + 1}/$n] '$label' skipped")
        else {
          out(s"DRYRUN: [${i + 1}/$n] '$label' (task ${cmd.task}) would execute with:")
          val task = registry.get(cmd.task).get
          val env = Validation.withDefaults(task, cmd.env)
          val runLine = task.body match {
            case TaskBody.SparkOp(op) => s"spark-op: $op"
            case TaskBody.Exec(argv) => s"run: ${argv.mkString(" ")}"
            case TaskBody.Script(interp, script) =>
              s"run: ${interp.mkString(" ")} ${script.linesIterator.mkString("; ")}"
          }
          out(s"  $runLine")
          task.basedir.foreach(d => out(s"  cwd: $d"))
          out(s"  env: ${renderEnv(env)}")
        }
      }
    } else {
      val ctx = new JobContext(spark, resolved.data, log)
      selected.zipWithIndex.foreach { case ((cmd, _), i) =>
        if (cmd.skip) {
          // reference skip label (job.py:205): `#N` for unnamed commands
          val skipLabel = cmd.name.getOrElse(s"#${i + 1}")
          out(s"Skipping command `$skipLabel` from job '${resolved.name}'")
        } else {
          log.commandStart(cmd.name, i + 1, n)
          // reference command echo (test_end_to_end goldens): the resolved
          // command model, 2-space indented, nulls explicit
          commandEcho(cmd).foreach(l => out(s"  $l"))
          val task = registry.get(cmd.task).get
          val env = Validation.withDefaults(task, cmd.env)
          // reference command.py:79-85: the task execution is its own COMMAND
          // frame, closed by a "Return code: N" footer
          log.taskStart(cmd.task)
          val rc = executeTask(task, env, ctx)
          log.taskEnd(rc)
          log.commandEnd()
          if (rc != 0) throw TaskFailure(cmd.name.getOrElse(cmd.task), rc)
        }
      }
    }
    // Reference logs "Done! \o/" INSIDE the job frame (job.py:209; gaudy
    // golden test_end_to_end.py:346 shows `│ Done! \o/`), after a dryrun too,
    // before it closes.
    log.info("Done! \\o/")
    log.jobEnd(resolved.name)
  }

  /** The reference's pre-execution command dump (explicit nulls, full
    * field set — unlike the dryrun manifest render, which is exclude_unset). */
  private def commandEcho(c: Command): List[String] = {
    val b = List.newBuilder[String]
    b += s"name: ${c.name.getOrElse("null")}"
    b += s"description: ${c.description.getOrElse("null")}"
    b += s"task: ${c.task}"
    if (c.env.nonEmpty) {
      b += "env:"
      // Reference echo is yaml.dump(sort_keys=False): env entries keep
      // INSERTION order (VectorMap preserves it) and scalars render as
      // YAML — lowercase true/false, not Python's True/False.
      c.env.foreach { case (k, v) => b += s"  $k: ${yamlScalar(v)}" }
    }
    b += s"skip: ${if (c.skip) "true" else "false"}"
    b.result()
  }

  /** YAML scalar form for the command echo (yaml.dump semantics for the
    * scalar types the spec layer carries). */
  private def yamlScalar(v: EnvValue): String = v match {
    case EnvValue.BoolV(b) => if (b) "true" else "false"
    case EnvValue.NullV => "null"
    case other => other.render
  }

  private def renderEnv(env: Map[String, EnvValue]): String =
    env.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.render}" }.mkString("{", ", ", "}")

  /** Task execution (reference Task.execute, task.py:291-347). Spark-op bodies run a
    * registered DataFrame operator; exec bodies run a real subprocess with
    * cwd=basedir, env=host env + stringified inputs, stdout streamed line-by-line
    * into the logger (never materialized — memory stays bounded). */
  def executeTask(task: Task, env: Map[String, EnvValue], ctx: JobContext): Int =
    task.body match {
      case TaskBody.SparkOp(op) =>
        Ops.builtins.getOrElse(op, throw SpecError(unknownOp(task, op)))(ctx, env)
        0
      case TaskBody.Exec(argv) => runSubprocess(task, argv, env)
      case TaskBody.Script(interp, script) => runSubprocess(task, interp :+ script, env)
    }

  private def unknownOp(task: Task, op: String): String =
    s"unknown spark-op '$op' in task '${task.name}'"

  private def runSubprocess(task: Task, argv: List[String],
      env: Map[String, EnvValue]): Int = {
    val pb = new ProcessBuilder(argv: _*)
    task.basedir.foreach(d => pb.directory(new java.io.File(d)))
    val penv = pb.environment()
    env.foreach { case (k, v) => penv.put(k, v.render) } // bool → "True" (task.py:307)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    try {
      var line = reader.readLine()
      // raw stdout lines (the COMMAND frame supplies the visual context;
      // reference streams them unprefixed — e2e goldens)
      while (line != null) { out(line); line = reader.readLine() }
    } finally reader.close()
    proc.waitFor()
  }

  /** Run a task's in-manifest tests (reference task.py:161-193 + task_test_case.py):
    * execute with the test env, then the `verify` command; exit 0 = pass. A case
    * that throws fails, and its error is logged. */
  def runTaskTests(task: Task, ctx: JobContext): Map[String, Boolean] =
    task.tests.map { case (name, tc) =>
      val rc = try {
        val envd = Validation.withDefaults(task, tc.env)
        val r = executeTask(task, envd, ctx)
        if (r == 0) runSubprocess(task, tc.verify, envd) else r
      } catch {
        case e: Exception =>
          ctx.log(s"ERROR: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
          1
      }
      name -> (rc == 0)
    }
}
