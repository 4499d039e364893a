package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import graft.exec.{ContextLogger, JobRunner, TaskFailure}
import graft.spec.Yaml

/** CLI entry point (reference __main__.py:12-63):
  * `graft.cli.Main job.yml [-c cmd1,cmd2] [--dry-run] [-l|--log-style STYLE]
  * [-t|--no-timestamps]`. Exit code mirrors a failing task's return code.
  *
  * Log styles accept BOTH this engine's names and the reference's spellings
  * (__main__.py `choices=["minimal","moderate","gaudy"]`, default gaudy):
  * gaudy→box (default), moderate→compact, minimal→plain. */
object Main {

  private val usage = "usage: graft.cli.Main <job.yml> [-c commands] [--dry-run] " +
    "[-l|--log-style box|compact|plain|gaudy|moderate|minimal] [-t|--no-timestamps] " +
    "[--test-task NAME]"

  // Reference spellings are canonical (ContextLogger renders the reference's
  // golden transcripts); this engine's earlier names remain as aliases.
  // NOTE the reference's argparse choices list ALSO carries the ints 1/2/3
  // (__main__.py:28), but argparse compares the CLI string "1" against the
  // int 1 — those alternatives are unreachable, so only the three spellings
  // are real; "-l 1" errors out (exit 2) there and here alike.
  private val styleAliases = Map(
    "gaudy" -> "gaudy", "moderate" -> "moderate", "minimal" -> "minimal",
    "box" -> "gaudy", "compact" -> "moderate", "plain" -> "minimal")

  /** `-h`/`--help` golden (reference `__main__.py:12-38` argument_parser();
    * round-15 fresh-eyes sweep #4c), rendered by the stdlib-argparse formatter
    * [[graft.spec.ArgParse.formatHelp]]. The `{1,2,3,...}` choices metavar is
    * rendered as argparse does — including the unreachable int choices (see the
    * styleAliases note above). Engine-only extensions are listed after the
    * golden block so the reference transcript stays an exact prefix. */
  def helpText: String = {
    val style = "{1,2,3,minimal,moderate,gaudy}"
    val decoHelp = "Sets the amount to decoration to add around logs from 1 " +
      "(minimal) to 3 (gaudy)."
    val golden = graft.spec.ArgParse.formatHelp("xETL",
      List("[-h]", "[-c COMMANDS]", s"[-l $style]", "[-t]", "[--dryrun]"), List("manifest"),
      description = None, List(
        "positional arguments" -> List("manifest" ->
          ("Path to job manifest YAML file. Relative paths are resolved relative " +
            "to the current working directory.")),
        "options" -> List(
          "-h, --help" -> "show this help message and exit",
          "-c COMMANDS, --commands COMMANDS" ->
            ("Comma-separated list of commands to execute. Commands will be " +
              "executed in the order defined by the job, regardless of the " +
              "order in this list."),
          s"-l $style, --log-style $style" -> decoHelp,
          "-t, --no-timestamps" -> decoHelp,
          "--dryrun" -> "Print the task details instead of executing them")))
    (golden ++ List("", "engine extensions:",
      "  --dry-run             alias of --dryrun",
      "  --test-task NAME      run a task's in-manifest tests and exit",
      "  -l also accepts box (gaudy), compact (moderate), plain (minimal)"))
      .mkString("", "\n", "\n")
  }

  /** The reference keys color on `sys.stdout.isatty()` (logging.py:111-112);
    * the JVM analog is an attached console — non-null exactly when the process
    * runs interactively, null under redirects/tests/CI, so transcript
    * comparisons always see the uncolored form, like the reference's. */
  def autoColor: Boolean = System.console() != null

  /** Post-argparse CLI body (reference __main__.py:41-63), testable: returns
    * the process exit code, emits through `sink`, and only forces the
    * SparkSession once the manifest is known to exist (it does NOT own the
    * session lifecycle — `main` stops what it started).
    *
    * Reference exit paths, transcript-exact:
    *  - missing manifest: plain "Job manifest file does not exist: <abspath>"
    *    (a bare print, not a logger line — __main__.py:54-56), exit 1
    *  - TaskFailure: "Task failed, terminating job." (logger.fatal at NONE
    *    context renders bare — CRITICAL takes no ERROR/WARNING prefix,
    *    logging.py:147-153), exit = the task's return code (__main__.py:61-63)
    *  - any other error: exit 1 (the reference shows a traceback; the engine
    *    renders one "ERROR: <message>" line) */
  def runCli(manifest: String, commands: Option[Seq[String]], dryrun: Boolean,
      style: String, timestamps: Boolean, testTask: Option[String],
      colored: Boolean, sink: String => Unit,
      sparkF: () => SparkSession): Int = {
    val p = Paths.get(manifest).toAbsolutePath
    if (!Files.exists(p)) {
      sink(s"Job manifest file does not exist: $p")
      return 1
    }
    try {
      val spark = sparkF()
      val ctx = new ContextLogger(sink, style, timestamps, colored)
      val runner = new JobRunner(spark, ctx)
      ctx.info(s"Loading job manifest at: $p")
      testTask match {
        case Some(name) =>
          val results = runner.testTask(Yaml.jobFromFile(p.toString), name)
          if (results.values.exists(!_)) 1 else 0
        case None =>
          // "Done! \o/" is logged by JobRunner.execute inside the job frame
          // (reference job.py:209) — not here after the frame closes.
          runner.execute(Yaml.jobFromFile(p.toString), commands, dryrun)
          0
      }
    } catch {
      case TaskFailure(_, rc) =>
        sink("Task failed, terminating job.")
        rc
      case e: Exception =>
        sink(s"ERROR: ${e.getMessage}")
        1
    }
  }

  def main(args: Array[String]): Unit = {
    def usageExit(msg: String): Nothing = {
      System.err.println(msg)
      System.err.println(usage)
      sys.exit(2)
    }
    // flags taking a value must not be the last argument (ADVICE: unguarded
    // args(i+1) threw ArrayIndexOutOfBounds instead of printing usage)
    def valueOf(flag: String, i: Int): String =
      if (i + 1 < args.length) args(i + 1) else usageExit(s"$flag requires a value")
    var manifest: Option[String] = None
    var commands: Option[Seq[String]] = None
    var dryrun = false
    var style = "box"
    var timestamps = true
    var testTask: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-h" | "--help" =>
          // argparse prints help to stdout and exits 0 (__main__.py's parser)
          print(helpText)
          sys.exit(0)
        case f @ ("-c" | "--commands") =>
          commands = Some(valueOf(f, i).split(",").toSeq); i += 2
        case "--dry-run" | "--dryrun" => dryrun = true; i += 1
        case f @ ("-l" | "--log-style") =>
          val v = valueOf(f, i)
          style = styleAliases.getOrElse(v,
            usageExit(s"invalid $f '$v' (box|compact|plain|gaudy|moderate|minimal)"))
          i += 2
        case "-t" | "--no-timestamps" => timestamps = false; i += 1
        case f @ "--test-task" => testTask = Some(valueOf(f, i)); i += 2
        case other => manifest = Some(other); i += 1
      }
    }
    val path = manifest.getOrElse(usageExit("missing job manifest path"))
    def buildSpark(): SparkSession =
      graft.Harness.session(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val code = runCli(path, commands, dryrun, style, timestamps, testTask,
      colored = autoColor, sink = println, sparkF = buildSpark _)
    // stop only a session main actually started (missing-manifest exits early)
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }
}
