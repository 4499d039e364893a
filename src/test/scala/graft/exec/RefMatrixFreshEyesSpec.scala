package graft.exec

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Main
import graft.spec.{SpecError, Yaml}

/** Fresh-eyes reference-fidelity sweep (VERDICT r12 ask #7): corners of the
  * reference OUTSIDE the 116-id test matrix, ported case-by-case —
  *
  *  1. __main__.py:53-56 missing-manifest exit path (e2e test_invalid_job_yaml,
  *     test_end_to_end.py:587-601): plain "Job manifest file does not exist:
  *     <abspath>" + exit 1, emitted BEFORE any engine boot (runCli must not
  *     force the SparkSession)
  *  2. __main__.py:61-63 TaskFailure exit path (e2e golden :580): bare
  *     "Task failed, terminating job." after the frames (logger.fatal at NONE
  *     context — CRITICAL takes no ERROR/WARNING prefix, logging.py:147-153),
  *     exit code = the task's return code
  *  3. utils/io.py error chains (ChainedException.__str__ joins cause texts
  *     with "; "): "Failed to parse YAML, expected a dictionary" for a
  *     non-mapping root (io.py:28-30), "Failed to parse YAML; <cause>" for a
  *     scanner error (io.py:31-32), "Error while parsing YAML at path:
  *     <path>; <cause>" from the file loader (io.py:35-40), "Failed to load
  *     file; <cause>" for unreadable files (io.py:17-22) — and model-build
  *     errors stay UNWRAPPED (job.py:112-115 raises pydantic errors after
  *     parse_yaml_file returned)
  *  4. job.py:195-196,211-214 missing data dir: fatal bare message + abort
  *     before any command runs (test_job.py:1119), skipped under dryrun
  *  5. logging.py:111-112 tty autodetect: color keys off an attached
  *     console, never a config default
  */
class RefMatrixFreshEyesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def fixture(failRc: Option[Int] = None): (Path, String) = {
    val dir = Files.createTempDirectory("graft-fresheyes")
    val tasks = dir.resolve("tasks/echo")
    Files.createDirectories(tasks)
    Files.createDirectories(dir.resolve("data"))
    val body = failRc match {
      case Some(rc) => s"run: sh -c 'exit $rc'"
      case None => "run: sh -c 'echo ok'"
    }
    Files.writeString(tasks.resolve("manifest.yml"),
      s"""name: work
         |$body
         |""".stripMargin)
    val jobYml = dir.resolve("job.yml")
    Files.writeString(jobYml,
      s"""name: fresh-eyes-job
         |data: $dir/data
         |tasks:
         |  - $dir/tasks
         |commands:
         |  - name: go
         |    task: work
         |""".stripMargin)
    (dir, jobYml.toString)
  }

  // ---- 1. missing manifest (__main__.py:53-56, e2e :587-601) ---------------

  test("missing manifest: reference message with abspath, exit 1, no engine boot") {
    val buf = scala.collection.mutable.ListBuffer[String]()
    val missing = "/nonexistent/graft-fresheyes/job.yml"
    val code = Main.runCli(missing, None, dryrun = false, style = "minimal",
      timestamps = false, testTask = None, colored = false, sink = buf += _,
      sparkF = () => fail("SparkSession must not be forced for a missing manifest"))
    assert(code == 1)
    assert(buf.toList == List(s"Job manifest file does not exist: $missing"))
  }

  test("missing manifest: relative path is reported absolute (__main__.py:53 abspath)") {
    val buf = scala.collection.mutable.ListBuffer[String]()
    val code = Main.runCli("no-such-job.yml", None, dryrun = false,
      style = "minimal", timestamps = false, testTask = None, colored = false,
      sink = buf += _, sparkF = () => fail("must not boot"))
    assert(code == 1)
    val expected = java.nio.file.Paths.get("no-such-job.yml").toAbsolutePath
    assert(buf.toList == List(s"Job manifest file does not exist: $expected"))
  }

  // ---- 2. TaskFailure exit path (__main__.py:61-63, e2e golden :580) -------

  test("task failure: bare fatal line after the frames, exit = task rc") {
    val (_, jobYml) = fixture(failRc = Some(3))
    val buf = scala.collection.mutable.ListBuffer[String]()
    val code = Main.runCli(jobYml, None, dryrun = false, style = "gaudy",
      timestamps = false, testTask = None, colored = false, sink = buf += _,
      sparkF = () => spark)
    assert(code == 3, buf.mkString("\n"))
    // the COMMAND frame closes with its footer, then the fatal line is BARE
    // (no │/┃ prefix — the reference formatter has popped back to NONE)
    val out = buf.toList
    assert(out.last == "Task failed, terminating job.")
    assert(out.init.last == "┃╰──╴Return code: 3 ─╴╴╶ ╶", out.mkString("\n"))
    assert(!out.last.startsWith("│") && !out.last.startsWith("┃"))
  }

  test("successful job exits 0 with Done! inside the frame") {
    val (_, jobYml) = fixture()
    val buf = scala.collection.mutable.ListBuffer[String]()
    val code = Main.runCli(jobYml, None, dryrun = false, style = "gaudy",
      timestamps = false, testTask = None, colored = false, sink = buf += _,
      sparkF = () => spark)
    assert(code == 0, buf.mkString("\n"))
    assert(buf.exists(_.contains("Done! \\o/")))
    assert(!buf.exists(_.contains("Task failed")))
  }

  // ---- 3. io.py error chains ------------------------------------------------

  test("non-mapping YAML root: reference canonical message (io.py:28-30)") {
    val e = intercept[SpecError](Yaml.jobFromString("- a\n- b\n"))
    assert(e.getMessage == "Failed to parse YAML, expected a dictionary")
  }

  test("scanner error: 'Failed to parse YAML; <cause>' chain (io.py:31-32)") {
    // unclosed flow mapping — SnakeYAML raises; cause text is the library's
    // (the reference carries PyYAML's — library-specific by construction)
    val e = intercept[SpecError](Yaml.jobFromString("a: {b: [1, 2\n"))
    assert(e.getMessage.startsWith("Failed to parse YAML; "))
  }

  test("file loader wraps parse errors with the path (io.py:35-40)") {
    val dir = Files.createTempDirectory("graft-yamlerr")
    val f = dir.resolve("job.yml")
    Files.writeString(f, "- not\n- a\n- dict\n")
    val e = intercept[SpecError](Yaml.jobFromFile(f.toString))
    assert(e.getMessage ==
      s"Error while parsing YAML at path: $f; Failed to parse YAML, expected a dictionary")
  }

  test("unreadable file: 'Failed to load file; <cause>' chain (io.py:17-22)") {
    val e = intercept[SpecError](
      Yaml.jobFromFile("/nonexistent/graft-yamlerr/job.yml"))
    assert(e.getMessage.startsWith("Failed to load file; "))
  }

  test("model-build errors stay unwrapped (job.py:112-115)") {
    val dir = Files.createTempDirectory("graft-yamlerr2")
    val f = dir.resolve("job.yml")
    Files.writeString(f, "description: valid yaml, invalid job\n")
    val e = intercept[SpecError](Yaml.jobFromFile(f.toString))
    // pydantic's missing-field error is NOT wrapped by parse_yaml_file —
    // neither is the engine's equivalent
    assert(!e.getMessage.startsWith("Error while parsing YAML at path:"))
    assert(e.getMessage.contains("name"))
  }

  // ---- 4. missing data dir (job.py:195-196,211-214; test_job.py:1119) ------

  test("missing data dir: fatal message inside the frame, then abort") {
    val (dir, jobYml) = fixture()
    val buf = scala.collection.mutable.ListBuffer[String]()
    val ctx = new ContextLogger(buf += _, style = "gaudy", timestamps = false)
    val runner = new JobRunner(spark, ctx)
    val job = Yaml.jobFromFile(jobYml).copy(data = s"$dir/no-such-data")
    val e = intercept[JobDataDirectoryNotFound](runner.execute(job))
    assert(e.dataDir == s"$dir/no-such-data")
    // logger.fatal renders the bare message through the current frame
    assert(buf.exists(_.endsWith(
      s"The job's `data` directory does not exist: $dir/no-such-data")))
    assert(!buf.exists(_.contains("Done!")))
  }

  test("dryrun skips the data-dir check (job.py:195-196)") {
    val (dir, jobYml) = fixture()
    val buf = scala.collection.mutable.ListBuffer[String]()
    val runner = new JobRunner(spark, new ContextLogger(buf += _))
    val job = Yaml.jobFromFile(jobYml).copy(data = s"$dir/no-such-data")
    runner.execute(job, dryrun = true) // must not throw
    assert(buf.exists(_.contains("DRYRUN")))
  }

  // ---- 5. tty autodetect (logging.py:111-112) -------------------------------

  test("color keys off an attached console, not a config default") {
    // under sbt/CI there is no console — exactly the reference's non-tty
    // branch, where transcripts are uncolored
    assert(Main.autoColor == (System.console() != null))
    assert(!Main.autoColor,
      "test harness should be console-less; if this trips, the assertion " +
        "environment changed, not the wiring")
  }
}
