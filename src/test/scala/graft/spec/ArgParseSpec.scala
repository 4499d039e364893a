package graft.spec

import org.scalatest.funsuite.AnyFunSuite

/** R14 env→args bridge (reference tests/test_argparser.py:173-277): env backfills
  * missing args, CLI overrides env, defaults fill the rest, typed conversion. */
class ArgParseSpec extends AnyFunSuite {

  private val task = Yaml.taskFromString(
    """name: download
      |description: Download files from a remote server
      |env:
      |  URL:
      |    description: URL to download
      |    type: str
      |  THROTTLE:
      |    description: Seconds to wait between downloads
      |    type: float
      |  FOLLOW_REDIRECTS:
      |    description: Follow HTTP redirects
      |    type: bool
      |run: download
      |""".stripMargin, basedir = Some("/tmp"))

  private val fullEnv = Map(
    "URL" -> "http://www.example.com", "THROTTLE" -> "1.1", "FOLLOW_REDIRECTS" -> "true")

  test("arg_name_for_env: MY_ENV_VAR -> my-env-var") {
    assert(ArgParse.argNameForEnv("MY_ENV_VAR") == "my-env-var")
  }

  test("all values from env (test_argument_parser_all_from_env)") {
    val r = ArgParse.parseArgs(task, Nil, fullEnv)
    assert(r("URL") == EnvValue.Str("http://www.example.com"))
    assert(r("THROTTLE") == EnvValue.FloatV(1.1))
    assert(r("FOLLOW_REDIRECTS") == EnvValue.BoolV(true))
  }

  test("some from env, some from CLI (test_argument_parser_some_from_env)") {
    val r = ArgParse.parseArgs(task, Seq("--url=http://www.example.com"),
      fullEnv - "URL")
    assert(r("URL") == EnvValue.Str("http://www.example.com"))
    assert(r("THROTTLE") == EnvValue.FloatV(1.1))
  }

  test("CLI overrides env (test_argument_parser_cli_args_override_env)") {
    val r = ArgParse.parseArgs(task,
      Seq("--url=http://www.cli-url.com", "--throttle=2.2"), fullEnv)
    assert(r("URL") == EnvValue.Str("http://www.cli-url.com"))
    assert(r("THROTTLE") == EnvValue.FloatV(2.2))
    assert(r("FOLLOW_REDIRECTS") == EnvValue.BoolV(true))
  }

  test("space-separated form and last-occurrence-wins") {
    val r = ArgParse.parseArgs(task,
      Seq("--url", "http://a", "--url=http://b", "--throttle", "3.5",
        "--follow-redirects", "false"), Map.empty)
    assert(r("URL") == EnvValue.Str("http://b"))
    assert(r("THROTTLE") == EnvValue.FloatV(3.5))
    assert(r("FOLLOW_REDIRECTS") == EnvValue.BoolV(false))
  }

  test("declared default fills an absent optional input") {
    val t = Yaml.taskFromString(
      """name: dummy
        |env:
        |  VAR:
        |    description: The best variable ever
        |    optional: true
        |    type: int
        |    default: 1
        |run: dummy
        |""".stripMargin, basedir = Some("/tmp"))
    assert(ArgParse.parseArgs(t, Nil, Map.empty)("VAR") == EnvValue.IntV(1))
    assert(ArgParse.parseArgs(t, Seq("--var=2"), Map.empty)("VAR") == EnvValue.IntV(2))
  }

  test("missing required input raises, unknown argument raises, bad types raise") {
    // reference golden (test_argparser.py:128): argparse aggregates missing
    // required args into one message, in declaration order
    val e1 = intercept[SpecError](ArgParse.parseArgs(task, Nil, Map.empty))
    assert(e1.getMessage.startsWith("the following arguments are required: --"))
    val e2 = intercept[SpecError](
      ArgParse.parseArgs(task, Seq("--nope=1"), fullEnv))
    assert(e2.getMessage == "unrecognized arguments: --nope=1")
    // stdlib wording: `argument --name: invalid <type> value: '<raw>'`
    assert(intercept[SpecError](ArgParse.parseArgs(task,
      Seq("--throttle=abc"), fullEnv)).getMessage
      .contains("argument --throttle: invalid float value: 'abc'"))
    assert(intercept[SpecError](ArgParse.parseArgs(task,
      Seq("--follow-redirects=maybe"), fullEnv)).getMessage
      .contains("argument --follow-redirects: invalid bool value: 'maybe'"))
  }

  test("round-14 sweep: int conversion failure uses the stdlib message; all missing listed") {
    val t2 = Yaml.taskFromString(
      "name: dummy\nenv:\n  A_VAR:\n    required: true\n    type: int\n" +
        "  B_VAR:\n    required: true\nrun: d\n")
    assert(intercept[SpecError](ArgParse.parseArgs(t2,
      Seq("--a-var=xyz", "--b-var=1"), Map.empty)).getMessage
      == "argument --a-var: invalid int value: 'xyz'")
    assert(intercept[SpecError](ArgParse.parseArgs(t2, Nil, Map.empty))
      .getMessage == "the following arguments are required: --a-var, --b-var")
  }

  test("round-15 ADVICE: invalid provided value errors BEFORE missing-required aggregation") {
    // stdlib argparse converts during consumption; the required check runs at
    // end-of-parse — so `--a-var=xyz` with B_VAR absent reports the invalid
    // int, not the aggregated missing error
    val t2 = Yaml.taskFromString(
      "name: dummy\nenv:\n  A_VAR:\n    required: true\n    type: int\n" +
        "  B_VAR:\n    required: true\nrun: d\n")
    assert(intercept[SpecError](ArgParse.parseArgs(t2,
      Seq("--a-var=xyz"), Map.empty)).getMessage
      == "argument --a-var: invalid int value: 'xyz'")
    // env-sourced values are prepended before CLI args (reference
    // argparse.py:42-47), so they convert (and can fail) first too
    assert(intercept[SpecError](ArgParse.parseArgs(t2,
      Nil, Map("A_VAR" -> "xyz"))).getMessage
      == "argument --a-var: invalid int value: 'xyz'")
  }

  test("round-15 ADVICE: env-as-list keeps declaration order past 4 entries (VectorMap)") {
    val t3 = Yaml.taskFromString(
      "name: dummy\nenv: [ZED, ALPHA, MIKE, QUEBEC, BRAVO, YANKEE]\nrun: d\n")
    assert(t3.env.keys.toList ==
      List("ZED", "ALPHA", "MIKE", "QUEBEC", "BRAVO", "YANKEE"))
    assert(intercept[SpecError](ArgParse.parseArgs(t3, Nil, Map.empty))
      .getMessage == "the following arguments are required: " +
        "--zed, --alpha, --mike, --quebec, --bravo, --yankee")
  }

  // --- remaining reference ids (tests/test_argparser.py), case-by-case ------

  test("test_argument_parser_from_file_or_task (:42): file- and string-built tasks parse alike") {
    val root = java.nio.file.Files.createTempDirectory("graft-argp")
    java.nio.file.Files.writeString(root.resolve("manifest.yml"),
      "name: download\nenv:\n  URL:\n    type: str\nrun: download\n")
    val fromFile = Yaml.taskFromFile(root.resolve("manifest.yml").toString)
    val r = ArgParse.parseArgs(fromFile, Seq("--url=http://x"), Map.empty)
    assert(r("URL") == EnvValue.Str("http://x"))
  }

  test("test_argument_parser_help (:46): argparse-format help golden") {
    val t = Yaml.taskFromString(
      """name: download
        |description: Download files from a remote server
        |env:
        |  URL:
        |    description: URL to download
        |    type: str
        |    required: true
        |  THROTTLE:
        |    description: Seconds to wait between downloads
        |    type: float
        |    optional: true
        |  FOLLOW_REDIRECTS:
        |    description: Follow HTTP redirects
        |    type: bool
        |    optional: true
        |run: python -m download
        |""".stripMargin)
    assert(ArgParse.helpLines(t, "python -m download") == List(
      "usage: python -m download [-h] --url URL [--throttle THROTTLE]",
      "                          [--follow-redirects FOLLOW_REDIRECTS]",
      "",
      "Download files from a remote server",
      "",
      "options:",
      "  -h, --help            show this help message and exit",
      "  --url URL             URL to download",
      "  --throttle THROTTLE   Seconds to wait between downloads",
      "  --follow-redirects FOLLOW_REDIRECTS",
      "                        Follow HTTP redirects"))
  }

  // The four goldens below are python3 3.11 argparse output at COLUMNS=80 for a
  // parser built the way the reference builds one from a task (prog, the task
  // description, one `--my-var` option per input with `required` and `help`).
  private def helpTask(description: Option[String], inputs: (String, Boolean, Option[String])*) =
    Task(name = "t", body = TaskBody.Exec(List("true")), description = description,
      env = scala.collection.immutable.VectorMap.from(inputs.map { case (k, req, help) =>
        k -> TaskInput(description = help, required = req)
      }))

  test("help golden: short invocations put help at longest invocation + 4") {
    assert(ArgParse.helpLines(helpTask(None, ("A", true, Some("Alpha value")),
        ("BB", false, Some("Beta value"))), "python -m short") == List(
      "usage: python -m short [-h] --a A [--bb BB]",
      "",
      "options:",
      "  -h, --help  show this help message and exit",
      "  --a A       Alpha value",
      "  --bb BB     Beta value"))
  }

  test("help golden: a 21-character invocation takes its own line; no help, no help line") {
    assert(ArgParse.helpLines(helpTask(None,
        ("ABCDEFGH", true, Some("Nineteen wide, same line")),
        ("ABCDEFGHI", false, Some("Twenty-one wide, own line")),
        ("QUIET", false, None)), "python -m wide") == List(
      "usage: python -m wide [-h] --abcdefgh ABCDEFGH [--abcdefghi ABCDEFGHI]",
      "                      [--quiet QUIET]",
      "",
      "options:",
      "  -h, --help            show this help message and exit",
      "  --abcdefgh ABCDEFGH   Nineteen wide, same line",
      "  --abcdefghi ABCDEFGHI",
      "                        Twenty-one wide, own line",
      "  --quiet QUIET"))
  }

  test("help golden: a 79-character usage line wraps") {
    assert(ArgParse.helpLines(helpTask(None, ("SOURCE", true, Some("Where to read")),
        ("TARGET", true, Some("Where to write")),
        ("RETRIES", false, Some("How often to retry"))), "python -m copy7") == List(
      "usage: python -m copy7 [-h] --source SOURCE --target TARGET",
      "                       [--retries RETRIES]",
      "",
      "options:",
      "  -h, --help         show this help message and exit",
      "  --source SOURCE    Where to read",
      "  --target TARGET    Where to write",
      "  --retries RETRIES  How often to retry"))
  }

  test("help golden: description and help text wrap, breaking after a hyphen") {
    assert(ArgParse.helpLines(helpTask(
        Some("Copies every file of a remote bucket into the data dir, resuming " +
          "partially-downloaded files and verifying each checksum afterwards."),
        ("URL", true, Some("The bucket URL to read from; every object under its " +
          "prefix is copied, including zero-length placeholder objects written by " +
          "older clients.")),
        ("WORKERS", false, Some("Number of concurrent copy workers"))),
      "python -m wrapped") == List(
      "usage: python -m wrapped [-h] --url URL [--workers WORKERS]",
      "",
      "Copies every file of a remote bucket into the data dir, resuming partially-",
      "downloaded files and verifying each checksum afterwards.",
      "",
      "options:",
      "  -h, --help         show this help message and exit",
      "  --url URL          The bucket URL to read from; every object under its",
      "                     prefix is copied, including zero-length placeholder",
      "                     objects written by older clients.",
      "  --workers WORKERS  Number of concurrent copy workers"))
  }

  test("test_argument_parser_types (:90): typed conversion per declared type") {
    def t(tpe: String) = Yaml.taskFromString(
      s"name: dummy\nenv:\n  VAR:\n    type: $tpe\n    required: true\nrun: d\n")
    assert(ArgParse.parseArgs(t("int"), Seq("--var=1"), Map.empty)("VAR") == EnvValue.IntV(1))
    assert(ArgParse.parseArgs(t("float"), Seq("--var=1.1"), Map.empty)("VAR") == EnvValue.FloatV(1.1))
    assert(ArgParse.parseArgs(t("bool"), Seq("--var=true"), Map.empty)("VAR") == EnvValue.BoolV(true))
    assert(ArgParse.parseArgs(t("str"), Seq("--var=one"), Map.empty)("VAR") == EnvValue.Str("one"))
  }

  test("test_argument_parser_required (:110): missing required errors; optional is null") {
    val req = Yaml.taskFromString(
      "name: dummy\nenv:\n  VAR:\n    required: true\nrun: d\n")
    val e = intercept[SpecError](ArgParse.parseArgs(req, Nil, Map.empty))
    assert(e.getMessage.contains("--var"))
    val opt = Yaml.taskFromString(
      "name: dummy\nenv:\n  VAR:\n    required: false\nrun: d\n")
    assert(ArgParse.parseArgs(opt, Nil, Map.empty)("VAR") == EnvValue.NullV)
  }

  test("test_argument_parser_default (:133) / default_argv (:154): default fills, CLI overrides") {
    val t = Yaml.taskFromString(
      "name: dummy\nenv:\n  VAR:\n    optional: true\n    type: int\n    default: 1\nrun: d\n")
    assert(ArgParse.parseArgs(t, Nil, Map.empty)("VAR") == EnvValue.IntV(1))
    assert(ArgParse.parseArgs(t, Seq("--var=2"), Map.empty)("VAR") == EnvValue.IntV(2))
  }

  // --- round-15 fidelity sweep #5: stdlib consumption-order semantics -------
  // Every golden below was generated from CPython 3.11 stdlib argparse with a
  // parser mirroring the reference's ArgumentParser (prog "download",
  // --url str required, --count int required, --coal str optional).

  private val cTask = Yaml.taskFromString(
    """name: download
      |env:
      |  URL:
      |    type: str
      |    required: true
      |  COUNT:
      |    type: int
      |    required: true
      |  COAL:
      |    type: str
      |    optional: true
      |run: download
      |""".stripMargin, basedir = Some("/tmp"))

  test("unrecognized arguments collect and error AFTER parsing, space-joined") {
    // stdlib: `download: error: unrecognized arguments: --a=1 --b 2`
    // (unknown space-form options do NOT consume the next token; it lands in
    // extras as a stray positional)
    val e = intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=3", "--a=1", "--b", "2"), Map.empty))
    assert(e.getMessage == "unrecognized arguments: --a=1 --b 2")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=3", "stray"), Map.empty)).getMessage
      == "unrecognized arguments: stray")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=3", "-x"), Map.empty)).getMessage
      == "unrecognized arguments: -x")
  }

  test("error precedence: invalid value > missing required > unrecognized") {
    // unknown + missing required -> missing wins (stdlib raises required at
    // end of parse_known_args, unrecognized later in parse_args)
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--nope=5"), Map.empty)).getMessage
      == "the following arguments are required: --count")
    // unknown + invalid value -> invalid wins (raised during consumption)
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=abc", "--nope=5"), Map.empty)).getMessage
      == "argument --count: invalid int value: 'abc'")
  }

  test("convert-on-consume: a repeated argument converts EVERY occurrence") {
    // stdlib errors on the first occurrence's conversion even though a later
    // valid occurrence would win
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=xyz", "--count=5"), Map.empty)).getMessage
      == "argument --count: invalid int value: 'xyz'")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=5", "--count=xyz"), Map.empty)).getMessage
      == "argument --count: invalid int value: 'xyz'")
  }

  test("reference quirk: env prepend is NEVER suppressed by a CLI override") {
    // argparse.py:40-41 compares match[0] ("--count=") against the bare name
    // ("count"), so the provided-on-CLI guard never fires: an invalid env
    // value errors during consumption even when the CLI overrides it, in
    // BOTH the = form and the space form
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=5"), Map("COUNT" -> "zz"))).getMessage
      == "argument --count: invalid int value: 'zz'")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count", "5"), Map("COUNT" -> "zz"))).getMessage
      == "argument --count: invalid int value: 'zz'")
    // valid env + CLI override: CLI still wins via last-wins
    assert(ArgParse.parseArgs(cTask, Seq("--url=u", "--count=5"),
      Map("COUNT" -> "7"))("COUNT") == EnvValue.IntV(5))
  }

  test("unique-prefix abbreviation resolves; ambiguous prefix errors with candidates") {
    assert(ArgParse.parseArgs(cTask, Seq("--url=u", "--cou=5"),
      Map.empty)("COUNT") == EnvValue.IntV(5))
    assert(ArgParse.parseArgs(cTask, Seq("--url=u", "--cou", "5"),
      Map.empty)("COUNT") == EnvValue.IntV(5))
    // stdlib lists --help first (registered first), then declaration order,
    // and shows the FULL offending token including the =value part
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--co=5"), Map.empty)).getMessage
      == "ambiguous option: --co=5 could match --count, --coal")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=3", "--=x"), Map.empty)).getMessage
      == "ambiguous option: --=x could match --help, --url, --count, --coal")
  }

  test("space-form value classification: option-like tokens are not values") {
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count"), Map.empty)).getMessage
      == "argument --count: expected one argument")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count", "--coal", "x"), Map.empty)).getMessage
      == "argument --count: expected one argument")
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count", "-x"), Map.empty)).getMessage
      == "argument --count: expected one argument")
    // negative numbers ARE consumable values (stdlib _negative_number_matcher)
    assert(ArgParse.parseArgs(cTask, Seq("--url=u", "--count", "-5"),
      Map.empty)("COUNT") == EnvValue.IntV(-5))
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count", "-5.5"), Map.empty)).getMessage
      == "argument --count: invalid int value: '-5.5'")
    // a token with an embedded space is never option-like
    assert(ArgParse.parseArgs(cTask, Seq("--url", "-a b", "--count=3"),
      Map.empty)("URL") == EnvValue.Str("-a b"))
    // empty inline value converts (and fails for int) rather than dangling
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count="), Map.empty)).getMessage
      == "argument --count: invalid int value: ''")
  }

  test("-- separator: everything after (and the -- itself) is unrecognized extras") {
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--count=3", "--", "tail"), Map.empty)).getMessage
      == "unrecognized arguments: -- tail")
    // options after -- are positionals; missing-required still wins
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--url=u", "--", "--count=3"), Map.empty)).getMessage
      == "the following arguments are required: --count")
  }

  test("-h / --help / unambiguous --h prefix raise HelpRequested mid-scan") {
    intercept[ArgParse.HelpRequested](
      ArgParse.parseArgs(cTask, Seq("--url=u", "-h"), Map.empty))
    intercept[ArgParse.HelpRequested](
      ArgParse.parseArgs(cTask, Seq("--help"), Map.empty))
    // --h uniquely prefixes --help here (no declared option starts with h);
    // stdlib prints help and exits 0 even with required args missing
    intercept[ArgParse.HelpRequested](
      ArgParse.parseArgs(cTask, Seq("--h"), Map.empty))
    // help wins over a LATER invalid value, loses to an EARLIER one
    intercept[ArgParse.HelpRequested](
      ArgParse.parseArgs(cTask, Seq("-h", "--count=abc"), Map.empty))
    assert(intercept[SpecError](ArgParse.parseArgs(cTask,
      Seq("--count=abc", "-h"), Map.empty)).getMessage
      == "argument --count: invalid int value: 'abc'")
  }
}
