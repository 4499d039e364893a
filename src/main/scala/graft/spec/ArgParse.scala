package graft.spec

/** Task-side env→args bridge (R14; reference xetl/argparse.py:9-47, tested in
  * tests/test_argparser.py:173-277): exec-task authors declare inputs once in the
  * task manifest and get a CLI for free. Each declared env var `MY_VAR` becomes a
  * `--my-var` argument; values are resolved as
  *
  *   CLI argument  >  host env var  >  declared default
  *
  * (the reference prepends `--name=env_value` for every declared var set in the host
  * env and lets argparse's last-wins rule give CLI precedence). Values are converted
  * per the declared input type; a missing required input or a type failure raises
  * [[SpecError]] — the argparse usage-error analogue. One deliberate deviation:
  * `bool` parses true/false/1/0 (Python's `type=bool` treats any non-empty string,
  * including "false", as True — a stdlib quirk, not a semantic to preserve). */
object ArgParse {

  /** `-h` / `--help` (or an unambiguous prefix of `--help`) was consumed —
    * stdlib argparse prints the help text and exits 0 at that point; callers
    * render [[helpLines]]. Raised mid-scan, so it takes precedence over any
    * later invalid value and over the end-of-parse checks, same as stdlib. */
  final case class HelpRequested() extends RuntimeException("show this help message and exit")

  /** `MY_ENV_VAR` → `my-env-var` (reference arg_name_for_env, argparse.py:9-15). */
  def argNameForEnv(envName: String): String = envName.toLowerCase.replace('_', '-')

  /** stdlib argparse's `_negative_number_matcher`: a leading-dash token that
    * looks like a negative number is still consumable as an option's value
    * (parsers with no digit-leading option names, which is always true here). */
  private val NegativeNumber = "^-\\d+$|^-\\d*\\.\\d+$".r

  /** Parse `args` against the task's declared inputs, reproducing stdlib
    * argparse consumption semantics (round-15/16 fidelity sweep, pinned
    * against stdlib goldens in ArgParseSpec):
    *
    *   - host-env-sourced values are prepended as `--name=value` in
    *     declaration order (reference argparse.py:42-47). The reference's
    *     "skip when provided on the CLI" guard compares the full regex match
    *     `"--name="` (match[0], argparse.py:40-41) against the bare name, so
    *     it NEVER fires — env values are always prepended and always convert
    *     first; CLI occurrences override via last-wins.
    *   - every consumed occurrence converts IMMEDIATELY (convert-on-consume):
    *     a repeated `--a=bad --a=5` errors on the bad occurrence, and an
    *     invalid env value errors even when the CLI overrides it later.
    *   - unique-prefix abbreviation resolves against `--help` plus the
    *     declared options in declaration order; an ambiguous prefix errors
    *     immediately (`ambiguous option: --co=5 could match --count, --coal`).
    *   - unknown options and stray positionals collect into `extras`; after
    *     the scan, missing-required aggregates first ("the following arguments
    *     are required: --a, --b"), THEN extras error as
    *     `unrecognized arguments: --nope=5 stray` — matching stdlib's
    *     consume > required-check > unrecognized precedence.
    *   - a space-form value is the next token unless it is option-like
    *     (leading `-`, not a negative number, no embedded space) — otherwise
    *     `argument --name: expected one argument`. */
  def parseArgs(task: Task, args: Seq[String],
      hostEnv: Map[String, String] = sys.env): Map[String, EnvValue] = {
    val declared: Vector[(String, String)] =
      task.env.keys.toVector.map(k => argNameForEnv(k) -> k)
    val byArgName: Map[String, String] = declared.toMap
    // abbreviation candidates in stdlib order: --help is registered first
    val optionNames: Vector[String] = "help" +: declared.map(_._1)

    // reference argparse.py:42-47 env prepend (never suppressed, see Scaladoc)
    val envTokens = task.env.keys.toList.collect {
      case k if hostEnv.contains(k) => s"--${argNameForEnv(k)}=${hostEnv(k)}"
    }

    val converted = scala.collection.mutable.LinkedHashMap[String, EnvValue]()
    val extras = scala.collection.mutable.ListBuffer[String]()
    var rest = envTokens ++ args.toList
    var afterSeparator = false
    while (rest.nonEmpty) {
      val a = rest.head
      rest = rest.tail
      if (afterSeparator) extras += a
      else if (a == "--") { afterSeparator = true; extras += a }
      else if (a == "-h") throw HelpRequested()
      else if (a.startsWith("--")) {
        val eq = a.indexOf('=')
        val (name, inline) =
          if (eq >= 0) (a.substring(2, eq), Some(a.substring(eq + 1)))
          else (a.drop(2), None)
        val resolved: Option[String] =
          if (optionNames.contains(name)) Some(name)
          else optionNames.filter(_.startsWith(name)) match {
            case Vector() => None
            case Vector(one) => Some(one)
            case many => throw SpecError(
              s"ambiguous option: $a could match ${many.map("--" + _).mkString(", ")}")
          }
        resolved match {
          case None => extras += a // unknown option: no value consumed
          case Some("help") => throw HelpRequested()
          case Some(argName) =>
            val raw = inline.getOrElse {
              rest match {
                case v :: tl if !v.startsWith("-") ||
                    NegativeNumber.matches(v) || v.contains(' ') =>
                  rest = tl; v
                case _ =>
                  throw SpecError(s"argument --$argName: expected one argument")
              }
            }
            converted(byArgName(argName)) =
              convert(argName, raw, task.env(byArgName(argName)).inputType)
        }
      } else extras += a // single-dash unknown or stray positional
    }

    // aggregated missing-required ("the following arguments are required:
    // --a, --b", declaration order; reference test_argparser.py:126-128),
    // which stdlib raises BEFORE reporting unrecognized extras
    val missing = task.env.collect {
      case (envName, input) if input.required && input.default.isEmpty &&
        converted.get(envName).isEmpty =>
        s"--${argNameForEnv(envName)}"
    }
    if (missing.nonEmpty)
      throw SpecError(
        s"the following arguments are required: ${missing.mkString(", ")}")
    if (extras.nonEmpty)
      throw SpecError(s"unrecognized arguments: ${extras.mkString(" ")}")

    task.env.map { case (envName, input) =>
      envName -> converted.getOrElse(envName,
        input.default.getOrElse(EnvValue.NullV))
    }
  }

  /** argparse help for a task (reference test_argparser.py:46-86 golden): each
    * declared input is `--my-var MY_VAR`, bare in the usage when required and
    * bracketed otherwise, with its description as help. */
  def helpLines(task: Task, prog: String): List[String] = {
    val opts = task.env.toList.map { case (k, in) => (s"--${argNameForEnv(k)} $k", in) }
    formatHelp(prog,
      "[-h]" :: opts.map { case (inv, in) => if (in.required) inv else s"[$inv]" }, Nil,
      task.description,
      List("options" -> (("-h, --help", "show this help message and exit") ::
        opts.map { case (inv, in) => inv -> in.description.getOrElse("") })))
  }

  /** Text width of stdlib argparse's HelpFormatter at `COLUMNS=80` (it keeps 2). */
  private val Width = 78

  /** stdlib argparse `format_help` (HelpFormatter, python3 3.11) at `COLUMNS=80`:
    *
    *   - the usage stays on one line up to width 78; past it, its parts wrap with
    *     continuations aligned after the prog name, optionals and positionals in
    *     separate blocks (argparse's layout for a prog up to 3/4 of the width;
    *     a longer one, on a line of its own, is not rendered here)
    *   - the description is filled to width 78
    *   - each section lists `(invocation, help)` entries with help at column
    *     min(longest invocation + 4, 24); an invocation wider than that column
    *     minus 4 puts its help on the next line, and help wraps to the rest of
    *     the width. An entry without help is its invocation alone.
    *
    * `optUsage`/`posUsage` are the usage forms of the optionals and positionals
    * (`[-h]`, `--url URL`, `manifest`); sections without entries are left out. */
  def formatHelp(prog: String, optUsage: List[String], posUsage: List[String],
      description: Option[String],
      sections: List[(String, List[(String, String)])]): List[String] = {
    val prefix = "usage: "
    val indent = " " * (prefix.length + prog.length + 1)
    // argparse wraps usage by regexp parts (a bracketed group is one part, a
    // bare `--url URL` is two), appending each part while the line stays
    // within the width
    def parts(items: List[String]) =
      raw"\(.*?\)+(?=\s|$$)|\[.*?\]+(?=\s|$$)|\S+".r.findAllIn(items.mkString(" ")).toList
    def fill(start: String, ps: List[String]): Vector[String] = ps.foldLeft(Vector(start)) {
      (ls, p) =>
        if (ls.last.isBlank) ls.init :+ (ls.last + p)
        else if (ls.last.length + 1 + p.length > Width) ls :+ (indent + p)
        else ls.init :+ s"${ls.last} $p"
    }
    val oneLine = (prog :: optUsage ++ posUsage).mkString(" ")
    val (head, tail) = if (optUsage.nonEmpty) (optUsage, posUsage) else (posUsage, Nil)
    val usage =
      if (prefix.length + oneLine.length <= Width) List(prefix + oneLine)
      else (fill(prefix + prog, parts(head)) ++
        (if (tail.isEmpty) Nil else fill(indent, parts(tail)))).toList
    val helpPos = math.min(sections.flatMap(_._2).map(_._1.length).maxOption
      .getOrElse(0) + 4, 24)
    def entry(inv: String, help: String): List[String] = wrap(help, Width - helpPos) match {
      case Nil => List(s"  $inv")
      case first :: more if inv.length <= helpPos - 4 =>
        s"  ${inv.padTo(helpPos - 4, ' ')}  $first" :: more.map(" " * helpPos + _)
      case all => s"  $inv" :: all.map(" " * helpPos + _)
    }
    usage ++ description.toList.flatMap(d => "" :: wrap(d, Width)) ++
      sections.filter(_._2.nonEmpty).flatMap { case (heading, entries) =>
        "" :: s"$heading:" :: entries.flatMap { case (inv, help) => entry(inv, help) }
      }
  }

  /** textwrap's chunks: runs of spaces, and words split after a hyphen
    * between letters (`partially-` `downloaded`) — TextWrapper.wordsep_re. */
  private val Chunk = ("""(?U) +|(?<=[\w!"'&.,?])-{2,}(?=\w)|[^ ]+?(?:-(?:(?<=[^\d\W]{2}-)""" +
    """|(?<=[^\d\W]-[^\d\W]-))(?=[^\d\W]-?[^\d\W])|(?= |\z)|(?<=[\w!"'&.,?])(?=-{2,}\w))""").r

  /** `textwrap.wrap(text, width)` after argparse collapses whitespace: greedy
    * lines of chunks, spaces dropped at line ends, a chunk wider than the line
    * broken at its last fitting hyphen or else at the width. */
  private def wrap(text: String, width: Int): List[String] = {
    var chunks = Chunk.findAllIn(text.trim.replaceAll("\\s+", " ")).toList
    val out = scala.collection.mutable.ListBuffer[String]()
    while (chunks.nonEmpty) {
      if (out.nonEmpty && chunks.head.isBlank) chunks = chunks.tail
      val line = scala.collection.mutable.ListBuffer[String]()
      var len = 0
      while (chunks.nonEmpty && len + chunks.head.length <= width) {
        line += chunks.head; len += chunks.head.length; chunks = chunks.tail
      }
      if (chunks.nonEmpty && chunks.head.length > width) {
        val c = chunks.head
        val room = math.max(width - len, 1)
        val hyphen = c.lastIndexOf('-', room - 1)
        val end = if (hyphen > 0 && c.take(hyphen).exists(_ != '-')) hyphen + 1 else room
        line += c.take(end); chunks = c.drop(end) :: chunks.tail
      }
      if (line.nonEmpty && line.last.isBlank) line.remove(line.size - 1)
      if (line.nonEmpty) out += line.mkString
    }
    out.toList
  }

  /** Conversion failures use the exact stdlib-argparse wording
    * (`argument --my-var: invalid int value: 'abc'` — option string, type
    * name, colon, repr-quoted value), so task authors migrating scripts see
    * the same errors (round-14 fidelity sweep). `bool` remains the one
    * documented deviation: it can fail, where Python's `type=bool` cannot. */
  private def convert(argName: String, s: String, t: Option[InputType]): EnvValue =
    t match {
      case None | Some(InputType.TString) => EnvValue.Str(s)
      case Some(InputType.TInt) => s.toLongOption.map(EnvValue.IntV).getOrElse(
        throw SpecError(s"argument --$argName: invalid int value: '$s'"))
      case Some(InputType.TFloat) => s.toDoubleOption.map(EnvValue.FloatV).getOrElse(
        throw SpecError(s"argument --$argName: invalid float value: '$s'"))
      case Some(InputType.TBool) => s.trim.toLowerCase match {
        case "true" | "1" => EnvValue.BoolV(true)
        case "false" | "0" => EnvValue.BoolV(false)
        case _ => throw SpecError(s"argument --$argName: invalid bool value: '$s'")
      }
    }
}
