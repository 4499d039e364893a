package graft.exec

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Nested log contexts — the reference's NestedFormatter semantics
  * (xetl/logging.py:9-222), golden-tested transcript-for-transcript
  * (tests/test_logging.py:77-290, ported in RefMatrixLogSpec):
  *
  *  - three context levels — JOB / TASK / COMMAND — pushed and popped as
  *    execution nests; JOB and TASK start a fresh visual block (their glyph
  *    REPLACES the outer prefix), COMMAND nests inside its task
  *  - styles: `gaudy` (full box-drawing frames), `moderate` (header rules
  *    only), `minimal` (bare headers); the engine's earlier spellings remain
  *    as aliases (box→gaudy, compact→moderate, plain→minimal)
  *  - timestamps render ONLY inside a COMMAND context (the reference stamps
  *    the subprocess output lines, not the orchestration chatter), joined
  *    with `┊` in gaudy/moderate and a space in minimal
  *  - WARNING/ERROR lines carry their level name as a message prefix
  *  - a COMMAND context can close with a footer line (`Return code: 0`)
  *  - `colored` reproduces the reference's tty palette: dim-blue frames,
  *    bold-white headers, bright-yellow warnings, bright-red errors, gray
  *    timestamps
  */
final class ContextLogger(sink: String => Unit, style: String = "gaudy",
    timestamps: Boolean = true, colored: Boolean = false,
    clock: () => String = ContextLogger.defaultClock) {

  private val st = style match {
    case "box" | "gaudy" => "gaudy"
    case "compact" | "moderate" => "moderate"
    case "plain" | "minimal" => "minimal"
    case other => other
  }

  /** (headerLead, headerTail, linePrefixGlyph, startsFreshBlock) */
  private def shape(level: String): (String, String, String, Boolean) =
    (st, level) match {
      case ("gaudy", "job") => ("╭──╴", " ╶╴╴╶ ╶", "│", true)
      case ("gaudy", "task") => ("┏━━╸", " ━╴╴╶ ╶", "┃", true)
      case ("gaudy", "command") => ("╭──╴", " ─╴╴╶ ╶", "│", false)
      case ("moderate", "job") => ("─╴", "╶─", "", true)
      case ("moderate", "task") => ("━╸", "╺━", "", true)
      case ("moderate", "command") => ("═╴", "╶═", "", false)
      case (_, _) => ("", "", "", level != "command")
    }

  private def footerShape: (String, String) = st match {
    case "gaudy" => ("╰──╴", " ─╴╴╶ ╶")
    case "moderate" => ("═╴", "╶═")
    case _ => ("", "")
  }

  // --- color helpers (reference tty palette) --------------------------------
  private val E = "\u001b"
  private def frame(s: String) = if (colored) E + "[2;34m" + s + E + "[0m" else s
  private def head(s: String) = if (colored) E + "[1;37m" + s + E + "[0m" else s
  private def gray(s: String) = if (colored) E + "[90m" + s + E + "[0m" else s
  private def lvlColor(level: String, s: String) =
    if (!colored) s
    else level match {
      case "warning" => E + "[93m" + s + E + "[0m"
      case "error" => E + "[91m" + s + E + "[0m"
      case _ => s
    }

  private var stack = List.empty[(String, String, Boolean)] // (level, glyph, fresh)

  /** Concatenated glyphs from the most recent fresh-block context inward. */
  private def prefixOf(s: List[(String, String, Boolean)]): String = {
    val upToFresh = s.reverse // outermost-first
    val lastFresh = upToFresh.lastIndexWhere(_._3)
    val active = if (lastFresh < 0) upToFresh else upToFresh.drop(lastFresh)
    active.map(_._2).mkString
  }

  def push(level: String, header: String): Unit = {
    val (lead, tail, glyph, fresh) = shape(level)
    val outer = if (fresh) "" else prefixOf(stack)
    sink(frame(outer + lead) + head(header) + frame(tail))
    stack = (level, glyph, fresh) :: stack
  }

  def pop(footer: Option[String] = None): Unit = {
    if (stack.nonEmpty) {
      val outer = prefixOf(stack.tail)
      footer.foreach { f =>
        val (lead, tail) = footerShape
        val pre = if (stack.head._3) "" else outer
        sink(frame(pre + lead) + head(f) + frame(tail))
      }
      stack = stack.tail
    }
  }

  private def emit(level: String, msg: String): Unit = {
    val pre = prefixOf(stack)
    val stamped = timestamps && stack.headOption.exists(_._1 == "command")
    val body = lvlColor(level,
      (if (level == "warning") "WARNING " else if (level == "error") "ERROR " else "") + msg)
    if (colored) {
      val stampSeg =
        if (!stamped) ""
        else if (st == "minimal") gray(clock())
        else gray(clock()) + frame("┊")
      // NOTE (adjudicated vs golden test_logging.py:161): in colored mode the
      // reference's `colored("")` is a TRUTHY non-empty ANSI span, so
      // `prefix = f"{prefix} " if prefix else ""` (logging.py:168) keeps the
      // empty span + leading space even with no context — reference-exact.
      sink(frame(pre) + stampSeg + " " + body)
    } else {
      val sep =
        if (stamped) clock() + (if (st == "minimal") " " else "┊ ")
        else if (pre.nonEmpty) " "
        else ""
      sink(pre + sep + body)
    }
  }

  def info(msg: String): Unit = emit("info", msg)
  def warning(msg: String): Unit = emit("warning", msg)
  def error(msg: String): Unit = emit("error", msg)

  // --- runner compatibility surface (reference header texts) ----------------
  def jobStart(name: String): Unit = push("job", s"Executing job: $name")
  def jobEnd(name: String): Unit = pop(None)
  /** Reference header forms (command.py:70-74): named commands get
    * "Executing command: <name> (i of n)"; unnamed ones get the bare
    * "Executing command i of n" — no colon, no label, no parens. */
  def commandStart(name: Option[String], i: Int, n: Int): Unit =
    push("task", name match {
      case Some(nm) => s"Executing command: $nm ($i of $n)"
      case None => s"Executing command $i of $n"
    })
  def commandEnd(): Unit = pop(None)
  def taskStart(taskName: String): Unit =
    push("command", s"Executing task: $taskName")
  def taskEnd(rc: Int): Unit = pop(Some(s"Return code: $rc"))

  /** Ordinary line inside the current context. */
  def line(msg: String): Unit = info(msg)

  /** A logger of this style whose sink is this logger's current context: a
    * nested job's frames sit inside the outer COMMAND frame, as the
    * reference's streamed inner CLI output does (R13). */
  def nested: ContextLogger = new ContextLogger(line, style, timestamps, colored, clock)
}

object ContextLogger {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
  def defaultClock: () => String = () => LocalDateTime.now().format(fmt)
}
