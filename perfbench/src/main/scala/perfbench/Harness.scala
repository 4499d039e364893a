package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One item of a closed loop: a latency only when the item ran and its output
  * checked out. A failed item carries its error and no time. `checkSeconds`
  * is the time the output check took, which is not the program's. */
final case class Outcome(id: String, seconds: Option[Double], error: Option[String],
    checkSeconds: Double = 0.0) {
  def ok: Boolean = error.isEmpty
}

object Harness {

  /** Runs one item. The clock covers `run` only; `check` then compares the
    * item's output against what it must be. An item that throws, or whose
    * check returns an error, counts as failed and is never timed: a fast
    * time-to-fail must not enter the latency samples. */
  def item[T](id: String)(run: => T)(check: T => Option[String]): Outcome = {
    val t0 = System.nanoTime()
    val result = try Right(run) catch { case NonFatal(e) => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    result match {
      case Left(e) =>
        Outcome(id, None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
      case Right(v) =>
        val c0 = System.nanoTime()
        val err = try check(v) catch { case NonFatal(e) => Some(s"check threw: $e") }
        Outcome(id, if (err.isEmpty) Some(seconds) else None, err, since(c0))
    }
  }

  /** Percentiles the tail metric may report, highest first. */
  val tailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest ladder percentile that leaves at least ten of `n` samples
    * beyond it. Below 20 samples not even the median qualifies, and the tail
    * falls back to the median. */
  def tailPercentile(n: Int): Double =
    tailLadder.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-6).getOrElse(50.0)

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Wall time of a measured pass less the time its output checks took. */
  def passWall(wall: Double, outcomes: Seq[Outcome]): Double =
    wall - outcomes.map(_.checkSeconds).sum

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Machine-wide CPU jiffies from /proc/stat: (busy, stolen). Busy is user,
    * nice, system, irq and softirq; stolen is time a runnable vCPU spent
    * waiting while the hypervisor ran another guest. */
  def jiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      .drop(1).map(_.toLong)
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  }

  /** Share of the CPU time wanted between two [[jiffies]] readings that was
    * stolen. Work that needed `t` seconds of wall time under that share needs
    * about `t * (1 - share)` on an uncontended machine. */
  def stolenShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1
    val stolen = to._2 - from._2
    if (busy + stolen <= 0) 0.0 else stolen.toDouble / (busy + stolen)
  }

  /** This JVM's peak resident set (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** The benchmark's one consume action: every column of every row through
  * xxhash64, folded with bit_xor, next to the row count, in one aggregation.
  * Columns are renamed positionally first, so duplicate or dotted names hash
  * like any other. There is no fallback action: a result the digest cannot
  * hash fails its item. */
object Digest {
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.select(xxhash64(named.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("digest"), count(lit(1)).as("rows"))
  }

  /** (digest, rows) of an evaluated digest frame. */
  def read(d: DataFrame): (Long, Long) = {
    val r = d.head()
    (r.getLong(0), r.getLong(1))
  }

  def of(df: DataFrame): (Long, Long) = read(frame(df))
}
