package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One traced call: name, start and end (System.nanoTime), the span it ran
  * inside (0 = none) and the item it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int,
    item: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around the benchmark's calls into each layer, written out
  * when the run ends. With tracing off `span` only runs its body. */
final class Tracer(val on: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 1

  def span[T](name: String, item: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, t0, System.nanoTime(), parent, item)
      }
    }

  /** Drops the spans recorded so far (set-up), keeping ids unique. */
  def clear(): Unit = spans.clear()

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def total(name: String): Double = named(name).map(_.seconds).sum

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, spans.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs),
        "parent" -> Json.num(s.parent), "item" -> Json.str(s.item)))
    }.mkString("", "\n", "\n"))
  }
}

/** Spark work of one job group ("<item>/build", "<item>/exec", ...). */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var checkpointJobs = 0L
  var tablesJobs = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: GroupCounters): Unit = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    tasks += o.tasks; taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    schedMs += o.schedMs; gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; checkpointJobs += o.checkpointJobs
    tablesJobs += o.tablesJobs; jobIntervalsMs ++= o.jobIntervalsMs
  }

  /** The engine-layer metrics of a phase that took `wallS` on `cores` cores,
    * `execS` of it inside the consume action. */
  def layers(execS: Double, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.exec_s" -> execS,
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.single_task_stage_ratio" ->
      (if (stages == 0) 0.0 else singleTaskStages.toDouble / stages),
    "spark.sched_overhead_s" -> schedMs / 1e3,
    "spark.task_run_s" -> taskRunMs / 1e3,
    "spark.task_cpu_s" -> taskCpuNs / 1e9,
    "spark.core_busy_ratio" -> taskRunMs / 1e3 / (cores * wallS),
    "spark.shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spark.shuffle_read_mb" -> shuffleReadBytes / 1e6,
    "spark.spill_mb" -> spillBytes / 1e6,
    "spark.gc_s" -> gcMs / 1e3,
    "spark.output_mb" -> outputBytes / 1e6)
}

/** The benchmark's own SparkListener: attributes every job, stage and task to
  * the job group that was set when the job started. A job is also classed by
  * the call site Spark names its first stage after: `localCheckpoint at ...`
  * marks a construction-time barrier, `... at Tables.scala:N` a table
  * resolution. Read it only after [[org.apache.spark.perfbench.Bus.drain]]. */
final class LayerListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupCounters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]

  private def acc(g: String) = groups.getOrElseUpdate(g, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    val a = acc(g)
    a.jobs += 1
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
    if (site.startsWith("localCheckpoint") || site.startsWith("checkpoint"))
      a.checkpointJobs += 1
    if (site.contains(" at Tables.scala:")) a.tablesJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      acc(g).jobIntervalsMs += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    a.stages += 1
    if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs += m.executorRunTime
      a.taskCpuNs += m.executorCpuTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def reset(): Unit = synchronized(groups.clear())

  /** A copy of the counters per group. */
  def snapshot(): Map[String, GroupCounters] = synchronized {
    groups.map { case (g, a) =>
      val c = new GroupCounters
      c += a
      g -> c
    }.toMap
  }
}

/** Just enough JSON for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"not a JSON number: $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }
  def num(x: Long): String = x.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
