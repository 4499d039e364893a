package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import graft.cli.Main.runCli
import graft.spec.{Placeholders, Registry, Yaml}

/** The seeded inputs of the YAML job and the values its outputs must show.
  * Documents carry planted exact duplicates (same text, group and score as an
  * earlier document, a later id), so minhash-dedup must remove exactly the
  * planted copies whose original survives the score filter. */
final case class EtlInputs(docsCsv: String, eventsJson: String,
    survivors: Long, plantedDuplicates: Long, groupSums: Map[String, (Long, Long)])

object EtlInputs {
  val nDocs = 800
  val nDuplicates = 40
  val nEvents = 3000
  val minScore = 20

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze",
    "pa", "qui", "dor", "fen", "gal", "hus", "jor")

  def generate(seed: Long): EtlInputs = {
    val rnd = new Random(seed)
    val vocab = (0 until 400).map(_ =>
      (1 to 2 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString)
    val originals = (1 to nDocs - nDuplicates).map { id =>
      (id.toLong, s"g${rnd.nextInt(10)}", rnd.nextInt(100),
        (1 to 24).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val copies = (1 to nDuplicates).map { i =>
      val (_, grp, score, text) = originals(rnd.nextInt(originals.size))
      ((nDocs - nDuplicates + i).toLong, grp, score, text)
    }
    val docs = originals ++ copies
    val events = (1 to nEvents).map(i =>
      (i.toLong, s"g${rnd.nextInt(10)}", 1L + rnd.nextInt(100000)))
    EtlInputs(
      docsCsv = docs.map { case (id, g, s, t) => s"$id,$g,$s,$t" }
        .mkString("doc_id,grp,score,text\n", "\n", "\n"),
      eventsJson = events.map { case (id, g, c) =>
        s"""{"event_id": $id, "grp": "$g", "amount_cents": $c}"""
      }.mkString("", "\n", "\n"),
      survivors = originals.count(_._3 >= minScore).toLong,
      plantedDuplicates = copies.count(_._3 >= minScore).toLong,
      groupSums = events.groupBy(_._2).map { case (g, es) =>
        g -> (es.size.toLong, es.map(_._3).sum)
      })
  }
}

/** The xETL user's path: one seeded manifest run through `graft.cli.Main.runCli`
  * in gaudy log style with an in-memory sink. It reads generated CSV and JSON
  * plus the sf0.1 embeddings, filters, scores text quality, removes
  * near-duplicates, runs an ANN top-k, aggregates in SQL, gates on a dq-check,
  * writes parquet and CSV, reads both back and runs two discovered `run:`
  * subprocess tasks. An item is one job execution. */
final class EtlJob extends Workload {
  import EtlJob._

  def run(r: Run): Report = {
    val dir = r.work.resolve(s"etl-seed${r.seed}")
    val t0 = System.nanoTime()
    // input generation set up three times; its median enters setup_s
    val gen = (1 to 3).map { _ =>
      val g0 = System.nanoTime()
      val in = EtlInputs.generate(r.seed)
      write(dir, in, r.sfDir)
      (in, Harness.since(g0))
    }
    val inputs = gen.head._1
    val genS = Harness.median(gen.map(_._2))
    val manifest = dir.resolve("job.yml").toString
    val warm = Harness.item("warm-up")(execute(r, manifest, "warm-up"))(check(r, inputs, dir))
    val setupS = Harness.since(t0) - gen.map(_._2).sum + genS

    val n = math.max(3, math.round(r.seconds / nominalJobS).toInt)
    val logs = mutable.ArrayBuffer.empty[Execution]
    val (outcomes, measuredWall) = r.measured {
      (1 to n).map { i =>
        val id = s"job$i"
        r.tracer.span("item", id) {
          Harness.item(id) {
            val e = execute(r, manifest, id)
            logs += e
            e
          }(check(r, inputs, dir))
        }
      }
    }
    val rows = (EtlInputs.nDocs + EtlInputs.nEvents + vectorRows).toDouble *
      outcomes.count(_.ok)
    val wall = Harness.passWall(measuredWall, outcomes)
    Report(setupS, outcomes, wall, rows,
      warm.error.map(e => s"warm-up job: $e").toSeq,
      if (r.tracer.on) layers(r, wall, logs.toSeq, dir) else Map.empty)
  }

  /** One job execution through the CLI body. On a traced run the spec layer's
    * entry points are first timed on their own, the jobs carry the item's
    * group, and every sink line gets its arrival time. */
  private def execute(r: Run, manifest: String, id: String): Execution = {
    val lines = mutable.ArrayBuffer.empty[(Long, String)]
    if (r.tracer.on) {
      val job = r.tracer.span("spec.parse", id)(Yaml.jobFromFile(manifest))
      val resolved = r.tracer.span("spec.resolve", id)(Placeholders.resolve(job, sys.env))
      r.tracer.span("spec.discover", id)(Registry.discover(resolved.tasks))
    }
    r.group(s"$id/exec")
    val start = System.currentTimeMillis()
    val rc = r.tracer.span("exec.job", id) {
      runCli(manifest, commands = None, dryrun = false, style = "gaudy",
        timestamps = true, testTask = None, colored = false,
        sink = l => lines += ((System.currentTimeMillis(), l)), sparkF = () => r.spark)
    }
    r.clearGroup()
    Execution(rc, start, System.currentTimeMillis(), lines.toSeq)
  }

  private def check(r: Run, in: EtlInputs, dir: Path)(e: Execution): Option[String] = {
    val text = e.lines.map(_._2)
    lazy val back = r.spark.table("docs_back").count()
    lazy val kept = r.spark.table("docs_kept").count()
    lazy val sums = r.spark.table("sums_back").collect()
      .map(row => row.getString(0) -> (row.getLong(1), row.getLong(2))).toMap
    lazy val ann = r.spark.read.parquet(dir.resolve("data/ann").toString).count()
    if (e.rc != 0) Some(s"job exit code ${e.rc}: ${text.takeRight(5).mkString(" | ")}")
    else if (back != in.survivors)
      Some(s"read-back parquet has $back rows, expected ${in.survivors}")
    else if (kept - in.survivors != in.plantedDuplicates)
      Some(s"dedup removed ${kept - in.survivors}, planted ${in.plantedDuplicates}")
    else if (sums != in.groupSums) Some(s"group sums $sums, expected ${in.groupSums}")
    else if (!text.exists(_.endsWith(s"csv_rows=${in.groupSums.size}")))
      Some("count-csv-rows task did not report the written row count")
    else if (!text.exists(_.matches(".*parquet_files=[1-9][0-9]*$")))
      Some("count-parquet-files task found no parquet files")
    else if (ann <= 0 || ann > sampledVectors * 3L) Some(s"ann returned $ann rows")
    else None
  }

  private def layers(r: Run, wall: Double, execs: Seq[Execution],
      dir: Path): Map[String, Double] = {
    val t = r.tracer
    val spark = r.counters(_.endsWith("/exec"))
    val perCategory = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var selfS = 0.0
    execs.foreach { e =>
      val cmds = commandIntervals(e)
      cmds.foreach { case (cat, s, end) => perCategory(cat) += (end - s) / 1e3 }
      // job wall minus the part of it covered by Spark jobs or subprocesses
      val jobs = spark.jobIntervalsMs.filter { case (s, end) =>
        s >= e.startMs && end <= e.endMs
      }
      val covered = union(jobs.toSeq ++ cmds.filter(_._1 == "subprocess").map(c => (c._2, c._3)))
      selfS += ((e.endMs - e.startMs) - covered) / 1e3
    }
    val outputFiles = Seq("docs_clean", "grp_sums", "ann").map { d =>
      Files.list(dir.resolve("data").resolve(d)).filter(p =>
        p.getFileName.toString.startsWith("part-")).count()
    }.sum * execs.size
    spark.layers(t.total("exec.job"), wall, r.cores) ++ Map(
      "spark.output_files" -> outputFiles.toDouble,
      "spec.parse_s" -> t.total("spec.parse"),
      "spec.resolve_s" -> t.total("spec.resolve"),
      "spec.discover_s" -> t.total("spec.discover"),
      "exec.command_s.read" -> perCategory("read"),
      "exec.command_s.transform" -> perCategory("transform"),
      "exec.command_s.write" -> perCategory("write"),
      "exec.command_s.subprocess" -> perCategory("subprocess"),
      "exec.self_s" -> selfS,
      "exec.log_lines" -> execs.map(_.lines.size).sum.toDouble)
  }
}

/** One job execution as the sink saw it: exit code, wall clock bounds (epoch
  * ms) and every line with its arrival time. */
final case class Execution(rc: Int, startMs: Long, endMs: Long, lines: Seq[(Long, String)])

object EtlJob {
  /** Seconds one job execution took on the 4-core reference host; sets how
    * many executions a run of `--seconds` makes. */
  val nominalJobS = 5.0
  /** sf0.1 embeddings rows the job reads, and how many of them it searches. */
  val vectorRows = 2000L
  val sampledVectors = 500L

  private val CommandStart = """.*Executing command: (\S+) \(\d+ of \d+\).*""".r

  /** The layer each command belongs to, by the task it runs. */
  val category: Map[String, String] = Map(
    "read_docs" -> "read", "read_events" -> "read", "read_vectors" -> "read",
    "keep_scored" -> "transform", "quality" -> "transform", "dedup" -> "transform",
    "ann" -> "transform", "group_sums" -> "transform", "sample_vectors" -> "transform",
    "write_docs" -> "write", "write_sums" -> "write", "write_ann" -> "write",
    "read_back_docs" -> "read", "read_back_sums" -> "read", "dq_back" -> "transform",
    "count_csv" -> "subprocess", "count_files" -> "subprocess")

  /** (category, start ms, end ms) per command, from the arrival times of the
    * sink's COMMAND-frame header lines: a command runs until the next header,
    * the last one until the job's final line. */
  def commandIntervals(e: Execution): Seq[(String, Long, Long)] = {
    val starts = e.lines.collect { case (ts, CommandStart(name)) => (name, ts) }
    val ends = starts.drop(1).map(_._2) :+ e.lines.last._1
    starts.zip(ends).map { case ((name, s), end) =>
      (category.getOrElse(name, sys.error(s"unclassified command $name")), s, end)
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long =
    xs.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach)
      else (acc + e - math.max(s, reach), e)
    }._1

  def write(dir: Path, in: EtlInputs, sfDir: String): Unit = {
    def put(rel: String, text: String): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, text)
    }
    put("inputs/docs.csv", in.docsCsv)
    put("inputs/events.json", in.eventsJson)
    put("tasks/count-csv-rows/manifest.yml",
      """name: count-csv-rows
        |run:
        |  interpreter: /bin/sh -c
        |  script: echo "csv_rows=$(cat "$DIR"/part-*.csv | grep -vc '^grp,')"
        |env:
        |  DIR: {type: str}
        |""".stripMargin)
    put("tasks/count-parquet-files/manifest.yml",
      """name: count-parquet-files
        |run:
        |  interpreter: /bin/sh -c
        |  script: echo "parquet_files=$(ls "$DIR" | grep -c '^part-.*[.]parquet$')"
        |env:
        |  DIR: {type: str}
        |""".stripMargin)
    Files.createDirectories(dir.resolve("data"))
    val in0 = dir.resolve("inputs")
    put("job.yml",
      s"""name: perfbench-etl
         |data: ${dir.resolve("data")}
         |tasks: [${dir.resolve("tasks")}]
         |commands:
         |  - name: read_docs
         |    task: read-csv
         |    env: {path: $in0/docs.csv, output: docs_raw,
         |          schema: "doc_id LONG, grp STRING, score INT, text STRING"}
         |  - name: read_events
         |    task: read-json
         |    env: {path: $in0/events.json, output: ev_raw,
         |          schema: "event_id LONG, grp STRING, amount_cents LONG"}
         |  - name: read_vectors
         |    task: read-parquet
         |    env: {path: $sfDir/embeddings.parquet, output: vecs}
         |  - name: sample_vectors
         |    task: filter
         |    env: {input: vecs, predicate: "vec_id % 4 = 0", output: vecs_sample}
         |  - name: keep_scored
         |    task: filter
         |    env: {input: docs_raw, predicate: "score >= ${EtlInputs.minScore}",
         |          output: docs_kept}
         |  - name: quality
         |    task: text-quality
         |    env: {input: "$${previous.env.OUTPUT}", output: docs_q}
         |  - name: dedup
         |    task: minhash-dedup
         |    env: {input: "$${previous.env.OUTPUT}", output: docs_clean, min-jaccard: 0.8}
         |  - name: ann
         |    task: similarity-topk
         |    env: {input: vecs_sample, k: 3, output: ann}
         |  - name: group_sums
         |    task: sql
         |    env:
         |      query: >-
         |        SELECT grp, COUNT(*) AS n, SUM(amount_cents) AS total_cents
         |        FROM ev_raw GROUP BY grp
         |      output: grp_sums
         |  - name: write_docs
         |    task: write-parquet
         |    env: {input: docs_clean, path: "$${job.data}/docs_clean"}
         |  - name: write_sums
         |    task: write-csv
         |    env: {input: grp_sums, path: "$${job.data}/grp_sums"}
         |  - name: write_ann
         |    task: write-parquet
         |    env: {input: ann, path: "$${job.data}/ann"}
         |  - name: read_back_docs
         |    task: read-parquet
         |    env: {path: "$${job.data}/docs_clean", output: docs_back}
         |  - name: read_back_sums
         |    task: read-csv
         |    env: {path: "$${job.data}/grp_sums", output: sums_back,
         |          schema: "grp STRING, n LONG, total_cents LONG"}
         |  - name: dq_back
         |    task: dq-check
         |    env: {input: docs_back, output: dq2,
         |          rules: "unique:doc_id,not_null:text,min:score:${EtlInputs.minScore}"}
         |  - name: count_csv
         |    task: count-csv-rows
         |    env: {dir: "$${job.data}/grp_sums"}
         |  - name: count_files
         |    task: count-parquet-files
         |    env: {dir: "$${job.data}/docs_clean"}
         |""".stripMargin)
  }
}
