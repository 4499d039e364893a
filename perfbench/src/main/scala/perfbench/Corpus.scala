package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{SparkEntry, Tables}

/** One committed corpus entry: the census numbers that placed the query in
  * its list and the digest its result must have at sf0.1. */
final case class Entry(name: String, family: String, buildJobs: Int, checkpointJobs: Int,
    buildS: Double, itemS: Double, digest: Long, rows: Long)

object Entry {
  val header = "name\tfamily\tbuild_jobs\tcheckpoint_jobs\tbuild_s\titem_s\tdigest\trows"

  def load(path: Path): Seq[Entry] =
    Files.readAllLines(path).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty || l == header)
      .map { l =>
        l.split("\t") match {
          case Array(name, fam, bj, cj, bs, is, dg, rows) =>
            Entry(name, fam, bj.toInt, cj.toInt, bs.toDouble, is.toDouble, dg.toLong,
              rows.toLong)
          case _ => sys.error(s"$path: bad line: $l")
        }
      }

  /** Family = the query name's first word (agg, graph, text, ...). */
  def family(name: String): String = name.takeWhile(_ != '_')
}

object Corpus {
  /** One corpus item: build the query through its public entry point, force
    * the physical plan of the digest, then run the digest. On a traced run
    * the three steps are spans and the jobs carry the item's build/exec group. */
  def query(r: Run, fn: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame, name: String): (Long, Long) = {
    r.group(s"$name/build")
    val df = r.tracer.span("queries.build", name)(fn(r.spark, r.sfDir))
    val d = Digest.frame(df)
    r.group(s"$name/exec")
    r.tracer.span("plans.plan", name)(d.queryExecution.executedPlan)
    r.tracer.span("spark.exec", name)(Digest.read(d))
  }

  def check(e: Entry)(got: (Long, Long)): Option[String] =
    if (got == (e.digest, e.rows)) None
    else Some(s"digest/rows ${got._1}/${got._2}, expected ${e.digest}/${e.rows}")
}

/** A committed list of sf0.1 corpus queries in a seeded order: one untimed
  * warm-up pass, then four measured passes, whatever `--seconds` says. The
  * sf0.1 tables are read-only, so the seed only permutes the order. The
  * warm-up pass matters: in a fresh JVM each query's first run pays class
  * loading and JIT for the operators it is the first to use, up to twice its
  * warm time, so without it the order, not the program, would set the figures.
  * The measured passes are the steady state of a session that has run these
  * queries before; four of them give a run four latency samples per query
  * (40 on corpus_fixed_cost, enough for a p75 tail). */
final class Corpus(list: String) extends Workload {

  def run(r: Run): Report = {
    val entries = Entry.load(r.corpusDir.resolve(s"$list.tsv"))
    val queries = SparkEntry.queries
    val missing = entries.map(_.name).filterNot(queries.contains)
    require(missing.isEmpty, s"$list names unknown queries: ${missing.mkString(", ")}")
    val t0 = System.nanoTime()
    val order = new Random(new java.util.SplittableRandom(r.seed).nextLong()).shuffle(entries)
    val warm = order.map { e =>
      Harness.item(e.name)(Corpus.query(r, queries(e.name), e.name))(Corpus.check(e))
    }
    val setupS = Harness.since(t0)

    val passes = Seq.fill(4)(order).flatten
    val (outcomes, measuredWall) = r.measured {
      passes.map { e =>
        r.tracer.span("item", e.name) {
          Harness.item(e.name)(Corpus.query(r, queries(e.name), e.name))(Corpus.check(e))
        }
      }
    }
    // result rows digested per second of the measured passes
    val rows = passes.zip(outcomes).collect { case (e, o) if o.ok => e.rows }.sum.toDouble
    val errors = warm.filterNot(_.ok).map(o => s"warm-up ${o.id}: ${o.error.get}")
    val wall = Harness.passWall(measuredWall, outcomes)
    Report(setupS, outcomes, wall, rows, errors,
      if (r.tracer.on) layers(r, wall) else Map.empty)
  }

  private def layers(r: Run, wall: Double): Map[String, Double] = {
    val t = r.tracer
    val build = r.counters(_.endsWith("/build"))
    val buildS = t.total("queries.build")
    val itemS = t.total("item")
    // Table resolution, per Tables(...) call: every table three times, after
    // the passes so the probe's jobs stay out of their counters.
    val probeGroup = "tables/probe"
    org.apache.spark.perfbench.Bus.drain(r.spark.sparkContext)
    r.listener.get.reset()
    r.group(probeGroup)
    val calls = for (_ <- 1 to 3; name <- Tables.all)
      yield t.span("tables.resolve", name)(Tables(r.spark, r.sfDir, name))
    r.clearGroup()
    org.apache.spark.perfbench.Bus.drain(r.spark.sparkContext)
    val probeJobs = r.listener.get.snapshot().get(probeGroup).map(_.jobs).getOrElse(0L)
    r.counters(_ => true).layers(t.total("spark.exec"), wall, r.cores) ++ Map(
      "tables.resolve_s" -> Harness.median(t.named("tables.resolve").map(_.seconds)),
      "tables.resolve_jobs" -> probeJobs.toDouble / calls.size,
      "queries.build_s" -> buildS,
      "queries.build_jobs" -> build.jobs.toDouble,
      "queries.build_share" -> buildS / itemS,
      "plans.plan_s" -> t.total("plans.plan"))
  }
}
