package perfbench

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, Tables}

/** The census that places corpus queries in the benchmark's lists: every
  * SparkEntry query once, in name order, in one session shaped like the
  * benchmark's, with its construction-time ("build") jobs, how many of those
  * are localCheckpoint barriers or table resolutions, build and item seconds,
  * and the result digest.
  *
  * Run: perfbench.Census SF_DIR OUT_TSV WORK_DIR [NAME_REGEX] */
object Census {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, out, workDir) = args.take(3)
    val filter = args.lift(3).map(_.r)
    val work = Paths.get(workDir).toAbsolutePath
    Files.createDirectories(work)
    val spark = Main.session(work)
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val run = new Run(0L, 0, spark, new Tracer(true), Some(listener), sfDir,
      Paths.get("."), work)
    Tables.lineitem(spark, sfDir).count()
    val oracle = SparkEntry.oracleSql.keySet
    val queries = SparkEntry.queries
    val names = queries.keys.toSeq.sorted.filter(n => filter.forall(_.matches(n)))
    val header = "name\tfamily\thas_oracle\tbuild_jobs\tcheckpoint_jobs\ttables_jobs" +
      "\tbuild_s\titem_s\tdigest\trows\terror"
    val lines = names.map { name =>
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      listener.reset()
      var buildS = 0.0
      var result = (0L, 0L)
      val o = Harness.item(name) {
        val t0 = System.nanoTime()
        run.group(s"$name/build")
        val df = queries(name)(spark, sfDir)
        buildS = Harness.since(t0)
        run.group(s"$name/exec")
        result = Digest.of(df)
      }(_ => None)
      run.clearGroup()
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val b = listener.snapshot().getOrElse(s"$name/build", new GroupCounters)
      val (digest, rows) = result
      val line = Seq(name, Entry.family(name), oracle.contains(name), b.jobs,
        b.checkpointJobs, b.tablesJobs, f"$buildS%.4f",
        o.seconds.map(s => f"$s%.4f").getOrElse("nan"), digest, rows,
        o.error.getOrElse("").replaceAll("[\t\n\r]", " ")).mkString("\t")
      System.err.println(s"census: $line")
      line
    }
    Files.writeString(Paths.get(out),
      (header +: lines).mkString("", "\n", "\n"))
    spark.stop()
  }
}

/** Digest of every query result directory `graft.Verify` wrote, so a committed
  * digest can be tied to a result DuckDB confirmed.
  *
  * Run: perfbench.DigestDir VERIFY_OUT_DIR WORK_DIR NAME... */
object DigestDir {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(Paths.get(args(1)).toAbsolutePath)
    args.drop(2).foreach { name =>
      val (d, rows) = Digest.of(spark.read.parquet(s"${args(0)}/$name"))
      println(s"$name\t$d\t$rows")
    }
    spark.stop()
  }
}
