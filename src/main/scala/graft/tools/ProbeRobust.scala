package graft.tools

/** Robustness probe (round 14, VERDICT r13 ask #5): run named queries under a
  * NON-default runtime shape and gate on COMPLETION, not time. Everything else
  * in the gate is tuned at local[32] / 8g / 32 shuffle partitions; a 100-TB
  * cluster changes all three, and a hidden broadcast-size or partition-count
  * assumption (the embed_rq_encode mis-broadcast class) only surfaces when the
  * shape moves. Two sweeps matter:
  *   - `SPARK_GRAFT_SHUFFLE_PARTITIONS=200` — cluster-default partitioning;
  *     catches plans that only work because 32 partitions keep every
  *     per-partition state big/small enough.
  *   - `SPARK_DRIVER_MEM=2g` (consumed by build.sbt as the forked -Xmx) —
  *     memory pressure; catches unbounded driver-side state and
  *     should-have-spilled builds.
  *
  * Prints one `ROBUST <query> ok <sec>` / `ROBUST <query> FAIL <msg>` line per
  * query — the python driver (scripts/robustness_probe.py) aggregates.
  *
  * Usage: runMain graft.tools.ProbeRobust q1,q2,... [sfDir]
  */
object ProbeRobust {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    val spark = graft.Harness.session("local[32]", parts.toInt)
    println(s"ROBUSTCFG shuffle.partitions=$parts " +
      s"maxHeap=${Runtime.getRuntime.maxMemory() / (1024 * 1024)}m")
    graft.Tables.lineitem(spark, sfDir).count() // warm-up
    args(0).split(",").foreach { q =>
      val t0 = System.nanoTime()
      try {
        graft.Harness.consume(graft.SparkEntry.queries(q)(spark, sfDir))
        println(f"ROBUST $q ok ${(System.nanoTime() - t0) / 1e9}%.2f")
      } catch {
        case e: Throwable =>
          println(s"ROBUST $q FAIL ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1)
              .mkString.take(160))
      }
    }
    spark.stop()
  }
}
