package graft.tools
/** Isolated per-query timing: runs the named queries N times each, prints seconds.
  * Usage: runMain graft.tools.Time q1,q2 [sfDir] [reps]
  *
  * Consumes with graft.Harness.consume, like graft.Bench — a bare count()
  * lets Catalyst prune the projection (and eliminate sorts), timing a different,
  * cheaper plan than the one the bench measures. A query that fails to consume
  * aborts the run with its error; it is never timed. */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Harness.session("local[32]", 32)
    graft.Tables.lineitem(spark, sfDir).count() // warm-up
    args(0).split(",").foreach { q =>
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        graft.Harness.consume(graft.SparkEntry.queries(q)(spark, sfDir))
        println(f"TIME $q rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
