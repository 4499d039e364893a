package graft.tools

/** Paired A/B shuffle-shape probe (round 15, VERDICT r14 ask #3): times a
  * query under alternating `spark.sql.shuffle.partitions` values INSIDE one
  * session, so the A:B ratio is immune to the multi-minute host drift that
  * makes separate-session comparisons (robustness_probe legs) noisy — each
  * pair shares its host window. `spark.sql.shuffle.partitions` is a runtime
  * SQL conf, so per-query flipping is exact.
  *
  * Usage: runMain graft.tools.ProbeAB <query> [sfDir] [reps] [partsA] [partsB]
  */
object ProbeAB {
  def main(args: Array[String]): Unit = {
    val q = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val pa = if (args.length > 3) args(3) else "32"
    val pb = if (args.length > 4) args(4) else "200"
    val spark = graft.Harness.session("local[32]", pa.toInt)
    graft.Tables.lineitem(spark, sfDir).count() // warm-up
    def run(parts: String): Double = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val t0 = System.nanoTime()
      graft.Harness.consume(graft.SparkEntry.queries(q)(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    run(pa) // warm the query itself once (codegen, file listing, scratch writes)
    val pairs = (1 to reps).map { r =>
      val a = run(pa); val b = run(pb)
      println(f"AB $q rep$r ${pa}p=$a%.2f s ${pb}p=$b%.2f s ratio=${b / a}%.2f")
      (a, b)
    }
    val bestA = pairs.map(_._1).min
    val bestB = pairs.map(_._2).min
    println(f"AB-BEST $q ${pa}p=$bestA%.2f s ${pb}p=$bestB%.2f s " +
      f"ratio=${bestB / bestA}%.2f")
    spark.stop()
  }
}
