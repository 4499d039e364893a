package graft.tools
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
/** Isolated per-query timing: runs the named queries N times each, prints seconds.
  * Usage: runMain graft.tools.Time q1,q2 [sfDir] [reps]
  *
  * Consumes with the SAME all-column hash action as graft.Bench — a bare count()
  * lets Catalyst prune the projection (and eliminate sorts), timing a different,
  * cheaper plan than the one the bench measures. A query that fails to consume
  * aborts the run with its error; it is never timed. */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      // Sort-shuffle writer past 64 reduce buckets (round 15, VERDICT r14
      // ask #3): Spark's default bypassMergeThreshold=200 makes every shuffle
      // at the cluster-default 200 partitions use the bypass writer — one
      // file per (map task × bucket); measured 2.5x wall on dedup_minhash_lsh
      // at sf0.1 purely from that. 64 keeps the local 32-bucket shape on the
      // bypass fast path (bit-identical to the committed floors) and gives
      // wide shuffles the single-spill sort writer, as on a real cluster.
      .config("spark.shuffle.sort.bypassMergeThreshold", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.lineitem(spark, sfDir).count() // warm-up
    def consume(df: DataFrame): Unit =
      df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
        .agg(expr("bit_xor(h)")).head()
    args(0).split(",").foreach { q =>
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        consume(graft.SparkEntry.queries(q)(spark, sfDir))
        println(f"TIME $q rep$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
