package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one way a `main` builds its session and consumes a query result. */
object Harness {

  /** Local session with the confs every tool and the CLI share. */
  def session(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // Sort-shuffle writer past 64 reduce buckets (round 15, VERDICT r14
      // ask #3): Spark's default bypassMergeThreshold=200 makes every shuffle
      // at the cluster-default 200 partitions use the bypass writer — one
      // file per (map task × bucket); measured 2.5x wall on dedup_minhash_lsh
      // at sf0.1 purely from that. 64 keeps the local 32-bucket shape on the
      // bypass fast path (bit-identical to the committed floors) and gives
      // wide shuffles the single-spill sort writer, as on a real cluster.
      .config("spark.shuffle.sort.bypassMergeThreshold", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // applied when the SparkContext starts, so startup INFO lines are quiet too
      .config("spark.log.level", "WARN")
      .getOrCreate()

  /** All-column-consuming action: XOR of per-row hashes forces every projected
    * column to actually be evaluated. A bare count() lets Catalyst prune the
    * whole projection (and eliminate sorts), under-measuring expression work.
    * bit_xor, not sum: summing 64-bit hashes overflows LONG under ANSI mode.
    * No fallback: an error while consuming propagates to the caller. */
  def consume(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)")).head()
}
