package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Exec-parity opaque subprocess stage (reference Task.execute, task.py:291-347 —
  * SURVEY.md §2a R11): every partition's rows are streamed line-by-line through an
  * arbitrary program (`RDD.pipe`), stdout lines become the output rows. The subprocess
  * runs once per partition on the executor — at 1000 executors that is 1000 parallel
  * programs, each seeing only its partition's stream; memory stays bounded on both
  * sides of the pipe exactly like the reference's stdout streaming. */
object Pipe {

  /** Pipe the DataFrame as TSV lines through `cmd`; parse stdout back as TSV with
    * the given schema. Lossless for scalar columns without tabs/newlines. */
  def pipeTsv(df: DataFrame, cmd: Seq[String], outSchema: StructType): DataFrame = {
    val spark = df.sparkSession
    val tsv = df.select(concat_ws("\t", df.columns.map(col): _*).as("line"))
    val piped = tsv.rdd.map(_.getString(0)).pipe(cmd)
    import spark.implicits._
    val lines = spark.createDataset(piped)
    val cols = outSchema.fields.zipWithIndex.map { case (f, i) =>
      split(col("value"), "\t").getItem(i).cast(f.dataType).as(f.name)
    }
    lines.toDF("value").select(cols.toIndexedSeq: _*)
  }

  /** Wrap a filter-style shell command so that exit code 1 (grep's "no lines
    * matched") is not an error: with many partitions some will legitimately
    * produce zero matches, and Spark's PipedRDD fails the task on any nonzero
    * exit. Codes >1 still propagate as task failures (R11 error parity). */
  def shellTolerant(cmd: String): Seq[String] =
    Seq("sh", "-c", s"$cmd; ec=$$?; [ $$ec -le 1 ] || exit $$ec")
}
