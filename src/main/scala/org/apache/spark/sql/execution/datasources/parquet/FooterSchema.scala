package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` infers, read on the driver. Spark's
  * own inference reads the chosen footer inside a one-task Spark job; this
  * calls the same footer reader and schema converter directly, so it fires no
  * job. It lives in this package because `StructType.asNullable` is
  * `private[spark]`. */
object FooterSchema {

  /** None when Spark would merge the footers of every file (`mergeSchema` on)
    * or `path` holds no parquet file: the caller then asks Spark itself. */
  def infer(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else {
      // the file Spark's inference reads: _common_metadata, then _metadata,
      // then the first data file in path order
      val files = new InMemoryFileIndex(session, Seq(new Path(path)), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val file = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
      val converter = new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
      file.toSeq
        .flatMap(f => ParquetFileFormat.readParquetFootersInParallel(
          session.sessionState.newHadoopConf(), Seq(f), conf.ignoreCorruptFiles))
        .headOption
        .map(ParquetFileFormat.readSchemaFromFooter(_, converter).asNullable)
    }
  }
}
