package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The pieces of Spark's parquet schema inference that `graft.sources.Tables`
  * needs to resolve a schema on the driver, re-exported from behind
  * `private[spark]`/`private[sql]` (the same shim technique as
  * `GraftExpressionBridge`). Each is Spark's own code path, so the helper's
  * file choice and footer conversion cannot drift from what
  * `ParquetUtils.inferSchema` would do; only the Spark job that
  * `mergeSchemasInParallel` wraps around a single footer read is skipped.
  */
object GraftParquetBridge {
  /** Spark's leaf-listing filter (`_x`, `.x`, `x._COPYING_`, summary files kept). */
  def hiddenName(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The files a streaming file sink committed under `path`, as its
    * `_spark_metadata` log lists them (what `DataSource` reads such a
    * directory through); None when `path` is not a sink output directory. */
  def sinkLogFiles(spark: SparkSession, conf: Configuration, path: String): Option[Seq[FileStatus]] =
    if (!FileStreamSink.hasMetadata(Seq(path), conf, SessionStateHelper.getSqlConf(spark))) None
    else Some(new MetadataLogFileIndex(spark, new Path(path), Map.empty, None).allFiles())

  /** `file`'s footer as a Spark schema, read on the calling thread and
    * converted with the converter flags `mergeSchemasInParallel` uses
    * (binary-as-string, INT96, timestamp NTZ, nanos-as-long, unknown types). */
  def footerSchema(spark: SparkSession, conf: Configuration, file: FileStatus): StructType = {
    val sql = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }
}
