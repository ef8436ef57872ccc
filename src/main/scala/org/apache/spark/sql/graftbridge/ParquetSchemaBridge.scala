package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** Spark's own parquet footer-to-schema conversion, for callers that
  * already hold a footer and want the schema `spark.read.parquet` would
  * infer from it without the inference job. The session's SQLConf and
  * `StructType.asNullable` are `private[sql]`/`private[spark]`, hence the
  * bridge package (same technique as [[ColumnBridge]]). */
object ParquetSchemaBridge {

  /** The session settings Spark's parquet schema inference
    * (`ParquetFileFormat.mergeSchemasInParallel`) converts footers
    * under. Two sessions that agree on these infer the same schema from
    * the same footer. */
  final case class Conversion(binaryAsString: Boolean,
                              int96AsTimestamp: Boolean,
                              inferTimestampNTZ: Boolean,
                              nanosAsLong: Boolean,
                              respectUnknownTypeAnnotation: Boolean)

  def conversion(spark: SparkSession): Conversion = {
    val c = SessionStateHelper.getSqlConf(spark)
    Conversion(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The data schema a non-merging `spark.read.parquet` infers when
    * `file` (with footer `footer`) is the first file it lists: the
    * footer's Spark schema or its converted parquet schema, made
    * nullable as every file-source relation's schema is. */
  def footerSchema(file: Path, footer: ParquetMetadata,
                   c: Conversion): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = c.binaryAsString,
        assumeInt96IsTimestamp = c.int96AsTimestamp,
        inferTimestampNTZ = c.inferTimestampNTZ,
        nanosAsLong = c.nanosAsLong,
        respectUnknownTypeAnnotation = c.respectUnknownTypeAnnotation))
      .asNullable
}
