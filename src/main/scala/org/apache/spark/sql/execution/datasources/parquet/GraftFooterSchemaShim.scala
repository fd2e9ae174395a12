package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType

/** Spark's own parquet footer → schema conversion and schema merge,
  * driver-side: the two halves of `mergeSchema` inference
  * (`ParquetFileFormat.mergeSchemasInParallel`) without the Spark job
  * that runs them over the files. The converter and the case-sensitive
  * `StructType.merge` are `private[sql]`, hence this shim package.
  */
object GraftFooterSchemaShim {

  /** The session confs the footer converter reads, as one key: a schema
    * converted from a footer WITHOUT Spark's schema metadata (a Delta or
    * Iceberg import) depends on them, so a cached conversion is valid
    * only under the same key.
    */
  def converterKey(spark: SparkSession): Int = {
    val c = spark.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
      .foldLeft(0)((k, b) => k * 2 + (if (b) 1 else 0))
  }

  /** One file's schema from its footer metadata, exactly as
    * `mergeSchemasInParallel` derives it: Spark's embedded schema when
    * present, else the parquet schema through the converter built from
    * the same confs.
    */
  def footerSchema(spark: SparkSession, path: Path, meta: FileMetaData): StructType = {
    val c = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(path, new ParquetMetadata(meta, java.util.Collections.emptyList())),
      converter)
  }

  /** Left-to-right merge under the session's case sensitivity, failing
    * with the error `mergeSchema` inference raises; None for no schemas.
    */
  def merge(spark: SparkSession, schemas: Seq[StructType]): Option[StructType] = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    schemas.reduceOption { (left, right) =>
      try left.merge(right, caseSensitive) catch {
        case e: SparkException =>
          throw QueryExecutionErrors.failedMergingSchemaError(left, right, e)
      }
    }
  }
}
