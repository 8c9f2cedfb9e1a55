package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into Spark's `private[sql]` surface, the standard pattern
 * for external connectors/extensions that define native Catalyst
 * expressions: converts a Catalyst [[Expression]] to a user-facing
 * [[Column]] and back. Everything else in this project lives in the `graft`
 * namespace; keep this file as the single place that touches Spark
 * internals so version bumps have one seam to fix.
 */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst predicate → DSv1 source filter (the stock pushdown
   *  translation — `protected[sql]`, hence bridged here). Attribute
   *  names pass through; unsupported shapes yield None. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** One parquet file's Spark-facing schema from its FOOTER, on the
   *  driver — exactly Spark's own footer→schema conversion
   *  (`ParquetToSparkSchemaConverter` under the CALLER-captured SQLConf;
   *  pool threads may not inherit the active session), no Spark job.
   *  Drives the per-(path, conf) schema cache that replaces one
   *  distributed `mergeSchema` inference job per mixed-generation read. */
  def footerSchema(
      conf: org.apache.hadoop.conf.Configuration,
      sqlConf: org.apache.spark.sql.internal.SQLConf,
      path: org.apache.hadoop.fs.Path): org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    // Mirror ParquetFileFormat.readSchemaFromFooter, not just the raw
    // MessageType conversion: Spark's own inference PREFERS the Spark
    // schema a writer serialized into footer key-value metadata
    // (org.apache.spark.sql.parquet.row.metadata) — files whose logical
    // Spark type differs from the raw conversion (char/varchar metadata,
    // UDTs) must merge to the same schema the fallback path would infer.
    try org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(path, reader.getFooter),
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(sqlConf))
    finally reader.close()
  }

  /** Spark's own schema merge (`StructType.merge`, `private[sql]`): the
   *  fold `mergeSchema` inference applies to per-file schemas. Throws on
   *  incompatible types, exactly as Spark's inference does. */
  def mergeSchemas(
      a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** Every level nullable (`private[spark]`): what a file relation makes
   *  of its inferred data schema before any read sees it. */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** The SQLConf flags [[footerSchema]]'s conversion depends on, as a
   *  cache-key fragment — sessions differing in any of them must not
   *  share converted schemas. */
  def footerSchemaConfKey(sqlConf: org.apache.spark.sql.internal.SQLConf): String =
    Seq(sqlConf.isParquetBinaryAsString, sqlConf.isParquetINT96AsTimestamp,
      sqlConf.caseSensitiveAnalysis, sqlConf.parquetInferTimestampNTZEnabled,
      sqlConf.legacyParquetNanosAsLong, sqlConf.parquetFieldIdReadEnabled)
      .mkString(",")
}
