package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge, and a scan over a custom file index.
  *
  * Spark 4 made these conversions `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`); extension libraries
  * that define native Catalyst expressions conventionally expose them via
  * a shim in the sql namespace.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A parquet scan of the files `location` lists: `dataSchema`'s columns
    * (made nullable throughout, as `spark.read` makes them), then
    * `location.partitionSchema`'s. `StructType.asNullable` is
    * `private[spark]`, hence the shim. */
  def parquetScan(spark: SparkSession, location: FileIndex,
      dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(location,
      location.partitionSchema, dataSchema.asNullable, None,
      new ParquetFileFormat, Map.empty)(spark))
}

/** Re-exports of `private[sql]` types that native-expression authors
  * need in signatures (e.g. `ExpectsInputTypes.inputTypes`). */
object Types {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType
}
