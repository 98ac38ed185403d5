package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge to `private[sql]` classic API — the Column↔Expression
  * converters (the supported pattern for libraries that add native
  * Catalyst expressions on Spark 4's connect-agnostic Column API), the
  * InternalRow DataFrame constructor, and `StructType.asNullable`. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** `ds` as a scan of its own lazily built physical RDD
    * (`queryExecution.toRdd`): one `LogicalRDD` leaf, so every copy of
    * it inside a larger plan canonicalizes alike. Rows stay in the
    * internal format; no job runs here unless building `ds`'s RDD runs
    * one. */
  def reRoot[T](ds: Dataset[T]): Dataset[T] =
    ds.sparkSession.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
      .as[T](ds.encoder)

  /** `s` with every field, nested ones too, nullable: the schema a
    * Parquet read gives a frame written with `s`. */
  def asNullable(s: StructType): StructType = s.asNullable
}
