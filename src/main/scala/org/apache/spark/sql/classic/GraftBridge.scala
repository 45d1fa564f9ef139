package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for graft's custom Catalyst expressions.
  * ExpressionUtils is private[sql] in Spark 4's Scala signatures; exposing
  * these two calls from inside the package is the standard extension
  * pattern (the bytecode is public — only the Scala access modifier
  * blocks direct use).
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from an InternalRow RDD (`internalCreateDataFrame` is
    * private[sql]): lets a hot per-row pass consume `queryExecution.toRdd`
    * directly — UTF8String tokens straight out of the UnsafeRow, no
    * encoder round-trip through Scala Seq/String — and hand the result
    * back to Catalyst. Batch-only (isStreaming = false).
    */
  def internalDf(spark: org.apache.spark.sql.SparkSession,
                 rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                 schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[SparkSession].internalCreateDataFrame(rdd, schema)

  /** A local DataFrame of `rows` under `schema`: `Dataset.ofRows` (private
    * to `sql`) over a `LocalRelation` of the rows as they are. A search
    * verb's merged top-k is a few dozen rows built on the driver;
    * `createDataFrame` would convert each from an external `Row` first.
    */
  def localDf(spark: org.apache.spark.sql.SparkSession,
              schema: org.apache.spark.sql.types.StructType,
              rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))
}
