package org.apache.spark.sql.classic

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
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

  /** A search verb's result: a local DataFrame of `rows` under `schema`,
    * planned as a `LocalRelation` of the rows as they are (what
    * `Dataset.ofRows`, private to `sql`, plans; `createDataFrame` would
    * convert each from an external `Row` first). A verb's merged top-k is
    * a few dozen rows already materialized on the driver, as a Solr
    * response is, so [[LocalRows]] answers `collect`, `collectAsList` and
    * `head(n)` (and through it `take` and `first`) from those rows: no
    * Catalyst optimization, physical planning or SQL execution per call.
    * Every other action and transformation plans the `LocalRelation`.
    */
  def localDf(spark: org.apache.spark.sql.SparkSession,
              schema: org.apache.spark.sql.types.StructType,
              rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    session.withActive {
      val qe = session.sessionState.executePlan(
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))
      qe.assertAnalyzed()
      new LocalRows(qe, schema, rows)
    }
  }

  /** The Dataset [[localDf]] returns. Its rows are converted once to
    * `GenericRowWithSchema`s of `schema` (the rows a Catalyst `collect`
    * deserializes), and each fast action returns a fresh array of them.
    * Those actions post no SQL execution: they leave no SQL-UI entry and
    * call no `QueryExecutionListener`.
    */
  private final class LocalRows(qe: org.apache.spark.sql.execution.QueryExecution,
      schema: org.apache.spark.sql.types.StructType,
      internal: Seq[org.apache.spark.sql.catalyst.InternalRow])
      extends Dataset[Row](qe, () => ExpressionEncoder(schema)) {
    private val rows: Array[Row] = {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      internal.iterator.map(toRow(_).asInstanceOf[Row]).toArray
    }
    override def collect(): Array[Row] = rows.clone()
    override def collectAsList(): java.util.List[Row] = java.util.Arrays.asList(rows.clone(): _*)
    // a negative n fails in analysis, as on any Dataset
    override def head(n: Int): Array[Row] = if (n < 0) super.head(n) else rows.take(n)
  }

  /** `spark`'s `spark.sql.autoBroadcastJoinThreshold` in bytes; <= 0 turns
    * size-based broadcasts off.
    */
  def broadcastThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.asInstanceOf[SparkSession].sessionState.conf.autoBroadcastJoinThreshold
}
