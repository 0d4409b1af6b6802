package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` Spark internals — the standard pattern
  * for Spark extension libraries that define custom Catalyst expressions
  * (Column <-> Expression conversion and session function registration are
  * not exposed publicly in Spark 4.x) — to the `private[sql]` RDD-backed
  * plan node that carries statistics, and to the `private[spark]`
  * listener bus.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** A frame over `rows` (of `schema`) whose plan states at most
    * `rowCount` rows of `sizeInBytes`, so the planner can size a join
    * on it; an RDD-backed frame otherwise reports
    * `spark.sql.defaultSizeInBytes`. */
  def sizedRddFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, rowCount: BigInt, sizeInBytes: BigInt): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema),
      rows)(session, Some(Statistics(sizeInBytes, Some(rowCount)))))
  }

  /** Blocks until every listener has seen every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
