package org.apache.spark.sql.graftshim

import scala.reflect.ClassTag

import org.apache.spark.{PartitionIdPassthrough, ShuffleDependency, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLShuffleReadMetricsReporter}
import org.apache.spark.sql.types.StructType

/** Minimal bridge to `private[sql]` Spark internals — the standard pattern
  * for Spark extension libraries that define custom Catalyst expressions
  * (Column <-> Expression conversion and session function registration are
  * not exposed publicly in Spark 4.x) — to the `private[spark]` shuffle
  * and RDD pieces the top-k exec ([[KnnTopKExec]]) and [[reroot]] run on,
  * and to the `private[spark]` listener bus.
  */
object GraftShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** `df` re-rooted on a one-to-one shuffle: map partition i writes its
    * rows, as `UnsafeRow`s and in order, to reduce partition i, so the
    * frame keeps its rows, their order and its partition count. A task
    * over the returned frame carries a shuffle partition index instead
    * of `df`'s lineage: rows that `df` holds in its partition objects
    * (a `parallelize`d collection) are serialized once, by the first job
    * over the frame, which writes the shuffle; every later job reads the
    * shuffle files. The files live as long as the returned frame's
    * lineage is referenced, so a cache built over it and later evicted
    * recomputes from them, not from `df`'s plan. */
  def reroot(df: DataFrame): DataFrame = {
    val session = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = df.schema
    val rows = df.queryExecution.toRdd
    // the shuffle writers serialize each record as it arrives, so the
    // projection's one output row is reused, as ShuffleExchangeExec does
    val keyed = rows.mapPartitionsWithIndexInternal { (i, it) =>
      val toUnsafe = UnsafeProjection.create(schema)
      it.map(r => (i, toUnsafe(r): InternalRow))
    }
    val shuffled = passthroughShuffle(keyed, rows.getNumPartitions,
      schema.length, SQLShuffleReadMetricsReporter.createShuffleReadMetrics(
        session.sparkContext))
    Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), shuffled)(session))
  }

  /** `rows` shuffled to `n` partitions: each (p, row) pair, its row an
    * `UnsafeRow` of `fields` fields, goes to partition p. */
  def passthroughShuffle(rows: RDD[(Int, InternalRow)], n: Int, fields: Int,
      readMetrics: Map[String, SQLMetric]): ShuffledRowRDD =
    new ShuffledRowRDD(new ShuffleDependency[Int, InternalRow, InternalRow](
      rows, new PartitionIdPassthrough(n), new UnsafeRowSerializer(fields)),
      readMetrics)

  /** `rdd.mapPartitionsInternal(f)`: no closure cleaner runs on `f` */
  def mapPartitionsInternal[T, U: ClassTag](rdd: RDD[T])(
      f: Iterator[T] => Iterator[U]): RDD[U] = rdd.mapPartitionsInternal(f)

  /** `df`'s rows as `InternalRow`s, collected as `Dataset.collect` collects
    * them (one SQL execution), without the conversion to `Row`s. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
  }

  /** Blocks until every listener has seen every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
