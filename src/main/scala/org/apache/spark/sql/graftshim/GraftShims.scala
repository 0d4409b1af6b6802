package org.apache.spark.sql.graftshim

import org.apache.spark.{PartitionIdPassthrough, ShuffleDependency, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, ShuffledRowRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.metric.SQLShuffleReadMetricsReporter
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
    * `spark.sql.defaultSizeInBytes`. The plan also states that `rows`
    * is `HashPartitioning(hashedOn, partitions)`: row r sits in
    * partition pmod(murmur3(r.hashedOn, 42), partitions), so an
    * aggregate or join clustered on that column needs no exchange. The
    * caller guarantees the placement. */
  def sizedRddFrame(spark: SparkSession, rows: RDD[InternalRow],
      schema: StructType, rowCount: BigInt, sizeInBytes: BigInt,
      hashedOn: String): DataFrame = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    Dataset.ofRows(session, LogicalRDD(attrs, rows,
      HashPartitioning(attrs.filter(_.name == hashedOn), rows.getNumPartitions))(
      session, Some(Statistics(sizeInBytes, Some(rowCount)))))
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
    val dep = new ShuffleDependency[Int, InternalRow, InternalRow](keyed,
      new PartitionIdPassthrough(rows.getNumPartitions),
      new UnsafeRowSerializer(schema.length))
    val shuffled = new ShuffledRowRDD(dep,
      SQLShuffleReadMetricsReporter.createShuffleReadMetrics(
        session.sparkContext))
    Dataset.ofRows(session,
      LogicalRDD(DataTypeUtils.toAttributes(schema), shuffled)(session))
  }

  /** Blocks until every listener has seen every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
