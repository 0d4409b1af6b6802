package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics, SQLShuffleReadMetricsReporter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.functions.TopKHeap

/** The map side of a [[KnnTopK]]: turns the rows of the node's child into
  * each query's survivors, rows (query_id, id, dist[, item]) with
  * `query_id` as the query batch holds it. It adds the rows it scored to
  * `rowsScored` and the (row, query) pairs to `pairsScored`. A kernel
  * holds one query batch, and its equality is identity, so two reads
  * are never taken for one plan. */
abstract class TopKKernel extends Serializable {
  def survivors(rows: RDD[InternalRow], rowsScored: SQLMetric,
      pairsScored: SQLMetric): RDD[InternalRow]
}

/** Each query's k nearest rows of `child`, as (query_id, id, dist, rank)
  * plus the carried `item` when `output` has one, rank 1-based by
  * (dist, id). `keys` is the number of queries. */
case class KnnTopK(kernel: TopKKernel, k: Int, keys: Int,
    output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode with MultiInstanceRelation {
  override def producedAttributes: AttributeSet = outputSet
  // a read joined with itself: the second side gets fresh attributes
  override def newInstance(): KnnTopK =
    copy(output = output.map(_.newInstance()))
  // the kernel reads the child's columns by position: none may be pruned
  override def references: AttributeSet = child.outputSet
  /** at most `keys` × k rows, whatever the child's size */
  override def stats: Statistics = {
    val rows = BigInt(keys) * k
    Statistics(rows * output.map(_.dataType.defaultSize).sum, Some(rows))
  }
  override protected def withNewChildInternal(c: LogicalPlan): KnnTopK =
    copy(child = c)
}

/** [[KnnTopK]] in one Spark job: the kernel runs over the child's
  * partitions, each survivor goes as an `UnsafeRow` to the partition
  * `HashPartitioning(query_id, partitions)` gives it, and one bounded
  * heap per `query_id` value merges them in the shuffle's reduce stage.
  * The exec requires no child distribution, so the planner adds no
  * exchange below it, and it declares the partitioning it produces. */
case class KnnTopKExec(kernel: TopKKernel, k: Int, partitions: Int,
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
  private lazy val readMetrics =
    SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sparkContext)
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "rowsScored" -> SQLMetrics.createMetric(sparkContext, "rows scored"),
    "pairsScored" -> SQLMetrics.createMetric(sparkContext, "pairs scored"),
    "survivors" -> SQLMetrics.createMetric(sparkContext,
      "survivors shuffled")) ++ readMetrics

  override def outputPartitioning: Partitioning =
    HashPartitioning(output.take(1), partitions)

  protected def doExecute(): RDD[InternalRow] = {
    // survivors are the output without rank (position 3)
    val shipped = output.patch(3, Nil, 1)
    val partitionId = HashPartitioning(output.take(1), partitions)
      .partitionIdExpression
    val shippedCount = longMetric("survivors")
    val keyed = kernel.survivors(child.execute(), longMetric("rowsScored"),
        longMetric("pairsScored"))
      .mapPartitionsInternal { it =>
        val toUnsafe = UnsafeProjection.create(shipped, shipped)
        val target = UnsafeProjection.create(partitionId :: Nil, shipped)
        it.map { r =>
          shippedCount.add(1)
          val u = toUnsafe(r)
          (target(u).getInt(0), u: InternalRow)
        }
      }
    // locals, so the task closures do not capture the plan
    val (n, kk) = (partitions, k)
    val keyType = output.head.dataType
    val itemType = output.lift(4).map(_.dataType)
    val schema = output
    GraftShims.passthroughShuffle(keyed, n, shipped.length, readMetrics)
      .mapPartitionsInternal { it =>
        // one heap per query_id VALUE: duplicate keys merge into one heap
        // and null keys into another, as a grouped aggregate merges them
        val merged = new java.util.LinkedHashMap[Any,
          (TopKHeap, java.util.HashMap[Long, Any])]()
        it.foreach { r =>
          val acc = merged.computeIfAbsent(
            InternalRow.copyValue(r.get(0, keyType)),
            _ => (new TopKHeap(kk), new java.util.HashMap[Long, Any]()))
          if (acc._1.add(r.getLong(1), r.getDouble(2)))
            itemType.foreach(t => acc._2.put(r.getLong(1),
              InternalRow.copyValue(r.get(3, t))))
        }
        val toUnsafe = UnsafeProjection.create(schema, schema)
        val out = new GenericInternalRow(schema.length)
        merged.entrySet.iterator.asScala.flatMap { e =>
          val (h, items) = e.getValue
          h.sorted.iterator.zipWithIndex.map { case (nb, i) =>
            out.update(0, e.getKey); out.setLong(1, nb.id)
            out.setDouble(2, nb.dist); out.setInt(3, i + 1)
            if (itemType.isDefined) out.update(4, items.get(nb.id))
            toUnsafe(out)
          }
        }
      }
  }

  override protected def withNewChildInternal(c: SparkPlan): KnnTopKExec =
    copy(child = c)
}

/** Plans [[KnnTopK]] into [[KnnTopKExec]]; installed in a session's
  * `experimental.extraStrategies` by the first read built there. */
object KnnTopKStrategy extends SparkStrategy {
  def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: KnnTopK =>
      // at most one partition per query
      val n = math.max(1, math.min(t.keys, SQLConf.get.numShufflePartitions))
      KnnTopKExec(t.kernel, t.k, n, t.output, planLater(t.child)) :: Nil
    case _ => Nil
  }

  /** Each query's k nearest rows of `rows` by `kernel`, as a frame of
    * `schema` ((query_id, id, dist, rank[, item])) over a [[KnnTopK]] of
    * `keys` queries. */
  def frame(rows: DataFrame, kernel: TopKKernel, k: Int, keys: Int,
      schema: StructType): DataFrame = {
    val session = rows.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    install(session)
    Dataset.ofRows(session, KnnTopK(kernel, k, keys,
      DataTypeUtils.toAttributes(schema), rows.queryExecution.analyzed))
  }

  private def install(session: SparkSession): Unit = {
    val x = session.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(this))
        x.extraStrategies = this +: x.extraStrategies
    }
  }
}
