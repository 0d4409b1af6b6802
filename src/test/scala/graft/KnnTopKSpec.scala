package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{KnnTopK, KnnTopKExec, KnnTopKStrategy}
import org.apache.spark.sql.types._

import graft.api.Vicinity
import graft.core.Metric
import graft.index.IvfStrategy
import graft.operators.Knn

/** The `KnnTopK` node: one plan per read, planned in any session, and the
  * work it reports. */
class KnnTopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dim = 8
  private val rnd = new scala.util.Random(41)
  private val vectors = Seq.fill(240)(Seq.fill(dim)(rnd.nextGaussian()))

  private def storeIn(s: SparkSession): DataFrame = s.createDataFrame(
    java.util.Arrays.asList(vectors.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v) }: _*),
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("vector", ArrayType(DoubleType, containsNull = false)))))

  /** (query_id, qvector) as a local relation, ids from `first` */
  private def queriesIn(s: SparkSession, vs: Seq[Seq[Double]],
      first: Long = 0L): DataFrame = s.createDataFrame(
    java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) =>
      Row(first + i, v) }: _*),
    StructType(Seq(StructField("query_id", LongType, nullable = false),
      StructField("qvector", ArrayType(DoubleType, containsNull = false)))))

  private def rows(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("query_id", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq.sorted

  /** the top-k execs of a plan after its action ran */
  private def topKExecs(p: SparkPlan): Seq[KnnTopKExec] =
    collectWithSubqueries(p) { case t: KnnTopKExec => t }

  test("a union of two reads over one cached store returns each batch's own rows") {
    val store = storeIn(spark).cache()
    try {
      // the same query ids in both batches: only the node's batch tells
      // the two reads apart
      val a = Knn.query(store, queriesIn(spark, vectors.take(3)), 5,
        Metric.Cosine)
      val b = Knn.query(store, queriesIn(spark, vectors.slice(100, 103)), 5,
        Metric.Cosine)
      def node(df: DataFrame) = df.queryExecution.analyzed
        .collectFirst { case t: KnnTopK => t }.get
      assert(node(a) != node(b))
      assert(node(a).canonicalized != node(b).canonicalized)
      val both = a.union(b)
      assert(rows(both) === (rows(a) ++ rows(b)).sorted)
      assert(rows(a).filter(_._4 == 1).map(_._2) === Seq(0L, 1L, 2L))
      assert(rows(b).filter(_._4 == 1).map(_._2) === Seq(100L, 101L, 102L))
      val plan = both.queryExecution.executedPlan
      assert(topKExecs(plan).size === 2, plan)
      assert(!plan.toString.contains("Reused"), plan)
    } finally store.unpersist()
  }

  test("a read joined with itself on query_id pairs each query's own rows") {
    val ranked = Knn.query(storeIn(spark), queriesIn(spark, vectors.take(3)),
      4, Metric.Cosine)
    val pairs = ranked.as("a").join(ranked.as("b"), "query_id")
      .where(col("a.rank") === 1 && col("b.rank") === 1)
      .select("query_id", "a.id", "b.id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(pairs === Seq((0L, 0L, 0L), (1L, 1L, 1L), (2L, 2L, 2L)))
  }

  test("a fresh session plans the node with no setup") {
    val fresh = spark.newSession()
    assert(!fresh.experimental.extraStrategies.contains(KnnTopKStrategy))
    val ranked = Knn.query(storeIn(fresh), queriesIn(fresh, vectors.take(4)),
      3, Metric.Euclidean)
    assert(fresh.experimental.extraStrategies.count(_ == KnnTopKStrategy) === 1)
    val got = rows(ranked)
    assert(topKExecs(ranked.queryExecution.executedPlan).size === 1)
    assert(got.length === 12)
    assert(got.filter(_._4 == 1).map(_._2) === Seq(0L, 1L, 2L, 3L))
    assert(got === rows(Knn.query(storeIn(spark),
      queriesIn(spark, vectors.take(4)), 3, Metric.Euclidean)))
  }

  test("a BASIC read reports store rows x queries pairs scored") {
    val vic = Vicinity.fromVectorsAndItems(spark,
      vectors.indices.map(i => s"item$i"), vectors)
    val batch = queriesIn(spark, vectors.take(6).map(_.map(_ * 2.0)))
    val served = vic.queryDf(batch, 4)
    assert(served.collect().length === 6 * 4)
    val Seq(exec) = topKExecs(served.queryExecution.executedPlan)
    def metric(name: String) = exec.metrics(name).value
    assert(metric("rowsScored") === vectors.length)
    assert(metric("pairsScored") === vectors.length.toLong * 6)
    // each store partition ships at most k survivors per query
    val storeParts = exec.child.execute().getNumPartitions
    assert(metric("survivors") >= 6 * 4)
    assert(metric("survivors") <= 6 * 4 * storeParts)
  }

  test("an IVF disk read reports the rows of its probed cells as rows scored") {
    val strat = IvfStrategy(Metric.Cosine, nlist = 8, nprobe = 2)
    val prepared = strat.prepare(storeIn(spark)).cache()
    try {
      val dir = VerifyIO.scratchDir("graft_topk_metrics")
        .resolve("index").toString
      strat.writeServingIndex(prepared, dir)
      val q = queriesIn(spark, vectors.slice(7, 9))
      val served = strat.queryFromDisk(spark, dir, q, 5)
      assert(served.collect().length === 2 * 5)
      val Seq(exec) = topKExecs(served.queryExecution.executedPlan)
      val probed = strat.probeCells(q)
      assert(probed.size < 8)
      val cellRows = prepared.where(col("_centroid").isin(probed: _*)).count()
      assert(exec.metrics("rowsScored").value === cellRows)
      assert(exec.metrics("pairsScored").value >= cellRows)
      assert(exec.metrics("pairsScored").value <= 2 * cellRows)
    } finally prepared.unpersist()
  }
}
