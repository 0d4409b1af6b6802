package graft

import org.apache.spark.{ShuffleDependency, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.api.Vicinity
import graft.core.{Backend, BackendArgs, Metric}

/** A built store's lineage is cut once, at build: read tasks carry a
  * partition index, not the store's rows, and ids stay positions. */
class StoreLineageSpec extends SparkSpec {
  private val n = 20480
  private val dim = 64

  private lazy val vectors: IndexedSeq[Seq[Double]] = {
    val rnd = new scala.util.Random(11)
    IndexedSeq.fill(n)(Seq.fill(dim)(rnd.nextGaussian()))
  }
  private lazy val items = (0 until n).map(i => s"item$i")

  /** the first `rows` rows as an (item, vector) frame over a
    * `parallelize`d RDD */
  private def parallelized(rows: Int, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
        items.zip(vectors).take(rows).map { case (it, v) => Row(it, v) },
        parts),
      StructType(Seq(StructField("item", StringType, nullable = false),
        StructField("vector", ArrayType(DoubleType, containsNull = false)))))

  private def queries(from: Int, count: Int): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
        (from until from + count).map(i => Row(i.toLong, vectors(i))): _*),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("qvector", ArrayType(DoubleType, containsNull = false)))))

  /** the RDD a stage ending in `rdd`'s nearest shuffle runs: the map side
    * of the first shuffle dependency found walking down from `rdd` */
  private def mapSide(rdd: RDD[_]): RDD[_] = rdd.dependencies.collectFirst {
    case s: ShuffleDependency[_, _, _] => s.rdd
  }.getOrElse(mapSide(rdd.dependencies.head.rdd))

  /** serialized bytes of each partition object a task of `rdd`'s stage
    * ships, as the scheduler serializes it */
  private def partitionBytes(rdd: RDD[_]): Seq[Int] = {
    val ser = SparkEnv.get.closureSerializer.newInstance()
    rdd.partitions.toSeq.map(p => ser.serialize(p).limit())
  }

  /** (query_id, id, item, dist, rank), sorted */
  private def answer(df: DataFrame) =
    df.select("query_id", "id", "item", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getInt(4)))
      .sortBy(r => (r._1, r._5)).toSeq

  test("a read's kernel tasks ship a partition index, not the store's rows") {
    val built = Seq(
      "fromVectorsAndItems" -> Vicinity.fromVectorsAndItems(spark, items,
        vectors),
      "fromDataFrame" -> Vicinity.fromDataFrame(parallelized(n, 4), "item",
        "vector", Backend.Basic))
    for ((label, vic) <- built) {
      val read = vic.queryDf(queries(0, 8), 5)
      val kernel = mapSide(read.queryExecution.toRdd)
      val sizes = partitionBytes(kernel)
      assert(sizes.size > 1, s"$label: ${sizes.size} kernel partitions")
      assert(sizes.max < 4096, s"$label: kernel partition bytes $sizes")
      assert(answer(read).count(_._4 < 1e-9) === 8, label)
    }
  }

  test("fromVectorsAndItems ids are positions over a multi-partition input") {
    val vic = Vicinity.fromVectorsAndItems(spark, items, vectors)
    assert(vic.store.rdd.getNumPartitions > 1)
    val stored = vic.store.select("id", "item", "vector").collect()
    assert(stored.length === n)
    stored.foreach { r =>
      val i = r.getLong(0).toInt
      assert(r.getString(1) === items(i))
      assert(r.getSeq[Double](2) === vectors(i))
    }
  }

  test("delete re-derives ids 0..n-1 over a re-rooted store") {
    val vic = Vicinity.fromDataFrame(parallelized(12000, 3), "item",
      "vector", Backend.Basic)
    val gone = Set("item0", "item5000", "item11999")
    val after = vic.delete(gone.toSeq)
    val kept = items.take(12000).filterNot(gone)
    val stored = after.store.select("id", "item").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(stored === kept.indices.map(_.toLong).zip(kept))
    assert(after.length === kept.size)
  }

  test("BASIC and IVF answer the same rows after the cache is cleared") {
    val q = queries(100, 16)
    val facades = Seq(
      "basic" -> Vicinity.fromVectorsAndItems(spark, items.take(12000),
        vectors.take(12000)),
      "ivf" -> Vicinity.fromVectorsAndItems(spark, items.take(12000),
        vectors.take(12000), Backend.Faiss,
        Some(BackendArgs.FaissArgs(Metric.Cosine, indexType = "ivf",
          nlist = 16))))
    val before = facades.map { case (_, v) => answer(v.queryDf(q, 10)) }
    spark.catalog.clearCache()
    facades.zip(before).foreach { case ((label, v), rows) =>
      assert(v.store.storageLevel.useMemory === false, label)
      assert(answer(v.queryDf(q, 10)) === rows, label)
      assert(rows.size === 16 * 10, label)
    }
  }
}
