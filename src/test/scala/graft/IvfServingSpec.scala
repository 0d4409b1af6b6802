package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Vicinity
import graft.core.{Backend, BackendArgs, Metric}
import graft.index.{DiskServing, IndexStrategy, IvfBqStrategy, IvfPqStrategy, IvfSq8Strategy, IvfStrategy}

/** The IVF family's serving read: driver-side probing, the sidecar's
  * recorded schema, one top-k body for memory and disk, and `item`
  * carried out of the layout. */
class IvfServingSpec extends SparkSpec {
  private val dim = 8
  private val n = 400
  private val k = 10
  private val rnd = new scala.util.Random(17)
  private val vectors = Seq.fill(n + 64)(Seq.fill(dim)(rnd.nextGaussian()))
  private val items = vectors.indices.map(i => s"item$i")

  /** (query_id, qvector) as a local relation */
  private def queries(vs: Seq[Seq[Double]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v) }: _*),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("qvector", ArrayType(DoubleType, containsNull = false)))))

  private def ivfFacade(): Vicinity = Vicinity.fromVectorsAndItems(spark,
    items.take(n), vectors.take(n), Backend.Faiss,
    Some(BackendArgs.FaissArgs(Metric.Cosine, indexType = "ivf", nlist = 8)))

  private def layoutDir(prefix: String): String =
    VerifyIO.scratchDir(prefix).resolve("index").toString

  private def sidecar(dir: String) =
    java.nio.file.Paths.get(dir, "_ivf_serving_meta.json")

  test("a single-query IVF disk read runs one job and no schema inference") {
    val dir = layoutDir("graft_ivf_jobs")
    val vic = ivfFacade()
    vic.writeServingIndex(dir)
    val grown = vic.insertIntoServing(dir, items.slice(n, n + 16),
      vectors.slice(n, n + 16))
    val q = queries(Seq(vectors(3)))
    grown.queryFromDiskDf(dir, q, k).collect() // warm
    val (served, built) = jobSites(grown.queryFromDiskDf(dir, q, k))
    assert(built.isEmpty, s"building the read ran jobs: $built")
    val (rows, ran) = jobSites(served.collect())
    assert(ran.size === 1, s"a single-query read ran ${ran.size} jobs: $ran")
    assert(!ran.exists(_.startsWith("parquet at")), s"schema inference: $ran")
    // the cell-pruned layout scan runs beneath the top-k node
    val topK = served.queryExecution.executedPlan.collectFirst {
      case t: org.apache.spark.sql.graftshim.KnnTopKExec => t }
    assert(topK.isDefined, served.queryExecution.executedPlan)
    val cellScans = fileScans(topK.get).filter(_.partitionFilters
      .exists(_.references.exists(_.name == "_centroid")))
    assert(cellScans.nonEmpty, s"no _centroid-filtered scan under ${topK.get}")
    assert(rows.length === k)
    assert(rows.head.getAs[Long]("id") === 3L)
    assert(rows.forall(r => r.getAs[String]("item") ==
      items(r.getAs[Long]("id").toInt)))
  }

  test("served items equal the store-join answer after append, compaction and deleteFromDisk") {
    val dir = layoutDir("graft_ivf_items")
    var vic = ivfFacade()
    vic.writeServingIndex(dir)
    val q = queries(vectors.slice(0, 8))
    def check(stage: String): Unit = {
      val disk = vic.strategy.asInstanceOf[DiskServing]
      val joined = disk.queryFromDisk(spark, dir, q, k).drop("item")
        .join(vic.store.select("id", "item"), Seq("id"), "left")
        .select("query_id", "id", "item", "dist", "rank").collect()
      val served = vic.queryFromDiskDf(dir, q, k).collect()
      assert(served.length === 8 * k, stage)
      assert(served.toSet === joined.toSet, stage)
      assert(served.forall(_.getAs[String]("item") != null), stage)
    }
    check("written")
    vic = vic.insertIntoServing(dir, items.slice(n, n + 32),
      vectors.slice(n, n + 32))
    vic = vic.insertIntoServing(dir, items.slice(n + 32, n + 64),
      vectors.slice(n + 32, n + 64))
    check("appended")
    vic.compactServing(dir)
    check("compacted")
    val top = vic.queryFromDiskDf(dir, q, 3).where(col("query_id") === 0)
      .select("id").collect().map(_.getLong(0)).toSeq
    val dels = vic.store.where(col("id").isin(top: _*)).select("id", "vector")
    assert(vic.deleteFromDisk(dir, dels) === 3L)
    check("deleted")
    assert(!vic.queryFromDiskDf(dir, q, k).collect()
      .exists(r => top.contains(r.getAs[Long]("id"))))
  }

  test("the sidecar records the layout schema; a sidecar without it still serves") {
    val dir = layoutDir("graft_ivf_schema")
    val vic = ivfFacade()
    vic.writeServingIndex(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def meta = mapper.readTree(sidecar(dir).toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(meta.has("schema"), "the sidecar records no schema")
    val recorded = DataType.fromJson(meta.get("schema").asText())
      .asInstanceOf[StructType]
    assert(spark.read.schema(recorded).parquet(dir).schema ===
      spark.read.parquet(dir).schema)
    val q = queries(vectors.slice(10, 14))
    val before = vic.queryFromDiskDf(dir, q, k).collect().toSet
    val legacy = meta
    legacy.remove("schema")
    mapper.writeValue(sidecar(dir).toFile, legacy)
    assert(!meta.has("schema"))
    assert(vic.queryFromDiskDf(dir, q, k).collect().toSet === before)
    // the next sidecar write records the schema again
    vic.insertIntoServing(dir, items.slice(n, n + 4), vectors.slice(n, n + 4))
    val rerecorded = DataType.fromJson(meta.get("schema").asText())
      .asInstanceOf[StructType]
    assert(spark.read.schema(rerecorded).parquet(dir).schema ===
      spark.read.parquet(dir).schema)
  }

  test("IvfSq8/IvfBq/IvfPq disk answers equal their in-memory answers through the shared probe and read") {
    val store = spark.createDataFrame(
      java.util.Arrays.asList(vectors.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v) }: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("vector", ArrayType(DoubleType, containsNull = false)))))
    val base = store.where(col("id") < n)
    val more = store.where(col("id") >= n)
    val ivf = IvfStrategy(Metric.Cosine, nlist = 8, nprobe = 3)
    ivf.prepare(base)
    val q = queries(vectors.slice(20, 26))
    // the probe the cells were chosen by before it moved to the driver:
    // a UDF over the normalized query column
    val cents = ivf.centroidArray
    val nearest = udf { (v: Seq[Double]) =>
      cents.map(c => v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        .zipWithIndex.sortBy(_._1).take(3).map(_._2) }
    val sparkSide = q.select(explode(nearest(graft.functions.VectorFunctions
        .l2_normalize(col("qvector")))))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(ivf.probeCells(q) === sparkSide)
    val sq8 = IvfSq8Strategy(Metric.Cosine, nlist = 8, nprobe = 3)
    sq8.adoptCentroids(cents)
    val bq = IvfBqStrategy(Metric.Cosine, nlist = 8, nprobe = 3)
    bq.adoptCentroids(cents)
    val pq = IvfPqStrategy(Metric.Cosine, nlist = 8, nprobe = 3, m = 4,
      nbits = 4, rerank = true)
    pq.adoptCentroids(cents)
    Seq[(String, IndexStrategy with DiskServing)](
      "ivf_scalar" -> sq8, "ivf_bq" -> bq, "ivfpq" -> pq).foreach {
      case (family, s) =>
        val dir = layoutDir(s"graft_${family}_serve")
        val prepared = s.prepare(base).cache()
        s.writeServingIndex(prepared, dir)
        val grown = s.appendToServing(spark, dir, prepared, more, "spec")
          .cache()
        val disk = s.queryFromDisk(spark, dir, q, k).collect()
        assert(disk.length === 6 * k, family)
        assert(disk.toSet === s.query(grown, q, k).collect().toSet, family)
        prepared.unpersist(); grown.unpersist()
    }
  }
}
