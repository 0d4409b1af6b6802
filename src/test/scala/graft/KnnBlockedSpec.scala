package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.Vicinity
import graft.core.{Backend, BackendArgs, Metric}
import graft.functions.{TopK, VectorFunctions}
import graft.index.{ExactStrategy, IvfStrategy, LshStrategy}
import graft.operators.Knn

class KnnBlockedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = sf("embeddings", "/root/testdata/sf0.01")
    .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vector"))
    .cache()

  /** (query_id, id, dist bits, rank), sorted */
  private def collect(df: DataFrame) =
    df.select("query_id", "id", "dist", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .sorted.toSeq

  /** The cross-join + `topk_neighbors` top-k that `Knn.query` and
    * `ExactStrategy` ran before the blocked kernel, kept here as the
    * bit-level reference: one join row per (store row, query) pair scored
    * by `kernel`'s codegen'd expression, clipped before selection except
    * for InnerProduct. The output clip is left to [[clipOut]]. */
  private def crossJoinTopK(store: DataFrame, queries: DataFrame, k: Int,
      kernel: Metric, clip: Boolean): DataFrame = {
    val raw = VectorFunctions.distance(kernel)($"vector", $"qvector")
    val pairs = store.crossJoin(broadcast(queries))
      .select($"query_id", $"id",
        (if (clip) greatest(raw, lit(0.0)) else raw).as("dist"))
    TopK.topKPerGroup(pairs, Seq("query_id"), "id", "dist", k)
  }

  private def clipOut(df: DataFrame) =
    df.withColumn("dist", greatest($"dist", lit(0.0)))

  /** the plan `Knn.query` ran before the blocked kernel */
  private def crossJoinQuery(store: DataFrame, queries: DataFrame, k: Int,
      metric: Metric): DataFrame =
    clipOut(crossJoinTopK(store, queries, k, metric,
      clip = metric != Metric.InnerProduct))

  for (metric <- Metric.all) {
    test(s"blocked kernel matches the join plan (${metric.name})") {
      val queries = emb.where($"id" < 20)
        .select($"id".as("query_id"), $"vector".as("qvector"))
      val joined = collect(crossJoinQuery(emb, queries, 5, metric))
      val blocked = collect(Knn.query(emb, queries, 5, metric))
      assert(blocked === joined)
    }
  }

  test("Knn.query keeps the query frame's query_id type") {
    val queries = emb.where($"id" < 3)
      .select(concat(lit("q"), $"id").as("query_id"), $"vector".as("qvector"))
    val got = Knn.query(emb, queries, 4, Metric.Cosine)
    assert(got.schema("query_id").dataType === StringType)
    def rows(df: DataFrame) = df.select("query_id", "id", "dist", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .sorted.toSeq
    assert(rows(got) === rows(crossJoinQuery(emb, queries, 4, Metric.Cosine)))
  }

  // ---- ExactStrategy against the cross-join body it replaced ----

  /** [[crossJoinTopK]] as `ExactStrategy` ran it: queries normalized in
    * their element type like the store, cosine scored as inner product. */
  private def joinReference(metric: Metric, prepared: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val q = if (metric == Metric.Cosine)
      queries.withColumn("qvector", VectorFunctions.l2_normalize($"qvector"))
    else queries
    val kernel = if (metric == Metric.Cosine) Metric.InnerProduct else metric
    crossJoinTopK(prepared, q, k, kernel, clip = metric != Metric.InnerProduct)
  }

  /** 203 stored rows of 12 dims plus a null-vector row (id 999), in five
    * partitions, the last one empty: dims 0-5 seeded Gaussian, dims 6-11
    * in {-1, 0, 1} (so Hamming and Tanimoto see ties), ids 200-202 copy
    * rows 0-2 (equal distances, ties broken on id). */
  private val dim = 12
  private lazy val rows: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map { i =>
      i.toLong -> Array.tabulate(dim)(j =>
        if (j < 6) rnd.nextGaussian() else (rnd.nextInt(3) - 1).toDouble)
    }
    base ++ (0 until 3).map(i => (200L + i) -> base(i)._2)
  }

  private def vecs(elem: DataType, vs: Seq[Array[Double]]): Seq[Any] =
    vs.map(v => if (v == null) null
      else if (elem == FloatType) v.map(_.toFloat).toSeq else v.toSeq)

  private def storeOf(elem: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("vector", ArrayType(elem))))
    val all = rows :+ (999L -> (null: Array[Double]))
    val data = all.map(_._1).zip(vecs(elem, all.map(_._2)))
      .map { case (id, v) => Row(id, v) }
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(data, 4)
      .union(sc.parallelize(Seq.empty[Row], 1)), schema)
  }

  /** ten query rows (a batch that is not a multiple of the tile width):
    * stored vectors (distance 0 to themselves and to their copies), a
    * second row under query_id 3, a null vector under query_id 7, and
    * Gaussian draws */
  private def queriesOf(elem: DataType): DataFrame = {
    val rnd = new scala.util.Random(11)
    val qs: Seq[(Long, Array[Double])] = Seq(
      0L -> rows(0)._2, 1L -> rows(201)._2, 2L -> rows(57)._2,
      3L -> rows(9)._2, 3L -> Array.fill(dim)(rnd.nextGaussian()),
      4L -> Array.fill(dim)(rnd.nextGaussian()),
      5L -> Array.fill(dim)(rnd.nextGaussian()),
      6L -> rows(130)._2, 7L -> null, 8L -> rows(2)._2)
    val schema = StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qvector", ArrayType(elem))))
    spark.createDataFrame(java.util.Arrays.asList(
      qs.map(_._1).zip(vecs(elem, qs.map(_._2)))
        .map { case (q, v) => Row(q, v) }: _*), schema)
  }

  for (metric <- Metric.all; elem <- Seq(FloatType, DoubleType)) {
    test(s"ExactStrategy top-k is bit-identical to the cross-join plan " +
        s"(${metric.name}, ${elem.simpleString})") {
      val strat = ExactStrategy(metric)
      val store = storeOf(elem)
      val queries = queriesOf(elem)
      val prepared = strat.prepare(store).cache()
      // the reference sees the frames without their null-vector rows: the
      // cross join's clip (`greatest` skips nulls) scored a null vector
      // at distance 0, where the blocked kernel scores nothing
      val refPrepared = strat.prepare(store.where($"vector".isNotNull))
      val refQueries = queries.where($"qvector".isNotNull)
      for (k <- Seq(5, 250)) { // 250 > the 203 scored rows
        val got = collect(strat.query(prepared, queries, k))
        assert(got ===
          collect(clipOut(joinReference(metric, refPrepared, refQueries, k))),
          s"k = $k")
        assert(got.map(_._1).distinct.sorted === (0L to 8L).filter(_ != 7L),
          "every query but the null vector answers, duplicate ids merged")
        assert(!got.exists(_._2 == 999L), "the null store vector scored")
      }
      // annThreshold: top-max_k, then the strict < mask on the RAW value
      // (signed for InnerProduct), then the output clip
      val ann = ExactStrategy(metric, annThreshold = true)
      val maxK = 7
      val ref = joinReference(metric, refPrepared, refQueries, maxK)
      val raws = ref.select("dist").collect().map(_.getDouble(0)).sorted
      val threshold = raws(raws.length / 2)
      def masked(df: DataFrame) =
        df.select("query_id", "id", "dist").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
          .sorted.toSeq
      val got = masked(ann.queryThreshold(prepared, queries, threshold, maxK))
      assert(got.nonEmpty && got.size < raws.length)
      assert(got === masked(clipOut(ref.where($"dist" < threshold))))
      prepared.unpersist()
    }
  }

  test("blocked kernel skips a null store vector and a null query vector") {
    val store = storeOf(DoubleType)
    val queries = queriesOf(DoubleType)
    for (metric <- Seq(Metric.Cosine, Metric.InnerProduct)) {
      val got = collect(Knn.query(store, queries, 5, metric))
      assert(got === collect(crossJoinQuery(store.where($"vector".isNotNull),
        queries.where($"qvector".isNotNull), 5, metric)))
      assert(!got.exists(_._2 == 999L))
      assert(!got.exists(_._1 == 7L))
    }
  }

  /** (query_id, id, dist bits) of a radius answer, sorted */
  private def pairs(df: DataFrame) =
    df.select("query_id", "id", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
      .sorted.toSeq

  test("radius queries return no row for a null store or query vector") {
    val store = storeOf(DoubleType)
    val queries = queriesOf(DoubleType)
    val nullFree = (store.where($"vector".isNotNull),
      queries.where($"qvector".isNotNull))
    for ((metric, threshold) <- Seq((Metric.Cosine, 0.9),
        (Metric.Euclidean, 4.0), (Metric.InnerProduct, 0.0))) {
      val got = pairs(Knn.queryThreshold(store, queries, threshold, metric))
      assert(got.nonEmpty, metric.name)
      assert(!got.exists(_._2 == 999L), s"${metric.name}: null store vector")
      assert(!got.exists(_._1 == 7L), s"${metric.name}: null query vector")
      assert(got === pairs(Knn.queryThreshold(nullFree._1, nullFree._2,
        threshold, metric)), metric.name)
    }
    // the BASIC facade's radius path (ExactStrategy, inclusive <=)
    val items = store.select(concat(lit("item"), $"id").as("item"), $"vector")
      .orderBy($"vector".isNull, $"id")
    val vic = graft.api.Vicinity.fromDataFrame(items, "item", "vector")
    val res = vic.queryThresholdDf(queries, 0.9, maxK = 1000)
      .select("query_id", "item").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(res.nonEmpty)
    assert(!res.exists(_._2 == "item999"), "null store vector matched")
    assert(!res.exists(_._1 == 7L), "null query vector matched")
  }

  test("matryoshkaRerank never returns a null-vector id") {
    val store = storeOf(DoubleType)
    val queries = queriesOf(DoubleType)
    val got = collect(Knn.matryoshkaRerank(store, queries, coarseDims = 4,
      pool = 20, k = 5))
    assert(got.nonEmpty)
    assert(!got.exists(_._2 == 999L), "null store vector ranked")
    assert(!got.exists(_._1 == 7L), "null query vector answered")
    assert(got === collect(Knn.matryoshkaRerank(
      store.where($"vector".isNotNull), queries.where($"qvector".isNotNull),
      coarseDims = 4, pool = 20, k = 5)))
  }

  /** the first IllegalArgumentException in `e`'s cause chain */
  private def illegalArg(e: Throwable): Option[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .find(_.isInstanceOf[IllegalArgumentException])

  test("blocked kernel fails on a vector dimension mismatch like the expression path") {
    val store = storeOf(DoubleType).where($"vector".isNotNull)
    for ((len, label) <- Seq((dim + 3, "longer"), (dim - 4, "shorter"))) {
      val queries = Seq((0L, Seq.fill(len)(0.5))).toDF("query_id", "qvector")
      val expected = s"vector dimension mismatch: $dim vs $len"
      def failure(run: => Any): String = {
        val e = intercept[Exception](run)
        illegalArg(e).map(_.getMessage).getOrElse(s"$label query: $e")
      }
      assert(failure(crossJoinQuery(store, queries, 3, Metric.Euclidean)
        .collect()) === expected, s"$label query, expression path")
      assert(failure(Knn.query(store, queries, 3, Metric.Euclidean)
        .collect()) === expected, s"$label query, Knn.query")
      val strat = ExactStrategy(Metric.Cosine)
      assert(failure(strat.query(strat.prepare(store), queries, 3)
        .collect()) === expected, s"$label query, ExactStrategy")
    }
  }

  test("blocked self-join (excludeSelf) matches selfJoin") {
    val queries = emb.select($"id".as("query_id"), $"vector".as("qvector"))
    val a = collect(clipOut(Knn.blockedTopK(emb, queries, 1, Metric.Cosine,
      clip = true, excludeSelf = true)))
    val b = collect(Knn.selfJoin(emb, 1, Metric.Cosine))
    assert(a === b)
  }

  test("blocked kernel is faster than the join plan on a large query batch") {
    val queries = emb.select($"id".as("query_id"), $"vector".as("qvector"))
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tJoin = time(
      crossJoinQuery(emb, queries, 10, Metric.Cosine).count())
    val tBlocked = time(Knn.query(emb, queries, 10, Metric.Cosine).count())
    info(f"join plan: $tJoin%.2fs, blocked kernel: $tBlocked%.2fs (500x500)")
    assert(tBlocked > 0) // timing is informational; correctness asserted above
  }

  test("MMR at lambda = 1 degenerates to exact top-k (minus self)") {
    val queries = emb.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val mmr = Knn.mmrRerank(emb, queries, pool = 40, k = 10, lambda = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // exact knn with self excluded: k+1 then drop the self row
    val exact = Knn.query(emb, queries, 11, Metric.Cosine)
      .where($"query_id" =!= $"id")
      .collect().map(r => (r.getLong(0), r.getInt(3).toLong, r.getLong(1)))
      .filter(_._2 <= 11).toSeq
    val exactTop = exact.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).take(10).map(_._3)).toMap
    val mmrTop = mmr.groupBy(_._1).view.mapValues(
      _.sortBy(_._2).map(_._3)).toMap
    // relevance-only MMR must visit the same ids in the same order
    assert(mmrTop.keySet == exactTop.keySet)
    for ((q, ids) <- mmrTop) assert(ids == exactTop(q), s"query $q")
  }

  test("MMR diversifies: a near-duplicate of rank 1 is demoted below lambda = 1") {
    // planted pool around q = e1: a (rel .80) with a near-copy a'
    // (rel .79), and two diverse directions b (rel .75, sim-to-a .60) and
    // c (rel .70, sim-to-a .56). Relevance order: a, a', b, c. At
    // lambda = 0.5 the dup's score is 0.5·(rel − ~1) ≈ −0.10 while the
    // diverse items score 0.5·(rel − sim) ≈ +0.07, so a' drops out
    // entirely. NOTE the anchor must NOT sit at rel ≈ 1: with a ≈ q every
    // candidate's sim-to-a ≈ its rel and 0.5·(rel − sim) ≈ 0 for
    // everything, which is MMR working as specified, not diversifying.
    val rows = Seq(
      10L -> Seq(0.80, 0.60, 0.0, 0.0),    // a
      11L -> Seq(0.79, 0.61, 0.0, 0.0),    // a': near-duplicate of a
      12L -> Seq(0.75, 0.0, 0.6614, 0.0),  // b: diverse, still relevant
      13L -> Seq(0.70, 0.0, 0.0, 0.7141))  // c: a third direction
    val store = rows.toDF("id", "vector")
    val queries = Seq((99L, Seq(1.0, 0.0, 0.0, 0.0)))
      .toDF("query_id", "qvector")
    def picks(lambda: Double) =
      Knn.mmrRerank(store, queries, pool = 4, k = 3, lambda = lambda)
        .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(picks(1.0) == Seq(10L, 11L, 12L))  // pure relevance keeps the dup
    assert(picks(0.5) == Seq(10L, 12L, 13L))  // diversified: dup demoted out
  }

  // ---- one job, item carried, one survivor merge ----

  /** (query_id, qvector) as a local relation, ids 0.. */
  private def localQueries(vs: Seq[Array[Double]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(vs.zipWithIndex.map { case (v, i) =>
        Row(i.toLong, v.toSeq) }: _*),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("qvector", ArrayType(DoubleType, containsNull = false)))))

  private lazy val itemNames = rows.indices.map(i => s"item$i")

  test("a BASIC top-k read runs one Spark job with no join and no exchange") {
    val vic = Vicinity.fromVectorsAndItems(spark, itemNames,
      rows.map(_._2.toSeq))
    val batch = localQueries(rows.take(24).map(_._2))
    vic.queryDf(batch, 10).collect() // the prepared frame is cached
    val (served, built) = jobSites(vic.queryDf(batch, 10))
    assert(built.isEmpty, s"building the read ran jobs: $built")
    val (got, ran) = jobSites(served.collect())
    assert(ran.size === 1, s"a top-k read ran ${ran.size} jobs: $ran")
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(got.length === 24 * 10)
    assert(got.forall(r => r.getAs[String]("item") ==
      itemNames(r.getAs[Long]("id").toInt)))
  }

  test("BASIC and FAISS flat serve the store-join items after insert and delete") {
    val base = rows.take(160)
    val more = rows.slice(160, 200)
    val q = localQueries(rows.slice(150, 170).map(_._2))
    val backends = Seq[(String, Backend, Option[BackendArgs])](
      ("basic", Backend.Basic, None),
      ("faiss-flat", Backend.Faiss,
        Some(BackendArgs.FaissArgs(Metric.Euclidean, indexType = "flat"))))
    for ((label, backend, args) <- backends) {
      var vic = Vicinity.fromVectorsAndItems(spark, itemNames.take(160),
        base.map(_._2.toSeq), backend, args)
      def check(stage: String): Unit = {
        val served = vic.queryDf(q, 7)
        val joined = served.drop("item")
          .join(vic.store.select("id", "item"), Seq("id"), "left")
          .select("query_id", "id", "item", "dist", "rank").collect()
        val got = served.collect()
        assert(got.length === 20 * 7, s"$label $stage")
        assert(got.toSet === joined.toSet, s"$label $stage")
        assert(got.forall(_.getAs[String]("item") != null), s"$label $stage")
      }
      check("built")
      vic = vic.insert(itemNames.slice(160, 200), more.map(_._2.toSeq))
      check("inserted")
      if (backend == Backend.Basic) {
        // ids re-derive: every row past a deleted one moves down
        vic = vic.delete(Seq("item3", "item155", "item170"))
        check("deleted")
        assert(!vic.queryDf(q, 7).collect()
          .exists(r => Set("item3", "item155", "item170")
            .contains(r.getAs[String]("item"))))
      }
    }
  }

  test("duplicate and null query_ids merge as the topKPerGroup reference merges them") {
    val rnd = new scala.util.Random(23)
    val ids = Seq(Some(0L), Some(1L), Some(1L), None, Some(2L), None, Some(1L))
    val queries = spark.createDataFrame(java.util.Arrays.asList(
        ids.map(i => Row(i.map(Long.box(_)).orNull,
          Seq.fill(dim)(rnd.nextGaussian()))): _*),
      StructType(Seq(StructField("query_id", LongType),
        StructField("qvector", ArrayType(DoubleType)))))
    val store = storeOf(DoubleType).where($"vector".isNotNull)
    /** (query_id, id, dist bits, rank), null query_id as None */
    def keyed(df: DataFrame) =
      df.select("query_id", "id", "dist", "rank").collect()
        .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .sortBy(r => (r._1.getOrElse(-1L), r._4)).toSeq
    for (metric <- Seq(Metric.Cosine, Metric.InnerProduct, Metric.Euclidean)) {
      val got = keyed(Knn.query(store, queries, 6, metric))
      assert(got === keyed(crossJoinQuery(store, queries, 6, metric)),
        metric.name)
      assert(got.map(_._1).distinct.size === 4, "0, 1, 2 and null")
      assert(got.count(_._1.isEmpty) === 6, "both null keys in one top-6")
      val strat = ExactStrategy(metric)
      val prepared = strat.prepare(store)
      assert(keyed(strat.query(prepared, queries, 6)) ===
        keyed(clipOut(joinReference(metric, prepared, queries, 6))),
        s"ExactStrategy ${metric.name}")
    }
    // the IVF cell kernel merges through the same function: probing every
    // cell makes it exact
    val ivf = IvfStrategy(Metric.Euclidean, nlist = 4, nprobe = 4)
    val prepared = ivf.prepare(store)
    assert(keyed(ivf.query(prepared, queries, 6)) ===
      keyed(crossJoinTopK(prepared, queries, 6, Metric.Euclidean,
        clip = true)), "IvfStrategy")
  }

  test("the merged top-k sits where HashPartitioning(query_id) puts it and says so") {
    val rnd = new scala.util.Random(5)
    val keys = Seq("a", "b", null, "c", "d", "e", "f", "a")
    val queries = spark.createDataFrame(java.util.Arrays.asList(
        keys.map(key => Row(key, Seq.fill(dim)(rnd.nextGaussian()))): _*),
      StructType(Seq(StructField("query_id", StringType),
        StructField("qvector", ArrayType(DoubleType)))))
    val store = storeOf(DoubleType).where($"vector".isNotNull)
    val ranked = Knn.query(store, queries, 4, Metric.Euclidean)
    val n = ranked.rdd.getNumPartitions
    assert(n > 1)
    // hash() is Murmur3 with seed 42, as HashPartitioning's
    val misplaced = ranked.select(spark_partition_id().as("p"),
        pmod(hash($"query_id"), lit(n)).as("want"))
      .where($"p" =!= $"want").count()
    assert(misplaced === 0)
    val counted = ranked.groupBy("query_id").count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(counted.collect().map(r => (Option(r.getString(0)), r.getLong(1)))
      .toMap === Map(Some("a") -> 4L, Some("b") -> 4L, None -> 4L,
        Some("c") -> 4L, Some("d") -> 4L, Some("e") -> 4L, Some("f") -> 4L))
  }

  test("Knn.query, selfJoin, mmrRerank and the LSH exhaustive read keep their columns when the store carries item") {
    val withItem = storeOf(DoubleType).where($"vector".isNotNull)
      .select($"id", concat(lit("item"), $"id").as("item"), $"vector")
    val queries = localQueries(rows.take(5).map(_._2))
    val selfQueries = withItem.where($"id" < 5)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val lsh = LshStrategy(Metric.Cosine, nTables = 4, nBits = 4)
    val path = VerifyIO.scratchDir("graft_knn_lsh_cols")
      .resolve("index").toString
    lsh.writeServingIndex(lsh.prepare(withItem), path)
    val ranked = Seq("query_id", "id", "dist", "rank")
    Seq(
      "Knn.query" -> (Knn.query(withItem, queries, 5, Metric.Cosine), ranked),
      "Knn.selfJoin" -> (Knn.selfJoin(withItem, 3, Metric.Cosine), ranked),
      "Knn.selfJoin grid" -> (Knn.selfJoin(withItem, 3, Metric.Cosine,
        broadcastBytes = 1024), ranked),
      "Knn.mmrRerank" -> (Knn.mmrRerank(withItem, selfQueries, pool = 10,
        k = 3), Seq("query_id", "rank", "id", "score")),
      "LshStrategy.queryExhaustiveFromDisk" ->
        (lsh.queryExhaustiveFromDisk(spark, path, queries, 5), ranked)
    ).foreach { case (name, (df, cols)) =>
      assert(df.columns.toSeq === cols, name)
      assert(df.collect().nonEmpty, name)
    }
  }
}
