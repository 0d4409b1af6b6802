package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.functions.VectorFunctions
import graft.index.BqStrategy
import graft.operators.Knn

/** Binary-quantization family: sign-bit packing, the packed Hamming kernel,
  * the BqStrategy coarse/rerank paths, and the multi-index-hashing radius
  * search's exactness guarantee (MIH ≡ brute scan, Norouzi et al. 2012).
  */
class BinaryQuantSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7)
  private val dim = 64
  private val n = 300
  private lazy val vecs: Seq[(Long, Seq[Double])] =
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
  private lazy val store = vecs.toDF("id", "vector")
  private lazy val queries = vecs.take(6)
    .map { case (i, v) => (i, v) }.toDF("query_id", "qvector")

  test("pack_sign_bits packs bit i iff element i > 0, for float and double") {
    val v: Seq[Double] = Seq(1.0, -2.0, 0.0, 0.5) ++ Seq.fill(60)(-1.0) ++
      Seq(3.0, -3.0) // 66 dims -> 2 words
    val packedD = Seq(Tuple1(v)).toDF("v")
      .select(VectorFunctions.pack_sign_bits(col("v"))).as[Seq[Long]].head()
    val packedF = Seq(Tuple1(v.map(_.toFloat))).toDF("v")
      .select(VectorFunctions.pack_sign_bits(col("v"))).as[Seq[Long]].head()
    // expected: bits 0 and 3 in word 0 (indices 1,2 non-positive), bit 0
    // of word 1 (index 64 positive, 65 negative)
    assert(packedD === Seq((1L << 0) | (1L << 3), 1L))
    assert(packedF === packedD)
    // zero is NOT positive: strict > 0 convention
    assert(((packedD.head >> 2) & 1L) === 0L)
  }

  test("hamming_packed equals per-dimension sign-disagreement count") {
    val pairs = store.as("a").crossJoin(store.limit(20).as("b"))
      .select(
        VectorFunctions.hamming_packed(
          VectorFunctions.pack_sign_bits(col("a.vector")),
          VectorFunctions.pack_sign_bits(col("b.vector"))).as("packed"),
        aggregate(
          zip_with(col("a.vector"), col("b.vector"),
            (x, y) => when((x > 0) =!= (y > 0), 1).otherwise(0)),
          lit(0), (acc, e) => acc + e).as("naive"))
    assert(pairs.where(col("packed") =!= col("naive")).count() === 0)
  }

  test("hamming_packed matches between interpreted and codegen'd eval") {
    // same expression through the SQL registry (forces a fresh plan) —
    // a codegen/eval divergence would show up as a self-mismatch
    store.limit(50).createOrReplaceTempView("bq_store")
    val viaSql = spark.sql(
      """SELECT a.id, b.id, hamming_packed(pack_sign_bits(a.vector),
        |       pack_sign_bits(b.vector)) AS h
        |FROM bq_store a JOIN bq_store b ON a.id < b.id""".stripMargin)
    assert(viaSql.where(col("h") < 0 || col("h") > dim).count() === 0)
    // identity: h(x, x) = 0
    val self = spark.sql(
      """SELECT hamming_packed(pack_sign_bits(vector), pack_sign_bits(vector))
        |       AS h FROM bq_store""".stripMargin)
    assert(self.where(col("h") =!= 0).count() === 0)
  }

  test("BQ rerank with pool covering the store equals exact knn") {
    val strat = BqStrategy(Metric.Cosine, rerank = true, rerankFactor = 100)
    val prepared = strat.prepare(store)
    val got = strat.query(prepared, queries, 10)
      .select("query_id", "id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val want = Knn.query(
      store.select(col("id"), col("vector")),
      queries, 10, Metric.Cosine)
      .select("query_id", "id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(got === want)
  }

  test("BQ is train-free: prepareIncrement equals full re-prepare") {
    val strat = BqStrategy(Metric.Cosine, rerank = false)
    val (oldRows, newRows) = (store.where(col("id") < 250),
      store.where(col("id") >= 250))
    val incr = strat.prepareIncrement(strat.prepare(oldRows), newRows, store)
    val full = strat.prepare(store)
    val a = incr.select(col("id"), col("_sig")).as[(Long, Seq[Long])]
      .collect().toMap
    val b = full.select(col("id"), col("_sig")).as[(Long, Seq[Long])]
      .collect().toMap
    assert(a === b)
  }

  test("mihRadius equals brute hammingRadius at every chunk width") {
    val strat = BqStrategy(Metric.Cosine, rerank = false)
    val prepared = strat.prepare(store).cache()
    // radius wide enough to return non-self rows on gaussian data
    for (chunkBits <- Seq(8, 16); bits <- Seq(16, 23)) {
      if (bits / ((dim + chunkBits - 1) / chunkBits) <= 2) {
        val brute = strat.hammingRadius(prepared, queries, bits, 50)
          .select("query_id", "id", "dist").as[(Long, Long, Double)]
          .collect().toSet
        val mih = strat.mihRadius(prepared, queries, bits, 50, chunkBits)
          .select("query_id", "id", "dist").as[(Long, Long, Double)]
          .collect().toSet
        assert(mih === brute, s"chunkBits=$chunkBits bits=$bits")
      }
    }
    prepared.unpersist()
  }

  test("matryoshka rerank with pool covering the store equals exact knn") {
    val got = Knn.matryoshkaRerank(store, queries, coarseDims = 16,
      pool = n, k = 10)
      .select("query_id", "id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val want = Knn.query(store, queries, 10, Metric.Cosine)
      .select("query_id", "id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(got === want)
  }

  test("a matryoshka layout written from a non-default vecCol serves") {
    val emb = store.withColumnRenamed("vector", "emb")
    val root = VerifyIO.scratchDir("graft_mrl_vec_col")
    val path = root.resolve("index").toString
    Knn.writeMatryoshkaIndex(emb, path, coarseDims = 16, vecCol = "emb")
    val fromDisk = Knn.matryoshkaFromDisk(spark, path, queries,
      coarseDims = 16, pool = 40, k = 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    val mem = Knn.matryoshkaRerank(emb, queries, 16, 40, 10, vecCol = "emb")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(fromDisk.nonEmpty)
    assert(fromDisk === mem)
    VerifyIO.deleteRec(root.toFile)
  }

  test("matryoshka coarse pass at full width degenerates to exact ranking") {
    // coarseDims = dim makes the coarse ranking THE exact ranking, so even
    // a pool of exactly k must reproduce exact knn — any off-by-one in the
    // slice bounds or pool cut shows up here
    val got = Knn.matryoshkaRerank(store, queries, coarseDims = dim,
      pool = 10, k = 10)
      .select("query_id", "id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    val want = Knn.query(store, queries, 10, Metric.Cosine)
      .select("query_id", "id", "rank").as[(Long, Long, Int)]
      .collect().toSet
    assert(got === want)
  }

  test("factor curve: recall monotone in the pool size, bounded in [0,1]") {
    val rows = Queries.queryMap("q_bq_factor_curve")(
      spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L, 8L))
    val recalls = rows.map(_._2).toSeq
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(recalls === recalls.sorted,
      s"recall must be monotone in the candidate pool: $recalls")
  }

  test("mihRadius plan has no cartesian product — candidates come from an equi-join") {
    val strat = BqStrategy(Metric.Cosine, rerank = false)
    val prepared = strat.prepare(store)
    val plan = strat.mihRadius(prepared, queries, bits = 23, maxK = 20,
      chunkBits = 8).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"MIH radius must not cross-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe join:\n$plan")
  }

  test("disk delete rewrites only the touched vector buckets and MIH " +
      "partitions; absent ids are no-ops; both query shapes honor it") {
    val strat = BqStrategy(Metric.Cosine)
    val prepared = strat.prepare(store)
    val root = graft.VerifyIO.scratchDir("graft_bqdel")
    val path = root.resolve("index").toString
    strat.writeServingIndex(prepared, path)
    // the r15 serving layout nests _gen above the fan key: flatten to
    // "_gen=g/_nb=v" keys so byte-identity is asserted per partition dir
    def dirFiles(sub: String): Map[String, Set[String]] = {
      val d = new java.io.File(s"$path/$sub")
      d.listFiles().filter(_.isDirectory).flatMap { g =>
        if (g.getName.startsWith("_gen="))
          g.listFiles().filter(_.isDirectory).toSeq.map { p =>
            s"${g.getName}/${p.getName}" ->
              p.listFiles().map(_.getName).toSet
          }
        else Seq(g.getName -> g.listFiles().map(_.getName).toSet)
      }.toMap
    }
    val vecsBefore = dirFiles("vectors")
    val mihBefore = dirFiles("mih")
    // victims 3 and 17 plus an absent id (n + 50): removed must count
    // only rows that existed
    val dels = Seq(3L, 17L, n + 50L).toDF("id")
    val removed = strat.deleteFromDisk(spark, path, dels)
    assert(removed === 2L, s"expected 2 removed, got $removed")
    // untouched vector buckets keep byte-identical file sets
    import graft.index.VectorBuckets
    val touchedNb = Seq(3L, 17L).toDF("id")
      .withColumn("_nb", VectorBuckets.nb(64))
      .select("_nb").distinct().collect().map(r => s"_nb=${r.getLong(0)}")
      .toSet
    dirFiles("vectors").foreach { case (dir, files) =>
      if (!touchedNb.exists(t => dir == t || dir.endsWith(s"/$t")))
        assert(vecsBefore(dir) === files, s"untouched $dir rewritten")
    }
    // at least one MIH partition was rewritten, and at most
    // 2 rows × num_chunks were eligible
    val mihAfter = dirFiles("mih")
    val changed = mihAfter.keySet.filter(d =>
      mihBefore.get(d) != mihAfter.get(d))
    assert(changed.nonEmpty && changed.size <= 2 * (dim / 8),
      s"MIH rewrite touched ${changed.size} partitions")
    // the deleted ids leave BOTH query shapes
    val q3 = vecs.filter(_._1 == 3L).map { case (i, v) => (i, v) }
      .toDF("query_id", "qvector")
    val topk = strat.queryFromDisk(spark, path, q3, 5).collect()
      .map(_.getLong(1))
    assert(!topk.contains(3L) && !topk.contains(17L),
      "deleted id still served by top-k")
    val ham = strat.queryHammingFromDisk(spark, path, q3, bits = 10,
      maxK = 50).collect().map(_.getLong(1))
    assert(!ham.contains(3L) && !ham.contains(17L),
      "deleted id still served by the MIH radius")
    // row accounting: vectors side lost exactly the two rows
    assert(spark.read.parquet(s"$path/vectors").count() === (n - 2).toLong)
    VerifyIO.deleteRec(root.toFile)
  }
}
