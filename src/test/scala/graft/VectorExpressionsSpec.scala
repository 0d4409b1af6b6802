package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Metric
import graft.functions.VectorFunctions._
import graft.operators.Knn

class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def d(c: org.apache.spark.sql.Column): Double =
    Seq(1).toDF("x").select(c.as("v")).head.getDouble(0)

  test("dot / distances on known values") {
    val a = typedLit(Seq(1.0, 2.0)); val b = typedLit(Seq(3.0, 4.0))
    assert(d(dot_product(a, b)) === 11.0)
    assert(math.abs(d(euclidean_distance(a, b)) - 2.8284271247461903) < 1e-12)
    assert(d(l2sq_distance(a, b)) === 8.0)
    assert(d(manhattan_distance(a, b)) === 4.0)
    assert(math.abs(d(cosine_distance(a, b)) - (1 - 0.9838699100999074)) < 1e-12)
    assert(d(inner_product_distance(a, b)) === -10.0)
    assert(d(hamming_distance(a, b)) === 2.0)
  }

  test("float32 input arrays work and accumulate in double") {
    val a = typedLit(Seq(1.0f, 2.0f)); val b = typedLit(Seq(3.0f, 4.0f))
    assert(d(dot_product(a, b)) === 11.0)
    assert(d(manhattan_distance(a, b)) === 4.0)
  }

  test("cosine with zero vector is 1 (zero-safe, utils.py:32-40 parity)") {
    val z = typedLit(Seq(0.0, 0.0)); val b = typedLit(Seq(3.0, 4.0))
    assert(d(cosine_distance(z, b)) === 1.0)
    assert(d(cosine_distance(z, z)) === 1.0)
  }

  test("l2_normalize known values + zero-safe (tests/test_utils.py:9-26)") {
    val got = Seq(1).toDF("x")
      .select(l2_normalize(typedLit(Seq(3.0, 4.0))).as("v"))
      .head.getSeq[Double](0)
    assert(got == Seq(0.6, 0.8))
    val zero = Seq(1).toDF("x")
      .select(l2_normalize(typedLit(Seq(0.0, 0.0))).as("v"))
      .head.getSeq[Double](0)
    assert(zero == Seq(0.0, 0.0))
  }

  test("dimension mismatch throws") {
    val e = intercept[Exception] {
      d(dot_product(typedLit(Seq(1.0)), typedLit(Seq(1.0, 2.0))))
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      e.getCause != null)
  }

  test("SQL registration works") {
    assert(spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) v"
    ).head.getDouble(0) === 11.0)
    // winnow_md5 with and without an explicit width; SQL output equals the
    // Column API's (same Expression behind both surfaces)
    val txt = "the quick brown fox jumps"
    val viaCol = sf("documents").limit(1)
      .select(graft.functions.VectorFunctions
        .winnow_md5(org.apache.spark.sql.functions.lit(txt), 8))
      .head.getString(0)
    assert(spark.sql(s"SELECT winnow_md5('$txt')").head.getString(0)
      === viaCol)
    assert(spark.sql(s"SELECT winnow_md5('$txt', 8)").head.getString(0)
      === viaCol)
    assert(spark.sql(s"SELECT winnow_md5('$txt', 4)").head.getString(0)
      !== viaCol)
    // invalid widths fail at analysis, not per-row on executors
    intercept[Exception](spark.sql(s"SELECT winnow_md5('$txt', 0)").head)
    intercept[Exception](spark.sql(s"SELECT winnow_md5('$txt', -3)").head)
  }

  test("metric alias table (utils.py:73-87)") {
    assert(Metric.fromString("dot") == Metric.Cosine)
    assert(Metric.fromString("l2") == Metric.Euclidean)
    assert(Metric.fromString("l1") == Metric.Manhattan)
    assert(Metric.fromString("ip") == Metric.InnerProduct)
    assert(Metric.fromString("l2_squared") == Metric.L2Squared)
    intercept[IllegalArgumentException](Metric.fromString("nope"))
  }

  test("exact knn: aggregator plan matches window plan") {
    val emb = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vector"))
    val queries = emb.where($"id" < 3)
      .select($"id".as("query_id"), $"vector".as("qvector"))
    val a = Knn.query(emb, queries, 10, Metric.Cosine)
      .select("query_id", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    // reference plan: every pair's clipped distance, full window sort
    val dist = greatest(cosine_distance($"vector", $"qvector"), lit(0.0))
    val w = Window.partitionBy("query_id").orderBy($"dist", $"id")
    val b = emb.crossJoin(broadcast(queries))
      .select($"query_id", $"id", dist.as("dist"))
      .withColumn("rank", row_number().over(w)).where($"rank" <= 10)
      .select("query_id", "id", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(a.length === 30)
    assert(a.toSeq === b.toSeq)
  }

  test("knn determinism: duplicate queries give identical results") {
    val emb = sf("embeddings")
      .select($"vec_id".as("id"), $"embedding".as("vector"))
    val q1 = emb.where($"id" === 0).select($"id".as("query_id"), $"vector".as("qvector"))
    val q2 = emb.where($"id" === 0).select(($"id" + 100).as("query_id"), $"vector".as("qvector"))
    val res = Knn.query(emb, q1.union(q2), 5, Metric.Euclidean)
      .select("query_id", "id", "rank").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => v.map(r => (r.getLong(1), r.getInt(2))).sorted.toSeq }
    assert(res.toSet.size === 1)
  }

  test("threshold query inclusive vs strict") {
    val emb = sf("embeddings").select($"vec_id".as("id"), $"embedding".as("vector"))
    val q = emb.where($"id" === 0).select($"id".as("query_id"), $"vector".as("qvector"))
    val incl = Knn.queryThreshold(emb, q, 0.0, Metric.Cosine, inclusive = true).count()
    val strict = Knn.queryThreshold(emb, q, 0.0, Metric.Cosine, inclusive = false).count()
    assert(incl >= 1)   // the query itself at distance 0
    assert(strict === 0)
  }
}
