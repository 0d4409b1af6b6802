package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TopK

/** [[TopK.topNByScore]]: top-n by descending score with ties on ascending
  * id, global and per group, against a `row_number` reference. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  // duplicate scores inside and across groups, ids out of order
  private lazy val frame = Seq(
    (1L, 7L, 0.5), (1L, 3L, 0.5), (1L, 9L, 0.9), (1L, 1L, 0.1),
    (1L, 5L, 0.5), (2L, 4L, 0.2), (2L, 2L, 0.2), (2L, 8L, -0.3),
    (2L, 6L, 0.2), (3L, 10L, 0.0)).toDF("g", "id", "score")

  private def rows(df: DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  private def reference(n: Int, groupCols: Seq[String]): DataFrame = {
    val order = Window.orderBy(col("score").desc, col("id"))
    val w = if (groupCols.isEmpty) order
      else order.partitionBy(groupCols.map(col): _*)
    frame.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= n)
  }

  test("ties break on ascending id") {
    val got = TopK.topNByScore(frame, "id", "score", 4)
      .orderBy("rank").select("id", "score", "rank")
      .as[(Long, Double, Long)].collect().toSeq
    assert(got === Seq((9L, 0.9, 1L), (3L, 0.5, 2L), (5L, 0.5, 3L),
      (7L, 0.5, 4L)))
  }

  test("n larger than the frame returns every row") {
    val all = TopK.topNByScore(frame, "id", "score", 100)
    assert(all.count() === frame.count())
    assert(rows(all, "id", "score") === rows(frame, "id", "score"))
    val perGroup = TopK.topNByScore(frame, "id", "score", 100, Seq("g"))
    assert(rows(perGroup, "g", "id", "score") ===
      rows(frame, "g", "id", "score"))
  }

  test("global form equals a row_number reference") {
    for (n <- Seq(1, 3, 5, 10)) {
      assert(rows(TopK.topNByScore(frame, "id", "score", n),
          "id", "score", "rank") ===
        rows(reference(n, Nil), "id", "score", "rank"), s"n=$n")
    }
  }

  test("per-group form equals a row_number reference") {
    for (n <- Seq(1, 2, 3)) {
      assert(rows(TopK.topNByScore(frame, "id", "score", n, Seq("g")),
          "g", "id", "score", "rank") ===
        rows(reference(n, Seq("g")), "g", "id", "score", "rank"), s"n=$n")
    }
  }

  test("the ranking plans no Window") {
    for (groupCols <- Seq(Nil, Seq("g"))) {
      val plan = TopK.topNByScore(frame, "id", "score", 3, groupCols)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("topk_neighbors"), plan)
    }
  }
}
