package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Metric
import graft.index.{GraphServing, HnswStrategy, IndexStrategy, NnDescentStrategy}

/** The serving operations both graph families share ([[GraphServing]]):
  * each check runs over HNSW AND NN-descent, so a behavior one family's
  * copy used to lack fails here for that family. */
class GraphServingSpec extends SparkSpec {
  import spark.implicits._

  private def store = sf("embeddings")
    .select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vector"))
    .where(col("id") < 200)

  private def families: Seq[(String, () => IndexStrategy with GraphServing)] = Seq(
    "hnsw" -> (() => HnswStrategy(Metric.Cosine)),
    "nndescent" -> (() => NnDescentStrategy(Metric.Cosine, nNeighbors = 8)))

  private def queries = store.where(col("id") < 5)
    .select(col("id").as("query_id"), col("vector").as("qvector"))

  /** a fresh layout of `strat` under a new scratch dir */
  private def layout(strat: GraphServing, prepared: DataFrame,
      name: String): String = {
    val path = VerifyIO.scratchDir(s"graft_graphserving_$name")
      .resolve("index").toString
    strat.writeServingIndex(prepared, path)
    path
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("delete accepts int ids: the same rows leave as for long ids") {
    families.foreach { case (fam, mk) =>
      val strat = mk()
      val prepared = strat.prepare(store).cache()
      val longPath = layout(strat, prepared, s"${fam}_long")
      val intPath = layout(strat, prepared, s"${fam}_int")
      assert(strat.deleteFromDisk(spark, longPath,
        Seq(0L, 1L, 9999L).toDF("id")) === 2L, fam)
      assert(strat.deleteFromDisk(spark, intPath,
        Seq(0, 1, 9999).toDF("id")) === 2L, fam)
      val byLong = pairs(strat.queryExhaustiveFromDisk(spark, longPath,
        queries, 10))
      assert(!byLong.exists(_._2 <= 1L), fam)
      assert(pairs(strat.queryExhaustiveFromDisk(spark, intPath, queries,
        10)) === byLong, s"$fam: int-id delete removed different rows")
      prepared.unpersist()
    }
  }

  test("a rewrite clears the claims ledger: delete under one tag, " +
      "rebuildServing, then delete under another tag") {
    families.foreach { case (fam, mk) =>
      val strat = mk()
      val prepared = strat.prepare(store).cache()
      val path = layout(strat, prepared, s"${fam}_claims")
      assert(strat.deleteFromDisk(spark, path, Seq(0L).toDF("id"),
        tag = "a") === 1L, fam)
      val rebuilt = strat.rebuildServing(spark, path)
      // the rewrite reset the tombstone counter; a stale tomb-0 claim of
      // writer 'a' would now block every other writer's first delete
      assert(rebuilt.strategy.deleteFromDisk(spark, path,
        Seq(1L).toDF("id"), tag = "b") === 1L, fam)
      assert(!pairs(strat.queryExhaustiveFromDisk(spark, path,
        queries, 10)).exists(_._2 <= 1L), fam)
      prepared.unpersist()
    }
  }

  test("the disk walk rides out a compaction swap between two hops") {
    families.foreach { case (fam, mk) =>
      val strat = mk()
      val prepared = strat.prepare(store).cache()
      val path = layout(strat, prepared, s"${fam}_swap")
      // tombstone the queries' own rows: they route until the compaction
      // drops them, and they must never be served
      assert(strat.deleteFromDisk(spark, path,
        Seq(0L, 1L, 2L).toDF("id")) === 3L, fam)
      var compactions = 0
      val walked = strat.walkFromDisk(spark, path, queries, 10,
        beforeHop = () => if (compactions == 0) {
          compactions += 1
          strat.compactServing(spark, path)
        }).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(compactions === 1, fam)
      assert(!walked.exists(_._2 <= 2L), s"$fam: served a deleted id")
      // the walk equals a clean walk of the compacted layout
      val clean = strat.queryFromDisk(spark, path, queries, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(walked === clean, s"$fam: the walk across the swap diverged")
      prepared.unpersist()
    }
  }
}
