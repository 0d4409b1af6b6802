package graft

import java.util.concurrent.{ExecutorService, Executors}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll

/** Bench's measured pass attributes each query's Spark work to that query
  * alone, wherever its jobs run. */
class BenchMeasureSpec extends SparkSpec with BeforeAndAfterAll {
  /** Holds up the listener bus on every job start and task end, so the
    * layer listener sees each event well after it happened. */
  private val lagging = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Thread.sleep(20)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(20)
  }
  private lazy val layers = {
    val l = new Bench.LayerListener
    spark.sparkContext.addSparkListener(lagging)
    spark.sparkContext.addSparkListener(l)
    l
  }
  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(layers)
    spark.sparkContext.removeSparkListener(lagging)
  }

  private def counts(name: String)(fn: () => DataFrame): (Int, Int, Int) = {
    val m = Bench.measure(spark, layers, name)(fn)
    assert(m.ok)
    (m.counts.jobs.get, m.counts.stages.get, m.counts.tasks.get)
  }

  private def plain(): DataFrame = spark.range(0, 10, 1, 2).toDF()
  private def shuffle(): DataFrame =
    spark.range(0, 1000, 1, 3).groupBy((col("id") % 7).as("k")).count()
  /** A query that runs two one-stage, two-task jobs on `pool` while
    * building its frame, as ServingFsck.fleet does on a pool of its own. */
  private def pooled(pool: ExecutorService): () => DataFrame = () => {
    (1 to 2).map(i => pool.submit[Unit](() => { spark.range(0, 100 * i, 1, 2).collect(); () }))
      .foreach(_.get)
    plain()
  }
  private def plus2Jobs(c: (Int, Int, Int)) = (c._1 + 2, c._2 + 2, c._3 + 4)

  test("the timed run is counted exactly, without its cold run, on a lagging bus") {
    assert(counts("plain")(plain _) === (1, 1, 2))
  }

  test("back-to-back queries count the same Spark work as each run alone") {
    val alone = Seq("shuffle" -> (shuffle _), "plain" -> (plain _))
      .map { case (n, f) => counts(n)(f) }
    val together = Seq("shuffle" -> (shuffle _), "plain" -> (plain _),
      "shuffle" -> (shuffle _)).map { case (n, f) => counts(n)(f) }
    assert(together === alone :+ alone.head)
    assert(alone.head._3 > alone(1)._3, "the shuffle query runs more tasks")
  }

  test("jobs on a pool created inside the query land in that query") {
    val inside = counts("pooled") { () =>
      val pool = Executors.newFixedThreadPool(2)
      try pooled(pool)() finally pool.shutdown()
    }
    assert(inside === plus2Jobs(counts("plain")(plain _)))
  }

  test("jobs on a pool whose threads carry an older job group still land in the query") {
    val sc = spark.sparkContext
    sc.setJobGroup("an-earlier-query", "an-earlier-query")
    val pool = Executors.newFixedThreadPool(2)
    (1 to 2).map(_ => pool.submit[Unit](() => ())).foreach(_.get) // threads start now
    sc.clearJobGroup()
    try {
      val stale = counts("pooled")(pooled(pool))
      assert(stale === plus2Jobs(counts("plain")(plain _)))
    } finally pool.shutdown()
  }
}
