package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftshim.GraftShims
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    // the suites read the testdata and write under the temp dir, both local
    val s = GraftSession(sys.props("java.io.tmpdir"))
    graft.functions.VectorFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf(name: String, dir: String = "/root/testdata/sf0.001"): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The file scans of an executed plan: through adaptive plans, their
    * query stages (AQE materializes a stage as a LEAF node; its subtree
    * hangs off `.plan`), subqueries and every operator's children, the
    * `KnnTopK` exec's pruned scan included. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans) ++
      other.subqueries.flatMap(fileScans)
  }

  /** `body`'s result and the short call sites of the Spark jobs it ran
    * ("collect at X.scala:12"), one per job, in start order. A job's call
    * site is the name of its result stage, the last stage it creates;
    * job properties hold one only when the caller set it. */
  def jobSites[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    GraftShims.drainListenerBus(sc)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftShims.drainListenerBus(sc)
      (r, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
