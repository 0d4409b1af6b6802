package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The harness without a session: GraftSession's settings as a pure
  * function, the guard that keeps it the only session builder, and
  * PlanDump's plan counter. */
class HarnessSpec extends AnyFunSuite {
  private val threshold = GraftSession.ListingThreshold
  private val localFs = new java.net.URI("file:///")

  private def settings(dir: String, userThreshold: Option[String] = None) =
    GraftSession.settings(dir, 3, userThreshold, localFs)

  test("local data lists partition directories driver-side") {
    assert(settings("file:/data/sf1")(threshold) === "10000")
    assert(settings("data/sf1")(threshold) === "10000")
  }

  test("a scheme-less path resolves through the default filesystem") {
    val hdfs = GraftSession.settings("data/sf1", 3, None,
      new java.net.URI("hdfs://nn:8020/"))
    assert(!hdfs.contains(threshold))
  }

  test("other filesystems keep Spark's own listing threshold") {
    assert(!settings("s3a://b/x").contains(threshold))
    assert(!settings("hdfs://nn/x").contains(threshold))
  }

  test("a listing threshold the user sets wins") {
    assert(settings("file:/data", Some("64"))(threshold) === "64")
    assert(settings("s3a://b/x", Some("64"))(threshold) === "64")
  }

  test("cores, UTC and UI-off are always set") {
    for (dir <- Seq("file:/data", "s3a://b/x")) {
      val s = settings(dir)
      assert(s("spark.master") === "local[3]")
      assert(s("spark.sql.shuffle.partitions") === "3")
      assert(s("spark.sql.session.timeZone") === "UTC")
      assert(s("spark.ui.enabled") === "false")
    }
  }

  private def sources(root: String): Seq[Path] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq

  test("GraftSession is the only session builder under src/") {
    val builder = "SparkSession" + ".builder"
    val offenders = sources("src")
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readString(p).contains(builder))
    assert(offenders.isEmpty, s"$builder outside GraftSession: $offenders")
  }

  test("query bodies and caches use the one shared implementation") {
    val constantGroup = "lit(1).as(\"_g\")"
    val weakRegistry = "new java.util.WeakHashMap[SparkSession"
    val main = sources("src/main")
    val groups = main.filter(p => Files.readString(p).contains(constantGroup))
    assert(groups.isEmpty,
      s"$constantGroup (use TopK.topNByScore) in: $groups")
    val registries = main
      .filterNot(_.getFileName.toString == "SessionCache.scala")
      .filter(p => Files.readString(p).contains(weakRegistry))
    assert(registries.isEmpty,
      s"$weakRegistry (use SessionCache) in: $registries")
  }

  test("removed harness knobs stay removed") {
    val knobs = Seq("LIST_PAR_THRESHOLD", "WARMUP", "WARMUP_PAR",
      "HEAP_PROBE", "PROFILE_JOBS", "WRITERS", "GENS")
      .map(k => raw"\bSPARK_GRAFT_$k\b".r)
    val hits = (sources("src") :+ Paths.get("build.sbt")).flatMap { p =>
      val text = Files.readString(p)
      knobs.filter(_.findFirstIn(text).nonEmpty).map(k => s"$p: $k")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("plan counter reads shuffle exchanges only") {
    val plan = "Exchange hashpartitioning\nExchange SinglePartition\n" +
      "BroadcastExchange HashedRelationBroadcastMode\nExchange rangepartitioning"
    val counts = PlanDump.occurrences(plan, "Window\nExchange hashpartitioning")
    assert(counts.contains(" Exchange=2/1 "))
    assert(counts.contains(" Exchange SinglePartition=1/0 "))
    assert(counts.endsWith(" Window=0/1"))
  }
}
