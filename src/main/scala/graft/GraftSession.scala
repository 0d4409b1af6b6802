package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of every graft entry point (Bench, Verify,
  * PlanDump, BenchContention, Demo and the test suites), so their sessions
  * cannot drift apart.
  *
  * Local cores come from `SPARK_GRAFT_CPUS`, defaulting to every core the
  * JVM sees; they set both the master and the shuffle partition count.
  */
object GraftSession {
  val ListingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session's settings for data under `dataDir`. `userThreshold` is
    * a listing threshold the process was launched with as a Spark conf;
    * `defaultFs` resolves a `dataDir` that names no scheme.
    *
    * Partition-directory listing stays driver-side on `file:` (threshold
    * 10000): past the threshold Spark runs a distributed listing job with
    * one task per directory, which on a local filesystem turns a ~50 µs
    * stat per directory into a ~20 ms task (512 of q_serving_fsck's 607
    * tasks were listing tasks). On any other filesystem Spark's own
    * default (32) applies, so wide listings of an object store fan out.
    * A threshold the user sets is never overwritten. */
  def settings(dataDir: String, cpus: Int, userThreshold: Option[String],
      defaultFs: java.net.URI = FileSystem.getDefaultUri(new Configuration()))
      : Map[String, String] = {
    val scheme = Option(new Path(dataDir).toUri.getScheme)
      .getOrElse(defaultFs.getScheme)
    val threshold = userThreshold
      .orElse(if (scheme == "file") Some("10000") else None)
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
    ) ++ threshold.map(ListingThreshold -> _)
  }

  /** The session for a process that reads data under `dataDir`. */
  def apply(dataDir: String): SparkSession = {
    val builder = SparkSession.builder().appName("graft")
    settings(dataDir, cpus, sys.props.get(ListingThreshold))
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
