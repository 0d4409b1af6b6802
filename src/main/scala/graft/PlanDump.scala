package graft

/** Dump `.explain("formatted")` for named queries to files — the r20
  * optimization round's before/after plan artifacts (plans/r20/).
  *
  * The first line of each file counts how often hot expressions appear in
  * the optimized and the physical plan (the CollapseProject re-evaluation
  * pitfall), the evidence a bench-spike triage needs to rule the plan in
  * or out; the query's time split and Spark work are Bench's `layers`.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <query> [query ...]
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  private val hot = Seq("regexp_replace", "split(", "filter(", "transform(",
    "md5(", "CartesianProduct", "Exchange", "Exchange SinglePartition",
    "Window")

  /** `hot=optimized/physical` occurrence counts of a plan pair. */
  private[graft] def occurrences(optimized: String, physical: String): String = {
    def occ(s: String, h: String) = s.sliding(h.length).count(_ == h)
    hot.map { h =>
      // 'Exchange' is a substring of both 'Exchange SinglePartition' and
      // 'BroadcastExchange': subtract both overlaps so the counter reads
      // shuffle exchanges only (advice r8 + r9)
      def adj(s: String) =
        if (h == "Exchange")
          occ(s, h) - occ(s, "Exchange SinglePartition") - occ(s, "BroadcastExchange")
        else occ(s, h)
      s"$h=${adj(optimized)}/${adj(physical)}"
    }.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query> [query ...]")
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val spark = GraftSession(sfDir)
    new java.io.File(outDir).mkdirs()
    args.drop(3).foreach { name =>
      try {
        val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
        val counts = occurrences(qe.optimizedPlan.toString, qe.executedPlan.toString)
        val txt = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
        try {
          w.println(s"optimized/physical occurrences: $counts")
          w.println(txt)
        } finally w.close()
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
