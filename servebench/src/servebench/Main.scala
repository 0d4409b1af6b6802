package servebench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one JVM.
  *
  * Usage: servebench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --out <artifact dir> --work <scratch dir>
  *
  * Writes `result.json` (and, traced, `spans.jsonl`) into the artifact
  * directory. `servebench/run.py` builds the classes, starts this JVM and
  * prints the result. */
object Main {
  /** corpus generations per run, reported as a median */
  val setupPasses = 3

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def timedMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  /** nearest rank: the smallest sample with at least `p` of the samples
    * at or below it */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.size).toInt - 1))
    }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val out = new java.io.File(opt("out"))
    val work = new java.io.File(opt("work")).getAbsolutePath

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("servebench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      // partition-directory listing stays on the driver for local files,
      // as in the library's own harnesses
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ops = new Ops(spark, tracer)
    val w = Workload(workload, spark, seed, ops, work)

    val phases = ArrayBuffer("session" -> sessionS)
    var phaseT0 = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - phaseT0) / 1e9
      phaseT0 = now
    }

    // set-up: the corpus is generated from the seed (three times, for a
    // median), then a warm-up build and the workload's warm-up operations
    // run, so that JIT, code generation and the page cache are warm when
    // the window opens; set-up time is the session start plus all of it.
    // The calibration probe runs before the warm-up, so that the window
    // follows the warm-up directly.
    val corpusMs = (0 until setupPasses).map(_ => timedMs(w.generate()))
    phase("corpus")
    val calib = new Calibration(spark)
    calib.start()
    phase("calibration")
    val warmMs = timedMs(ops.aside("servebench-setup") {
      w.build(measured = false)
      w.warmUp()
    })
    phase("warm_up")

    val firstWindowOp = ops.records.size
    val snapshots = ArrayBuffer.empty[(Int, Long, Long)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while ((elapsed < seconds || i < w.countedOps || w.readSamples < w.minReads) &&
        elapsed < seconds + 60) {
      w.step(i)
      if (traced && i < w.countedOps) snapshots += w.layoutStats()
      i += 1
    }
    val windowS = elapsed
    val lastWindowOp = ops.records.size
    phase("window")
    w.finish()
    val recall = w.recall()
    w.check("recall_at_10_floor", recall >= w.recallFloor,
      s"recall@10 $recall below ${w.recallFloor}")
    // the in-memory store as it served the window; a disk layout after
    // its final writes
    val storageAmp = w.storageAmp()
    phase("finish_and_checks")
    // the measured builds run last, when the JVM is warmest, so JIT warm-up
    // does not land in them
    for (_ <- 0 until w.buildReps) ops.run(Ops.Build)(w.build(measured = true))
    phase("builds")

    // ---- end-to-end metrics ----
    val queryMs = ops.records.slice(firstWindowOp, lastWindowOp)
      .filter(r => r.kind == Ops.Query && r.ok).map(_.ms).toSeq
    def p50(kind: String) = median(ops.of(kind).filter(_.ok).map(_.ms))
    val attempted = ops.records.size
    val failed = ops.records.count(!_.ok)
    System.gc(); System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val e2e = Seq(
      ("setup_s", sessionS + (median(corpusMs) + warmMs) / 1e3, "s"),
      ("build_s", median(ops.of(Ops.Build).map(_.ms)) / 1e3, "s"),
      ("qps", queryMs.size * w.queriesPerRead / (queryMs.sum / 1e3), "1/s"),
      ("query_p50_ms", median(queryMs), "ms"),
      ("query_tail_ms", percentile(queryMs, Workload.TailPercentile), "ms"),
      ("recall_at_10", recall, "ratio"),
      ("storage_amp", storageAmp, "ratio"),
      ("heap_live_mb", heap, "MB"),
      ("ops_ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
    // write latencies, for the workloads that write
    val writes = Seq(Ops.Append, Ops.Compact).filter(ops.of(_).nonEmpty)
      .map(kind => (s"${kind}_p50_ms", p50(kind), "ms"))

    // ---- per-layer metrics (traced run) ----
    val layers = tracer.map { t =>
      t.drain()
      // counts repeat exactly across runs of one seed over the builds and
      // the first operations of the window; later operations depend on
      // where the window ended
      val counted = ops.records.filter(r =>
        r.kind == Ops.Build || r.id < firstWindowOp + w.countedOps)
      val perOp = Ops.kinds.flatMap { kind =>
        val rs = counted.filter(_.kind == kind)
        val cs = rs.map(r => t.counts(Tracer.group(r.id)))
        def per(f: GroupCounts => Long): Double =
          if (rs.isEmpty) 0.0 else cs.map(f).sum.toDouble / rs.size
        Seq(
          (s"spark.jobs_per_op.$kind", per(_.jobs.get), "count"),
          (s"spark.stages_per_op.$kind", per(_.stages.get), "count"),
          (s"spark.tasks_per_op.$kind", per(_.tasks.get), "count"),
          (s"spark.task_ms_per_op.$kind", per(_.taskMs.get), "ms"),
          (s"spark.sched_delay_ms_per_op.$kind", per(_.schedDelayMs.get), "ms"),
          (s"jvm.gc_ms_per_op.$kind",
            if (rs.isEmpty) 0.0 else rs.map(_.gcMs).sum.toDouble / rs.size, "ms"))
      }
      val queries = counted.filter(r => r.kind == Ops.Query && r.ok)
      val qCounts = queries.map(r => t.counts(Tracer.group(r.id)))
      val nQueries = (queries.size * w.queriesPerRead).max(1).toDouble
      val pairs = qCounts.map(c => w.pairsScored(c.recordsRead.get)).sum
      val queryTaskMs = qCounts.map(_.taskMs.get).sum.toDouble
      val cells = queries.map(r => w.cellsRead.getOrElse(r.id, 0).toDouble)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      val core = if (snapshots.isEmpty) (0.0, 0.0, 0.0) else (
        mean(snapshots.map(_._1.toDouble).toSeq),
        mean(snapshots.map(_._2.toDouble).toSeq),
        mean(snapshots.map(_._3.toDouble).toSeq))
      Seq(
        ("functions.distance_ns_per_pair", Kernels.distanceNsPerPair(w.dim, seed), "ns"),
        ("functions.topk_add_ns", Kernels.topkAddNs(w.k, seed), "ns"),
        // per second of the reads' executor task time, so driver planning
        // and scheduling do not move it
        ("operators.pairs_scored_per_s", pairs / (queryTaskMs / 1e3).max(1e-9),
          "1/s"),
        ("api.plan_ms", mean(queries.map(_.planNs / 1e6).toSeq), "ms"),
        ("api.build_ms", median(w.buildApiMs.toSeq), "ms"),
        ("index.write_serving_ms",
          if (w.writeServingMs.isEmpty) 0.0 else median(w.writeServingMs.toSeq), "ms"),
        ("index.cells_probed_per_query", mean(cells.toSeq) / w.queriesPerRead,
          "count"),
        ("index.rows_read_per_query", qCounts.map(_.recordsRead.get).sum / nQueries, "count"),
        ("index.bytes_read_per_query", qCounts.map(_.bytesRead.get).sum / nQueries, "B"),
        ("core.generations_live", core._1, "count"),
        ("core.layout_files", core._2, "count"),
        ("core.layout_bytes", core._3, "B"),
        ("spark.failed_tasks", t.failedTasks.toDouble, "count")) ++ perOp
    }.getOrElse(Nil)
    phase("trace_metrics")

    calib.end()
    phase("calibration_end")
    val correct = failed == 0 && w.checks.forall(_.ok)
    out.mkdirs()
    val spans = tracer.map(_.writeSpans(new java.io.File(out, "spans.jsonl")))
    def metricMap(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      n -> Map("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u)
    }.toMap
    val result = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "window_s" -> windowS,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> metricMap(e2e), "writes" -> metricMap(writes),
      "per_layer" -> metricMap(layers),
      "calibration" -> calib.fields,
      "samples" -> Map(
        "query" -> queryMs.size,
        "tail_percentile" -> Workload.TailPercentile,
        "append" -> ops.of(Ops.Append).size,
        "compact" -> ops.of(Ops.Compact).size,
        "build_ms" -> ops.of(Ops.Build).map(_.ms),
        "setup_passes" -> setupPasses,
        "counted_ops" -> w.countedOps,
        "scored_reads" -> w.scored.size),
      "corpus" -> Map("rows" -> w.rowsN, "dim" -> w.dim, "clusters" -> w.clusters,
        "queries" -> Workload.QueriesN, "appended" -> w.appended),
      "spans" -> spans.getOrElse(0),
      "phases_s" -> phases.toMap,
      "checks" -> w.checks.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)).toSeq)
    spark.stop()
    val tmp = new java.io.File(out, "result.json.tmp")
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(tmp, result)
    tmp.renameTo(new java.io.File(out, "result.json"))
  }
}

/** The calibration `graft.Bench` records, taken beside every run: a pinned
  * pure-CPU Spark probe at start and end, the load average at start and
  * end, and the JVM's GC time over the run. A slow probe or a high load
  * average marks a noisy box rather than a regression. */
final class Calibration(spark: SparkSession) {
  private def loadAvg(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage
  private def probe(): Double = {
    val t0 = System.nanoTime()
    spark.sparkContext.setJobGroup("servebench-calibration", "calibration")
    try spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
    finally spark.sparkContext.clearJobGroup()
    (System.nanoTime() - t0) / 1e9
  }
  private var probeStart, probeEnd, loadStart, loadEnd = 0.0
  private var gcStart = 0L
  private var gcEnd = 0L

  def start(): Unit = {
    probe() // the first probe of a JVM runs cold
    probeStart = probe(); loadStart = loadAvg(); gcStart = Ops.gcMs()
  }
  def end(): Unit = {
    gcEnd = Ops.gcMs(); probeEnd = probe(); loadEnd = loadAvg()
  }
  def fields: Map[String, Any] = Map(
    "probe_start_s" -> probeStart, "probe_end_s" -> probeEnd,
    "load_avg_start" -> loadStart, "load_avg_end" -> loadEnd,
    "gc_ms" -> (gcEnd - gcStart),
    "cpus" -> Runtime.getRuntime.availableProcessors())
}
