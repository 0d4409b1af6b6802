package servebench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.types._

import graft.api.Vicinity
import graft.core.{Backend, BackendArgs}

/** A correctness check: a failed one fails the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A read whose result is scored against exact search afterwards:
  * `live` is the number of rows the store held when it ran. */
final case class ScoredRead(query: Int, live: Int, served: Seq[(Long, Double)])

/** Shared machinery of the three workloads: corpus, index under test,
  * the closed-loop step, the checks, and the layout measurements. */
abstract class Workload(val spark: SparkSession, val seed: Long,
    val ops: Ops, val work: String) {
  def rowsN: Int
  def dim: Int
  def clusters: Int
  def appendPoolN: Int
  def backend: Backend
  def args: BackendArgs
  /** operations of the window whose counts are compared across runs: a
    * fixed prefix of the (seeded, deterministic) schedule */
  def countedOps: Int
  val k = 10
  /** queries answered by one read call */
  def queriesPerRead: Int = 1
  /** read samples the window collects at least, whatever `--seconds` */
  def minReads: Int
  def readSamples: Int = ops.records.count(r => r.kind == Ops.Query && r.ok)
  def recallFloor: Double = 0.8
  /** measured index builds per run (after the window), reported as a median */
  def buildReps: Int = 3
  /** (query, stored row) pairs a read scored, given the rows it read */
  def pairsScored(rowsRead: Long): Double = rowsRead.toDouble * queriesPerRead

  var corpus: Corpus = _
  var vic: Vicinity = _
  val checks = ArrayBuffer.empty[Check]
  val scored = ArrayBuffer.empty[ScoredRead]
  var appended = 0
  val buildApiMs = ArrayBuffer.empty[Double]
  val writeServingMs = ArrayBuffer.empty[Double]
  /** traced runs: op id -> IVF cells the read's file scans touched */
  val cellsRead = scala.collection.mutable.Map.empty[Long, Int]

  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok || !checks.exists(_.name == name))
      checks += Check(name, ok, if (ok) "" else detail)

  // ---- inputs ----

  protected val rowSchema = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("vector", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  def rowsDf(vs: Seq[Array[Double]], prefix: String): DataFrame = {
    val rows = vs.zipWithIndex.map { case (v, i) => Row(s"$prefix-$i", v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), rowSchema)
  }

  def queryDf(vs: Seq[Array[Double]]): DataFrame = {
    val rows = vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("qvector", ArrayType(DoubleType, containsNull = false)))))
  }

  /** (id, dist) per query id, in rank order */
  def neighbours(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("id"), r.getAs[Double]("dist")))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }

  /** every vector ever stored, in id order, normalized for exact search */
  lazy val allNormalized: IndexedSeq[Array[Double]] =
    (corpus.rows ++ corpus.appendPool).map(Corpus.normalize).toIndexedSeq

  def live: Int = rowsN + appended

  // ---- phases ----

  def generate(): Unit =
    corpus = Corpus.generate(seed, rowsN, Workload.QueriesN, appendPoolN,
      dim, clusters)

  /** Builds the index under test, replacing the previous build; the layer
    * timings of a `measured` build are kept. */
  def build(measured: Boolean): Unit = {
    if (vic != null) spark.catalog.clearCache()
    val df = rowsDf(corpus.rows, "item")
    def timed[A](into: ArrayBuffer[Double])(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      if (measured) into += (System.nanoTime() - t0) / 1e6
      r
    }
    vic = timed(buildApiMs)(ops.layer("api.build")(
      Vicinity.fromDataFrame(df, "item", "vector", backend, Some(args))))
    layout.foreach { dir =>
      deleteDir(dir)
      timed(writeServingMs)(ops.layer("index.write_serving")(
        vic.writeServingIndex(dir)))
    }
  }

  /** The warm-up: untimed, unrecorded operations on the built index, so
    * that JIT, code generation and the page cache are warm when the
    * window opens. */
  def warmUp(): Unit

  def step(i: Int): Unit

  /** Work after the window closes (the final compaction of a written
    * layout); its operations are timed but never counted. */
  def finish(): Unit = ()

  def layout: Option[String] = None

  /** live generations, files and bytes of the serving layout */
  def layoutStats(): (Int, Long, Long) = layout match {
    case None => (0, 0L, 0L)
    case Some(dir) =>
      val gens = vic.strategy.asInstanceOf[graft.index.DiskServing]
        .committedCounts(spark, dir).getOrElse("gen", 0)
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sum = fs.getContentSummary(new Path(dir))
      (gens, sum.getFileCount, sum.getLength)
  }

  /** on-disk layout bytes (or cached store bytes) over raw vector bytes */
  def storageAmp(): Double = {
    val raw = live.toDouble * dim * java.lang.Double.BYTES
    layout match {
      case Some(_) => layoutStats()._3 / raw
      case None =>
        spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / raw
    }
  }

  /** vicinity's recall@k: per query, the share of the k served neighbours
    * whose distance is within 1e-3 of the k-th exact distance, averaged */
  def recall(): Double =
    if (scored.isEmpty) Double.NaN
    else scored.map { r =>
      val kth = Corpus.bruteForce(allNormalized.take(r.live),
        corpus.queries(r.query), k).last._2
      r.served.count(_._2 <= kth + 1e-3).toDouble / k
    }.sum / scored.size

  // ---- helpers ----

  protected def deleteDir(dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** One timed read: the facade call, then the collect. Traced, the IVF
    * cells its executed file scans read are counted after the timing. */
  protected def read(plan: => DataFrame): Option[Map[Long, Seq[(Long, Double)]]] = {
    var served: DataFrame = null
    val got = ops.run(Ops.Query) {
      served = ops.plan(plan)
      neighbours(ops.layer("spark.collect")(served.collect()))
    }
    if (ops.traced && got.isDefined)
      cellsRead(ops.records.last.id) = Scans.cellsRead(served)
    got
  }
}

/** The files the executed scans of a DataFrame read, taken from its
  * physical plan after the action ran (through adaptive query stages and
  * subqueries). */
object Scans extends AdaptiveSparkPlanHelper {
  private val Cell = "/_centroid=([^/]+)/".r

  /** distinct `_centroid` partition directories among the files read */
  def cellsRead(df: DataFrame): Int =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.inputRDDs().collect {
        case rdd: FileScanRDD => rdd.filePartitions.flatMap(_.files)
      }.flatten
    }.flatten
      .flatMap(f => Cell.findFirstMatchIn(f.filePath.toString).map(_.group(1)))
      .distinct.size
}

/** BASIC exact cosine over a store cached in Spark storage memory; the
  * client sends batches of queries. */
final class KnnExactMem(spark: SparkSession, seed: Long, ops: Ops,
    work: String) extends Workload(spark, seed, ops, work) {
  val rowsN = 20000
  val dim = 64
  val clusters = 32
  val batch = 128
  val appendPoolN = 0
  val backend: Backend = Backend.Basic
  val args: BackendArgs = BackendArgs.BasicArgs()
  val countedOps = 16
  /** a call scores 2.56M pairs in ~0.7 s; the tail needs more calls than
    * the counted prefix to stay steady from run to run */
  val minReads = 20
  /** a build takes ~0.5 s and the first few of a run are still warming */
  override def buildReps: Int = 7
  override def queriesPerRead: Int = batch
  override def recallFloor: Double = 1.0
  /** exact search scores every live row against every query */
  override def pairsScored(rowsRead: Long): Double = rowsN.toDouble * batch
  /** batches whose every top-10 is compared with exact search */
  val sampleBatches = 2
  private lazy val batches: IndexedSeq[DataFrame] =
    corpus.queries.grouped(batch).map(b => queryDf(b.toSeq)).toIndexedSeq

  /** read calls before the window: call times still fall over the first
    * dozen or so calls of a JVM */
  val warmUpReads = 12

  def warmUp(): Unit = (0 until warmUpReads).foreach(i =>
    vic.queryDf(batches(i % batches.size), k).collect())

  def step(i: Int): Unit = {
    val b = i % batches.size
    read(vic.queryDf(batches(b), k)).foreach { got =>
      check("every_query_returns_k", got.size == batch &&
        got.values.forall(_.size == k), s"batch $b: ${got.map(_._2.size)}")
      if (i == b && b < sampleBatches) got.foreach { case (q, nbs) =>
        val qi = b * batch + q.toInt
        val truth = Corpus.bruteForce(allNormalized.take(live),
          corpus.queries(qi), k)
        check("top10_ids_match_brute_force", nbs.map(_._1) == truth.map(_._1),
          s"query $qi: ${nbs.map(_._1)} vs ${truth.map(_._1)}")
        check("top10_distances_match_brute_force",
          nbs.zip(truth).forall { case (a, t) => math.abs(a._2 - t._2) <= 1e-9 },
          s"query $qi: ${nbs.map(_._2)} vs ${truth.map(_._2)}")
        scored += ScoredRead(qi, live, nbs)
      }
    }
  }
}

/** FAISS `ivf` serving from a `writeServingIndex` layout: single-query
  * disk reads mixed with appends, a compaction every few appends. */
final class IvfDiskRw(spark: SparkSession, seed: Long, ops: Ops,
    work: String) extends Workload(spark, seed, ops, work) {
  val rowsN = 10000
  val dim = 32
  val clusters = 32
  val nlist = 32
  val appendRows = 16
  /** The mix is a synthetic choice; nothing in the library fixes one. The
    * compaction cadence follows a target generation depth: compacting once
    * four appended generations are live means reads see every depth from
    * 1 (just compacted) to 5 (base + 4 appends) in each cycle, so a
    * read-path change has to handle a multi-generation layout. */
  val readsPerAppend = 2
  val compactEvery = 4
  val appendPoolN = 1024
  val backend: Backend = Backend.Faiss
  val args: BackendArgs = BackendArgs.FaissArgs(indexType = "ivf", nlist = nlist)
  /** one full cycle: 4 × (2 reads + 1 append) + 1 compaction */
  val countedOps = 13
  val minReads = 8
  private val dir = s"$work/ivf-layout"
  override def layout: Option[String] = Some(dir)

  /** a stable writer identity: the default one names the JVM process, and
    * its length would make the layout's bytes differ between runs */
  private val writerTag = "servebench"
  private var readsSinceAppend = 0
  private var appendsSinceCompact = 0
  private var heldOut = 0

  private def serve(q: DataFrame): DataFrame = vic.queryFromDiskDf(dir, q, k)

  /** the reads, an append and a compaction, so that the write paths are
    * warm too; the window starts just after the compaction, with the
    * counters of the mix back at zero */
  def warmUp(): Unit = ops.unrecorded {
    (0 until readsPerAppend).foreach(_ => readOne())
    append()
    compact()
  }

  def step(i: Int): Unit =
    if (appendsSinceCompact == compactEvery) compact()
    else if (readsSinceAppend == readsPerAppend) append()
    else readOne()

  private def readOne(): Unit = {
    val qi = heldOut % Workload.QueriesN
    heldOut += 1
    readsSinceAppend += 1
    read(serve(queryDf(Seq(corpus.queries(qi))))).foreach { got =>
      scored += ScoredRead(qi, live, got.getOrElse(0L, Nil))
    }
  }

  private def append(): Unit = {
    val (items, vs) = appendBatch(appendRows)
    readsSinceAppend = 0
    ops.run(Ops.Append)(ops.layer("api.insert_into_serving")(
        vic.insertIntoServing(dir, items, vs, Some(writerTag))))
      .foreach { grown =>
        vic = grown
        val first = live
        appended += items.size
        appendsSinceCompact += 1
        checkVisible(first)
      }
  }

  private def compact(): Unit = {
    val before = checkBatch()
    appendsSinceCompact = 0
    ops.run(Ops.Compact)(ops.layer("api.compact_serving")(
        vic.compactServing(dir, Some(writerTag))))
      .foreach(_ => sameResults("results_identical_across_compaction",
        before, checkBatch()))
  }

  /** served top-k of the check queries, outside any timed operation */
  private def checkBatch(): Map[Long, Seq[(Long, Double)]] =
    ops.aside("servebench-check")(
      neighbours(serve(queryDf(corpus.queries.take(8).toSeq)).collect()))

  private def sameResults(name: String, before: Map[Long, Seq[(Long, Double)]],
      after: Map[Long, Seq[(Long, Double)]]): Unit =
    check(name, before == after, s"results differ: $before vs $after")

  private def appendBatch(size: Int): (Seq[String], Seq[Seq[Double]]) = {
    val vs = corpus.appendPool.slice(appended, appended + size)
    require(vs.length == size, s"append pool of $appendPoolN rows exhausted")
    (vs.indices.map(i => s"appended-${appended + i}"), vs.map(_.toSeq).toSeq)
  }

  /** an acknowledged append must show in the very next read: the first
    * appended vector, queried back, must return its own id */
  private def checkVisible(firstId: Int): Unit = {
    val got = ops.aside("servebench-check")(neighbours(
      serve(queryDf(Seq(allNormalized(firstId)))).collect()))
    check("append_visible_to_next_read",
      got.getOrElse(0L, Nil).headOption.exists(_._1 == firstId.toLong),
      s"appended id $firstId not served first: ${got.get(0L)}")
  }

  /** rows on disk must equal built plus appended rows */
  private def checkRowCount(): Unit = {
    val n = ops.aside("servebench-check")(spark.read.parquet(dir).count())
    check("layout_rows_equal_built_plus_appended", n == live,
      s"layout holds $n rows, expected $rowsN built + $appended appended")
  }

  override def finish(): Unit = {
    if (appendsSinceCompact > 0) compact()
    checkRowCount()
  }
}

/** An HNSW graph served read-only from its disk layout, one query per
  * request. */
final class HnswDiskWalk(spark: SparkSession, seed: Long, ops: Ops,
    work: String) extends Workload(spark, seed, ops, work) {
  val rowsN = 1000
  val dim = 16
  val clusters = 32
  val appendPoolN = 0
  val backend: Backend = Backend.Hnsw
  val args: BackendArgs = BackendArgs.HnswArgs(m = 32)
  val countedOps = 4
  val minReads = 4
  override def buildReps: Int = 1
  /** Held-out queries answered in one untimed walk after the window and
    * scored with the window's walks: a handful of walks alone gives a
    * recall estimate too coarse to hold a floor or a bound. */
  val recallBatch = 64
  private val dir = s"$work/hnsw-layout"
  override def layout: Option[String] = Some(dir)

  private def serve(q: DataFrame): DataFrame = vic.queryFromDiskDf(dir, q, k)

  def warmUp(): Unit = serve(queryDf(Seq(corpus.queries.last))).collect()

  def step(i: Int): Unit = {
    val qi = i % Workload.QueriesN
    read(serve(queryDf(Seq(corpus.queries(qi))))).foreach { got =>
      scored += ScoredRead(qi, live, got.getOrElse(0L, Nil))
    }
  }

  /** the last `recallBatch` queries before the warm-up's, which the
    * window's walks never reach */
  override def finish(): Unit = {
    val first = Workload.QueriesN - 1 - recallBatch
    val got = ops.aside("servebench-check")(neighbours(serve(
      queryDf(corpus.queries.slice(first, first + recallBatch).toSeq)).collect()))
    (0 until recallBatch).foreach { q =>
      scored += ScoredRead(first + q, live, got.getOrElse(q.toLong, Nil))
    }
  }
}

object Workload {
  /** held-out queries generated per run */
  val QueriesN = 512
  /** the percentile `query_tail_ms` reports (nearest rank) */
  val TailPercentile = 0.75

  val names: Seq[String] = Seq("knn-exact-mem", "ivf-disk-rw", "hnsw-disk-walk")

  def apply(name: String, spark: SparkSession, seed: Long, ops: Ops,
      work: String): Workload = name match {
    case "knn-exact-mem" => new KnnExactMem(spark, seed, ops, work)
    case "ivf-disk-rw" => new IvfDiskRw(spark, seed, ops, work)
    case "hnsw-disk-walk" => new HnswDiskWalk(spark, seed, ops, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }
}
