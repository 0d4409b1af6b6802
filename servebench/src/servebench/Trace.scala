package servebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a named interval, the span that caused it (0 = none) and the
  * operation it belongs to (-1 = none). Times are epoch nanoseconds. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long)

/** Spark work attributed to one job group. */
final class GroupCounts {
  val jobs, stages, tasks, failedTasks = new AtomicLong
  val taskMs, schedDelayMs, recordsRead, bytesRead = new AtomicLong
}

/** Spans and listener counts, taken from outside the program: spans wrap
  * the benchmark's own calls into each layer, and a SparkListener counts
  * jobs, stages and tasks per job group. Every operation runs its jobs
  * under a job group of its own (`Tracer.group`), so attribution never
  * depends on which operation happens to be current when an event
  * arrives. Spans are kept in memory and written out when the run ends. */
final class Tracer(spark: SparkSession) {
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spanIds = new AtomicLong
  private val spans = ArrayBuffer.empty[Span]
  private val parents = ThreadLocal.withInitial[List[Long]](() => Nil)

  private val groups = new ConcurrentHashMap[String, GroupCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  def span[A](name: String, op: Long)(body: => A): A = {
    val id = spanIds.incrementAndGet()
    val stack = parents.get
    parents.set(id :: stack)
    val t0 = System.nanoTime()
    try body
    finally {
      parents.set(stack)
      record(Span(id, stack.headOption.getOrElse(0L), op, name,
        t0 + epochOffsetNs, System.nanoTime() + epochOffsetNs))
    }
  }

  def counts(group: String): GroupCounts =
    groups.computeIfAbsent(group, _ => new GroupCounts)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      counts(g).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.putIfAbsent(_, g))
      jobStart.put(e.jobId, (g, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
        Tracer.opOf(g).foreach { op =>
          record(Span(spanIds.incrementAndGet(), Tracer.Unresolved, op,
            "spark.job", t0 * 1000000L, e.time * 1000000L))
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counts(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
        .stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counts(stageGroup.getOrDefault(e.stageId, "none"))
      c.tasks.incrementAndGet()
      val info = e.taskInfo
      if (info != null) {
        c.taskMs.addAndGet(info.duration)
        val submitted = stageSubmitMs.getOrDefault(e.stageId, info.launchTime)
        c.schedDelayMs.addAndGet(math.max(0L, info.launchTime - submitted))
        if (!info.successful) c.failedTasks.incrementAndGet()
      }
      val m = e.taskMetrics
      if (m != null) {
        c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  })

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.servebench.BusDrain(spark.sparkContext)

  def failedTasks: Long = groups.values.asScala.map(_.failedTasks.get).sum

  /** Spans as JSON lines, each with its self time: its duration minus the
    * part of its interval that its children cover. */
  def writeSpans(file: java.io.File): Int = {
    val recorded = spans.synchronized(spans.toVector)
    // a job's parent is the innermost span of its operation that was open
    // when the job started (job times have millisecond resolution)
    val byOp = recorded.filter(_.parent != Tracer.Unresolved).groupBy(_.op)
    val all = recorded.map { s =>
      if (s.parent != Tracer.Unresolved) s
      else s.copy(parent = byOp.getOrElse(s.op, Vector.empty)
        .filter(p => p.startNs - 1000000L <= s.startNs && s.startNs <= p.endNs)
        .sortBy(p => p.endNs - p.startNs).headOption.map(_.id).getOrElse(0L))
    }.sortBy(s => (s.startNs, s.id))
    val children = all.groupBy(_.parent)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.foreach { s =>
      val covered = children.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      w.println(json.writeValueAsString(ListMap("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> (s.endNs - s.startNs - covered))))
    } finally w.close()
    all.size
  }
}

object Tracer {
  private val Unresolved = -1L
  private val prefix = "servebench-op-"
  def group(op: Long): String = prefix + op
  def opOf(group: String): Option[Long] =
    if (group.startsWith(prefix)) Some(group.drop(prefix.length).toLong)
    else None
}
