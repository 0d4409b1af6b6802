package servebench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed loop. `planNs` is the wall time of
  * the facade call that returned the DataFrame, 0 for operations that
  * have none. */
final case class OpRecord(id: Long, kind: String, startNs: Long,
    endNs: Long, planNs: Long, gcMs: Long, ok: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

object Ops {
  val Query = "query"
  val Append = "append"
  val Compact = "compact"
  val Build = "build"
  val kinds: Seq[String] = Seq(Query, Append, Compact, Build)

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ > 0).sum
  }
}

/** The single client of the closed loop: each operation runs to completion
  * before the next starts. A failing operation is recorded and counted,
  * never retried; the caller sees `None`. With a tracer, every operation
  * runs its Spark jobs under a job group of its own and each call into a
  * layer is a span. */
final class Ops(spark: SparkSession, val tracer: Option[Tracer]) {
  val records = ArrayBuffer.empty[OpRecord]
  private var nextId = 0L
  private var current = -1L
  private var planNs = 0L

  private var recording = true

  /** Runs `body` with its operations neither timed, recorded nor traced:
    * the warm-up before the window. A failing operation fails the run. */
  def unrecorded[A](body: => A): A = {
    recording = false
    try body finally recording = true
  }

  def run[A](kind: String)(body: => A): Option[A] =
    if (!recording) Some(body) else recorded(kind)(body)

  private def recorded[A](kind: String)(body: => A): Option[A] = {
    val id = nextId
    nextId += 1
    val sc = spark.sparkContext
    tracer.foreach(_ => sc.setJobGroup(Tracer.group(id), kind))
    current = id
    planNs = 0L
    val gc0 = Ops.gcMs()
    val t0 = System.nanoTime()
    val result =
      try Some(tracer.fold(body)(_.span(kind, id)(body)))
      catch { case NonFatal(e) =>
        System.err.println(s"[servebench] $kind op $id failed: $e")
        None
      }
    records += OpRecord(id, kind, t0, System.nanoTime(), planNs,
      Ops.gcMs() - gc0, result.isDefined)
    current = -1L
    tracer.foreach(_ => sc.clearJobGroup())
    result
  }

  /** The facade call that returns the DataFrame, timed apart from the
    * action that collects it. */
  def plan[A](body: => A): A = {
    val t0 = System.nanoTime()
    try layer("api.plan")(body) finally planNs += System.nanoTime() - t0
  }

  /** A call into one layer inside the current operation: a span when
    * traced, nothing otherwise. */
  def layer[A](name: String)(body: => A): A =
    if (!recording) body else tracer.fold(body)(_.span(name, current)(body))

  /** Work outside the timed operations (checks, trace-only probes): its
    * jobs run under `group`, so no operation's counts include them. */
  def aside[A](group: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
  }

  def of(kind: String): Seq[OpRecord] = records.filter(_.kind == kind).toSeq

  def traced: Boolean = tracer.isDefined && recording
}
