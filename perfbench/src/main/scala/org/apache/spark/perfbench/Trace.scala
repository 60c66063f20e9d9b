package org.apache.spark.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are milliseconds on a monotonic
  * clock aligned to the epoch, so they compare with listener timestamps.
  */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

/** Counters of one Spark job, filled by [[Recorder]]. */
final class JobRec(val span: Int, val start: Long) {
  @volatile var end: Long = start
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var outputBytes = 0L
}

/** SparkListener + QueryExecutionListener pair of the traced run. Jobs are
  * attributed to the span that submitted them through a local property,
  * so no clock matching is needed. Planning time is read from each
  * finished query's `QueryPlanningTracker`; the caller drains the listener
  * bus around the one call it wants it for.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** Analysis + optimization + planning ms of each finished query. */
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobRec(span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).map(jobs.get(_)).orNull
    val m = e.taskMetrics
    if (job != null && m != null) job.synchronized {
      job.tasks += 1
      job.runMs += m.executorRunTime
      job.cpuNs += m.executorCpuTime
      job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      job.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    plans.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

/** Span recorder around the benchmark's calls into the program. With
  * `enabled = false` a span only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def now(): Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = false
  var run = 0
  private var current = -1
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = current
      current = id
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = now()
      try body
      finally {
        spans += Span(id, name, parent, run, start, now())
        current = parent
        sc.setLocalProperty(Tracer.SpanProperty,
          if (parent < 0) null else parent.toString)
      }
    }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Bytes held by cached or checkpointed RDD blocks right now. */
  def storedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Total length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Per-span self time: duration minus the time its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }
}
