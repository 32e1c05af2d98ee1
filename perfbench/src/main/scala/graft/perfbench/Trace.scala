package graft.perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in epoch nanoseconds. `parent` is 0 for the
  * root (workload) span. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      start: Long, end: Long)

/** Wall clock in epoch nanoseconds, monotonic within the run. */
object Clock {
  private val baseEpochNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** Spark-side counters of one op (or of the whole measured section). */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var executions = 0L
  var planningMs = 0L

  def add(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    executions += o.executions; planningMs += o.planningMs
  }
}

/** In-memory span store fed by the harness (workload, op and phase
  * spans) and by Spark's public listener APIs (job spans, task and
  * stage counters, planning phases). Every job is attributed to the
  * phase span named by the [[Tracer.SpanProp]] local property the
  * harness sets on its thread; a job started from a thread that did not
  * inherit the property (a library's own pool) falls back to the phase
  * open at that moment — the client is closed-loop, so at most one
  * phase is open. Query executions carry no properties and are
  * attributed by their planning start time.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val ids = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  // phase span id -> owning op span id
  private val phaseOp = mutable.HashMap.empty[Long, Long]
  private val opCounters = mutable.HashMap.empty[Long, SparkCounters]
  private val stageOwner = mutable.HashMap.empty[Int, Long]
  private val jobOpen = mutable.HashMap.empty[Int, (Long, Long)]
  // (planning start ms, planning ms) per finished query execution
  private val executions = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var openPhase = 0L

  def newId(): Long = ids.getAndIncrement()

  def record(s: Span): Unit = synchronized { spans += s }

  def enterPhase(sc: SparkContext, op: Long, phase: Long): Unit = synchronized {
    phaseOp(phase) = op
    openPhase = phase
    sc.setLocalProperty(SpanProp, phase.toString)
  }

  def exitPhase(sc: SparkContext): Unit = {
    openPhase = 0L
    sc.setLocalProperty(SpanProp, null)
  }

  def countersOf(op: Long): SparkCounters = synchronized {
    opCounters.getOrElse(op, new SparkCounters)
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  /** Attributes the recorded query executions to the op spans whose
    * interval holds their planning start. */
  def attributeExecutions(ops: Seq[Span]): Unit = synchronized {
    val sorted = ops.sortBy(_.start)
    executions.foreach { case (startMs, planMs) =>
      val t = startMs * 1000000L
      sorted.find(o => o.start <= t && t <= o.end).foreach { o =>
        val c = opCounters.getOrElseUpdate(o.id, new SparkCounters)
        c.executions += 1; c.planningMs += planMs
      }
    }
    executions.clear()
  }

  private def ownerOf(props: Properties): Long = {
    val p = Option(props).flatMap(x => Option(x.getProperty(SpanProp)))
    p.map(_.toLong).getOrElse(openPhase)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = ownerOf(e.properties)
    val op = phaseOp.getOrElse(phase, 0L)
    jobOpen(e.jobId) = (phase, e.time)
    e.stageIds.foreach(stageOwner(_) = op)
    opCounters.getOrElseUpdate(op, new SparkCounters).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOpen.remove(e.jobId).foreach { case (phase, startMs) =>
      spans += Span(newId(), phase, s"job ${e.jobId}", "spark",
        startMs * 1000000L, e.time * 1000000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val op = stageOwner.getOrElse(e.stageInfo.stageId, 0L)
    opCounters.getOrElseUpdate(op, new SparkCounters).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = opCounters.getOrElseUpdate(
      stageOwner.getOrElse(e.stageId, 0L), new SparkCounters)
    c.tasks += 1
    c.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) synchronized {
      executions += ((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

object Tracer {
  val SpanProp = "perfbench.span"

  def attach(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def detach(spark: SparkSession, t: Tracer): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(t)
    spark.listenerManager.unregister(t)
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover (clipped to the span). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}
