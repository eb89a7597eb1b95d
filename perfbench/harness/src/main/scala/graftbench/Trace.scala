package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executor task CPU time: the one listener every run keeps. */
final class TaskClock extends SparkListener {
  val cpuNs = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

/** A timed region in the bench's own code: an op, or a call into one
  * of graft's public functions inside it. Times are epoch nanoseconds.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, var end: Long = 0L)

/** Per-stage totals, attributed to the graft module of the innermost
  * `graft.` frame of the stage's call site.
  */
final class StageRec(val site: String, val job: Int) {
  var tasks = 0L; var runMs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var input = 0L; var outBytes = 0L; var outRecords = 0L
}

final class JobRec(val span: Int, val execution: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Planning totals from `QueryExecution.tracker`, plus plan size. */
final class PlanTotals {
  var analysisMs = 0L; var optimizationMs = 0L; var physicalMs = 0L
  var actions = 0L; var nodesMax = 0; var cachedMax = 0
  // the current op's largest plan; the harness resets it per op
  var opNodesMax = 0
}

/** The traced run's recorder. Spans stay in memory until the run ends.
  * Spark jobs are attributed to the innermost open span through a
  * local property set around each call, stages to graft modules by
  * their call site, and query plans through a QueryExecutionListener.
  * Only spans opened and events that arrive while `recording` is on
  * are kept.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var recording = false
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val plans = new PlanTotals

  def span[T](name: String, op: Int)(body: => T): T = if (!recording) body else {
    val parent = open.get
    val s = synchronized {
      val s = Span(spans.size + 1, name, if (parent == null) 0 else parent.id, op, now())
      spans += s
      s
    }
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    open.set(s)
    try body
    finally {
      s.end = now()
      open.set(parent)
      sc.setLocalProperty(SpanProp, before)
    }
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** A stage's call site; stages that adaptive execution submits from
    * its own threads carry no graft frame and take the site of another
    * stage of the same SQL execution.
    */
  def siteOfStage(s: StageRec): String =
    if (s.site.nonEmpty) s.site
    else jobs.get(s.job).flatMap(j => Option(j.execution)).flatMap(executionSites.get).getOrElse("")

  private lazy val executionSites: Map[String, String] =
    stages.values.filter(_.site.nonEmpty)
      .flatMap(s => jobs.get(s.job).flatMap(j => Option(j.execution)).map(_ -> s.site))
      .toSeq.reverse.toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = new JobRec(prop(SpanProp).map(_.toInt).getOrElse(0),
      prop("spark.sql.execution.id").orNull, e.time)
    e.stageInfos.foreach(si => stages(si.stageId) = new StageRec(siteOf(si.details), e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).filter(_ => m != null).foreach { s =>
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  private def plan(qe: QueryExecution): Unit = if (recording) {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val (nodes, cached) = size(qe.executedPlan)
    plans.synchronized {
      plans.analysisMs += ms("analysis")
      plans.optimizationMs += ms("optimization")
      plans.physicalMs += ms("planning")
      plans.actions += 1
      plans.nodesMax = math.max(plans.nodesMax, nodes)
      plans.opNodesMax = math.max(plans.opNodesMax, nodes)
      plans.cachedMax = math.max(plans.cachedMax, cached)
    }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Innermost `graft.` frame of a stage's long call site, as
    * `graft.<module>.<Class>`; empty when the action was called from
    * the bench itself (the noop write of a returned frame).
    */
  def siteOf(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator)
      .map { l =>
        // "app//graft.cdc.MergeTable.upsert(MergeTable.scala:42)": drop
        // the class-loader prefix, the method and the source position
        val frame = l.trim.takeWhile(_ != '(')
        frame.substring(frame.lastIndexOf('/') + 1).split('.').dropRight(1).mkString(".")
      }
      .find(_.startsWith("graft."))
      .getOrElse("")

  /** graft module of a call site: `graft.cdc.MergeTable` -> `cdc`. */
  def moduleOf(site: String): String = site.split('.') match {
    case Array("graft", m, _, _*) => m
    case Array("graft", _) => "graft"
    case _ => "returned_frame"
  }

  /** (physical plan nodes, in-memory relation scans), through AQE
    * query stages and subqueries.
    */
  def size(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => size(a.executedPlan)
    case s: QueryStageExec =>
      val (n, c) = size(s.plan)
      (n + 1, c)
    case _: InMemoryTableScanExec => (1, 1)
    case other =>
      (other.children ++ other.subqueries).map(size)
        .foldLeft((1, 0)) { case ((n, c), (n2, c2)) => (n + n2, c + c2) }
  }

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionWithin(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}
