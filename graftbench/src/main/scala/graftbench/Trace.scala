package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark counters, all recorded from outside the library.
  *
  * A span is opened by the harness around each call into a layer's public
  * functions. While it is open, the span id rides the SparkContext local
  * property [[Trace.SpanKey]], so every job the call (or the action on the
  * DataFrame it returns) starts is attributed to it; the library is not
  * changed. Spans stay in memory until the run ends. With tracing off,
  * `span` only runs its body.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  @volatile private var enabled = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  private val listener = new Listener
  private val qeListener = new QeListener

  def start(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
    window()
  }

  /** Stop recording: listeners off, spans no longer opened. */
  def stop(): Unit = if (enabled) {
    window()
    enabled = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` inside a span named `name`. `callEnd` marks the moment the
    * library call itself returned (its eager driver work), when the span
    * also covers the action on the returned DataFrame. */
  def span[T](name: String)(body: Span => T): T =
    if (!enabled) body(Span.Off)
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = Span(nextId, name, parent.map(_.id).getOrElse(0L), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body(s)
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** Counters gathered since the last `window()`; drains the event bus
    * first so the window is complete. */
  def window(): Window = {
    if (!enabled) return Window.empty
    BenchBus.drain(spark.sparkContext)
    listener.synchronized {
      val w = listener.cur.copy(plan = qeListener.take())
      listener.cur = Window.empty
      w
    }
  }

  private def spanJobs: Map[Long, Int] = listener.synchronized(listener.jobsBySpan.toMap)

  /** Self time and job count per span name over spans that started in
    * [from, to) (nanoTime), plus the summed `callEnd - start` per name. */
  def perName(from: Long, to: Long): Map[String, (Double, Int, Double)] = {
    val inWin = spans.filter(s => s.start >= from && s.start < to && s.end > 0)
    val childDur = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    inWin.foreach(s => if (s.parent != 0) childDur(s.parent) += s.end - s.start)
    val jobs = spanJobs
    inWin.groupBy(_.name).map { case (n, ss) =>
      val self = ss.map(s => s.end - s.start - childDur(s.id)).sum / 1e9
      val call = ss.map(s => if (s.callEnd > 0) s.callEnd - s.start else 0L).sum / 1e9
      n -> ((self, ss.map(s => jobs.getOrElse(s.id, 0)).sum, call))
    }
  }

  private final class Listener extends SparkListener {
    var cur: Window = Window.empty
    val jobsBySpan = mutable.Map.empty[Long, Int].withDefaultValue(0)
    private val jobStart = mutable.Map.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      cur = cur.copy(jobs = cur.jobs + 1)
      jobStart(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .foreach(id => jobsBySpan(id.toLong) += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 =>
        cur = cur.copy(jobIntervals = (t0, e.time) :: cur.jobIntervals))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { cur = cur.copy(stages = cur.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) cur = cur.copy(
        tasks = cur.tasks + 1,
        runMs = cur.runMs + m.executorRunTime,
        cpuNs = cur.cpuNs + m.executorCpuTime,
        gcMs = cur.gcMs + m.jvmGCTime,
        inBytes = cur.inBytes + m.inputMetrics.bytesRead,
        inRows = cur.inRows + m.inputMetrics.recordsRead,
        shufWrite = cur.shufWrite + m.shuffleWriteMetrics.bytesWritten,
        shufRead = cur.shufRead + m.shuffleReadMetrics.totalBytesRead,
        spill = cur.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      else cur = cur.copy(tasks = cur.tasks + 1)
    }
  }

  /** Planning time, codegen time, broadcast sizes and SampleExecNode rows
    * of every query execution that finished. */
  private final class QeListener extends QueryExecutionListener {
    private var acc = PlanStats()
    def take(): PlanStats = synchronized { val a = acc; acc = PlanStats(); a }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases
        .filter { case (k, _) => PlanPhases.contains(k) }
        .values.map(_.durationMs).sum
      var codegenMs = 0L; var bcastMax = 0L; var sampleRows = 0L
      walk(qe.executedPlan) { p =>
        val name = p.nodeName
        def metric(k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
        if (name.startsWith("WholeStageCodegen")) codegenMs += metric("pipelineTime")
        if (name == "BroadcastExchange") bcastMax = math.max(bcastMax, metric("dataSize"))
        if (p.getClass.getSimpleName == "SampleExecNode") sampleRows += metric("numOutputRows")
      }
      synchronized {
        acc = PlanStats(acc.planMs + planMs, acc.codegenMs + codegenMs,
                        math.max(acc.bcastMax, bcastMax), acc.sampleRows + sampleRows)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  private val PlanPhases = Set("analysis", "optimization", "planning")

  final case class Span(id: Long, name: String, parent: Long, start: Long) {
    var end: Long = 0L
    var callEnd: Long = 0L
    def called(): Unit = if (id != 0) callEnd = System.nanoTime()
  }
  object Span { val Off: Span = Span(0, "", 0, 0) }

  final case class PlanStats(planMs: Long = 0, codegenMs: Long = 0,
                             bcastMax: Long = 0, sampleRows: Long = 0)

  final case class Window(jobs: Long, stages: Long, tasks: Long, runMs: Long,
                          cpuNs: Long, gcMs: Long, inBytes: Long, inRows: Long,
                          shufWrite: Long, shufRead: Long, spill: Long,
                          jobIntervals: List[(Long, Long)], plan: PlanStats) {
    /** Milliseconds of [from, to] during which at least one job ran. */
    def busyMs(from: Long, to: Long): Long = {
      val iv = jobIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var curA = -1L; var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) busy += curB - curA
      busy
    }
  }
  object Window {
    val empty: Window = Window(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Nil, PlanStats())
  }

  /** Visit every physical node of an executed plan, through adaptive
    * stages and subqueries, each node once. */
  def walk(root: SparkPlan)(f: SparkPlan => Unit): Unit = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Unit = if (seen.add(p)) {
      f(p)
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case s: QueryStageExec => go(s.plan)
        case _ =>
      }
      p.children.foreach(go)
      p.subqueries.foreach(go)
    }
    go(root)
  }
}
