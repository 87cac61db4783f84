package graft.flockbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` and `op`
  * are span ids (-1 at the root).
  */
final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, op: Int) {
  def ms: Double = end - start
}

/** What one completed stage cost, from its aggregated task metrics. */
final case class StageRec(start: Double, end: Double, tasks: Int,
    runMs: Long, cpuMs: Long, gcMs: Long, scanBytes: Long, scanRows: Long,
    shWriteBytes: Long, shReadBytes: Long, shReadRows: Long,
    shWaitMs: Long, spillBytes: Long)

final case class JobRec(id: Int, start: Double, end: Double)

/** A QueryPlanningTracker phase of one executed query. */
final case class PhaseRec(phase: String, start: Double, end: Double)

/** Task time of every completed stage, kept in every run (traced or
  * not) for the host-interference record: run time a task did not
  * spend on a cpu is time a neighbour or the collector took.
  */
final class HostListener extends SparkListener {
  @volatile var runMs = 0L
  @volatile var cpuMs = 0L
  @volatile var gcMs = 0L
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuMs += m.executorCpuTime / 1000000L
        gcMs += m.jvmGCTime
      }
    }
}

/** Listener-side records of the traced units. */
final class ExecListener extends SparkListener with QueryExecutionListener {
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != 0L) jobs.add(JobRec(e.jobId, s.toDouble, e.time.toDouble))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) {
      val end = si.completionTime.getOrElse(System.currentTimeMillis())
      stages.add(StageRec(si.submissionTime.getOrElse(end).toDouble,
        end.toDouble, si.numTasks, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Spans at the benchmark's own calls into each layer, plus the
  * listener records of the units run with tracing on. Spans stay in
  * memory and are written once, by [[writeSpans]], at exit.
  *
  * A traced run alternates traced and untraced timed units (sweeps or
  * rounds); the listeners are attached only while a traced unit runs,
  * so the untraced units measure the same code without any recording
  * and `trace.overhead_pct` compares the two.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Wall = System.currentTimeMillis().toDouble
  def now(): Double = t0Wall + (System.nanoTime() - t0Nano) / 1e6

  val host = new HostListener
  spark.sparkContext.addSparkListener(host)
  val exec = new ExecListener
  private var attached = false
  private var active = false

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var curOp = -1

  /** Turn recording on or off for the next unit (no-op when untraced). */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    drain()
    if (on && !attached) {
      spark.sparkContext.addSparkListener(exec)
      spark.listenerManager.register(exec)
      attached = true
    } else if (!on && attached) {
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(exec)
      attached = false
    }
    active = on
  }
  def isActive: Boolean = active

  def drain(): Unit = org.apache.spark.flockbench.Bus.drain(spark.sparkContext)

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String, isOp: Boolean = false)(body: => T): T =
    if (!active) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      val start = now()
      spans += null
      stack = id :: stack
      val outerOp = curOp
      if (isOp) curOp = id
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, name, start, now(), parent, curOp)
        curOp = outerOp
      }
    }

  /** A span timed outside the client thread (a trigger, a phase). */
  def add(name: String, start: Double, end: Double, parent: Int): Int = {
    val id = spans.length
    val op = if (parent >= 0) spans(parent).op else -1
    spans += Span(id, name, start, end, parent, op)
    id
  }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)
  def named(prefix: String): Seq[Span] = all.filter(_.name.startsWith(prefix))

  /** The innermost recorded span covering time `t`. */
  def innermost(t: Double, within: Seq[Span]): Int = {
    val c = within.filter(s => s.start <= t && t <= s.end)
    if (c.isEmpty) -1 else c.maxBy(_.start).id
  }

  /** Attach jobs, stages and planning phases to the spans that were open
    * when they started; call once, after the last traced unit.
    */
  def attachListenerRecords(): Unit = if (enabled) {
    drain()
    val base = all.filter(s => !s.name.startsWith("trigger"))
    exec.jobs.asScala.toSeq.sortBy(_.start).foreach { j =>
      val p = innermost(j.start, base)
      if (p >= 0) add(s"job/${j.id}", j.start, j.end, p)
    }
    exec.phases.asScala.toSeq.sortBy(_.start).foreach { ph =>
      val p = innermost(ph.start, base)
      if (p >= 0 && Set("analysis", "optimization", "planning")(ph.phase))
        add(s"phase/${ph.phase}", ph.start, ph.end, p)
    }
  }

  /** Own time of a span: its length minus the union of its children. */
  def selfMs(s: Span): Double = {
    val kids = all.filter(_.parent == s.id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    kids.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = math.max(ce, b)
      else { covered += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) covered += ce - cs
    s.ms - covered
  }

  def stagesIn(w: Span): Seq[StageRec] =
    exec.stages.asScala.toSeq.filter(r => r.start >= w.start && r.start <= w.end)
  def phasesIn(w: Span): Seq[PhaseRec] =
    exec.phases.asScala.toSeq.filter(r => r.end >= w.start && r.end <= w.end)
  def jobsIn(w: Span): Seq[JobRec] =
    exec.jobs.asScala.toSeq.filter(r => r.start >= w.start && r.start <= w.end)

  def descendants(root: Span): Seq[Span] = {
    val kids = all.groupBy(_.parent)
    def go(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k => k +: go(k.id))
    go(root.id)
  }

  def writeSpans(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "start" -> f"${s.start}%.3f", "end" -> f"${s.end}%.3f",
        "parent" -> s.parent.toString, "op" -> s.op.toString)))
    } finally w.close()
  }
}

/** Host-interference readings: reported beside the metrics, never used
  * to retry, drop or select a run.
  */
final class Host {
  private def cpu(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) } finally src.close()
  }
  private val (steal0, total0) = cpu()

  def stealPm(): Double = {
    val (s, t) = cpu()
    if (t > total0) 1000.0 * (s - steal0) / (t - total0) else 0.0
  }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Exception => 0.0 }

  def jvmGcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  def rssPeakMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }
}
