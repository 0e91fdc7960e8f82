package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is the id of the enclosing span or -1;
  * `op` is the sampled op the span belongs to, or -1 outside ops. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, op: Int)

final case class StageRec(job: Int, tasks: Int, runMs: Long, cpuMs: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, recordsIn: Long, bytesIn: Long)

final case class ScanRec(table: String, graft: Boolean, columnar: Boolean, partitions: Int)

final case class QeRec(phases: Seq[(String, Long, Long)], scans: Seq[ScanRec], exchanges: Int) {
  def start: Long = if (phases.isEmpty) Long.MaxValue else phases.map(_._2).min
  def phaseMs(name: String): Long = phases.filter(_._1 == name).map(p => p._3 - p._2).sum
}

/** What the traced pass saw during one op (or one statement). */
final case class OpTrace(wallMs: Double, jobMs: Long, stages: Seq[StageRec], qes: Seq[QeRec]) {
  def driverMs: Double = math.max(0.0, wallMs - jobMs)
  def scans: Seq[ScanRec] = qes.flatMap(_.scans)
  def graftScans: Seq[ScanRec] = scans.filter(_.graft)
}

/** Plan inspection through Spark's AQE-aware helper: the final adaptive
  * plan, its query stages and subqueries. */
object Plans extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Seq[ScanRec] = collectWithSubqueries(p) {
    case b: BatchScanExec =>
      // graft tables, but not their `t$files`-style metadata tables
      val graft = b.table.getClass.getName.startsWith("graft.") && !b.table.name().contains("$")
      ScanRec(b.table.name(), graft, b.supportsColumnar, b.inputPartitions.size)
  }
  def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case _: Exchange => 1 }.sum
}

/** Records spans and Spark's own job, stage and query-execution events.
  * Nothing here reads engine internals: jobs and stages come from a
  * `SparkListener`, plan phases and plans from a `QueryExecutionListener`
  * (plus the harness's own statements' `QueryExecution`s), and every
  * event is attributed to an op by wall-clock time. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val jobStart = mutable.Map[Int, Long]()
  private val jobEnd = mutable.Map[Int, Long]()
  private val stageToJob = mutable.Map[Int, Int]()
  private val stages = ArrayBuffer[(Int, StageRec)]() // (stageId, rec)
  private val qes = ArrayBuffer[QeRec]()
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
  private val spans = ArrayBuffer[Span]()
  private val open = mutable.Stack[(Int, String, Long, Int)]() // id, name, start, op
  private var nextId = 0
  private var attached = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobEnd(e.jobId) = e.time
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val tm = si.taskMetrics
      if (tm != null) lock.synchronized {
        stages += si.stageId -> StageRec(stageToJob.getOrElse(si.stageId, -1), si.numTasks,
          tm.executorRunTime, tm.executorCpuTime / 1e6,
          tm.shuffleReadMetrics.totalBytesRead, tm.shuffleWriteMetrics.bytesWritten,
          tm.memoryBytesSpilled + tm.diskBytesSpilled,
          tm.inputMetrics.recordsRead, tm.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Records a query execution once, however often it is reported. */
  def record(qe: QueryExecution): Unit = {
    val fresh = lock.synchronized(seenQe.add(qe))
    if (fresh) {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val plan = try Some(qe.executedPlan) catch { case _: Throwable => None }
      val rec = QeRec(phases, plan.map(Plans.scans).getOrElse(Nil),
        plan.map(Plans.exchanges).getOrElse(0))
      lock.synchronized(qes += rec)
    }
  }

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def drain(): Unit = BusDrain(spark.sparkContext)

  /** Opens a span; `op` is inherited from the enclosing span when -1. */
  def begin(name: String, op: Int = -1): Unit = {
    val o = if (op >= 0 || open.isEmpty) op else open.top._4
    open.push((nextId, name, System.currentTimeMillis(), o))
    nextId += 1
  }

  def end(): Span = {
    val (id, name, start, op) = open.pop()
    val parent = if (open.isEmpty) -1 else open.top._1
    val s = Span(id, name, start, System.currentTimeMillis(), parent, op)
    spans += s
    s
  }

  /** Everything observed inside [start, end]: jobs that started there,
    * their stages, and query executions whose first phase began there. */
  def window(start: Long, end: Long, wallMs: Double): OpTrace = lock.synchronized {
    def inside(t: Long) = t >= start && t <= end
    val js = jobStart.filter { case (_, t) => inside(t) }.keySet
    val intervals = js.toSeq.map(j => (jobStart(j), jobEnd.getOrElse(j, end).min(end)))
    OpTrace(wallMs, unionMs(intervals), stages.collect { case (_, s) if js(s.job) => s }.toSeq,
      qes.filter(q => inside(q.start)).toSeq)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  /** All spans: the harness's own (ops, statements) plus one per plan
    * phase and per job, each nested under the innermost span holding its
    * start. Self time is a span's length minus the part its children cover. */
  def allSpans(): Seq[Map[String, Any]] = lock.synchronized {
    val base = spans.toSeq
    var id = nextId
    def within(t: Long): Option[Span] =
      base.filter(s => t >= s.start && t <= s.end).sortBy(s => s.end - s.start).headOption
    val derived = ArrayBuffer[Span]()
    qes.foreach(q => q.phases.foreach { case (n, s, e) =>
      val p = within(s)
      derived += Span(id, s"plan.$n", s, e, p.map(_.id).getOrElse(-1), p.map(_.op).getOrElse(-1))
      id += 1
    })
    jobStart.foreach { case (j, s) =>
      val e = jobEnd.getOrElse(j, s)
      val p = within(s)
      derived += Span(id, s"job.$j", s, e, p.map(_.id).getOrElse(-1), p.map(_.op).getOrElse(-1))
      id += 1
    }
    val all = base ++ derived
    // the part of a span's interval its children cover, overlaps counted once
    val childMs = all.groupBy(_.parent).map { case (p, cs) => p -> unionMs(cs.map(c => (c.start, c.end))) }
    all.sortBy(_.start).map(s => Map(
      "id" -> s.id, "name" -> s.name, "start" -> s.start, "end" -> s.end,
      "parent" -> s.parent, "op" -> s.op,
      "self_ms" -> math.max(0L, (s.end - s.start) - childMs.getOrElse(s.id, 0L))))
  }
}
