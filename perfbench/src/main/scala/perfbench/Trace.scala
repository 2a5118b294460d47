package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished action as the QueryExecutionListener saw it. */
final case class Action(durationMs: Double, planMs: Double, files: Long, rowsScanned: Long,
    writePath: Option[String])

/** Cumulative counters of everything Spark reported since the meter was
  * registered. Two snapshots subtract to the work done between them. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, spill: Long = 0, input: Long = 0, output: Long = 0,
    recordsOut: Long = 0, actions: Int = 0) {
  def -(o: Counters): Counters = this + o.scaled(-1)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead, spill + o.spill,
    input + o.input, output + o.output, recordsOut + o.recordsOut,
    actions + o.actions)
  private def scaled(k: Int): Counters = Counters(k * jobs, k * stages, k * tasks,
    k * runMs, k * cpuNs, k * gcMs, k * shuffleWrite, k * shuffleRead, k * spill,
    k * input, k * output, k * recordsOut, k * actions)
}

/** The harness's own listeners, attached to its session for traced steps
  * only: job/stage/task metrics from a SparkListener, per-action planning
  * time, scan files and written paths from a QueryExecutionListener. */
final class Meter extends SparkListener with QueryExecutionListener {
  private var c = Counters()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock ms of each finished job. */
  val jobs = ArrayBuffer.empty[(Long, Long)]
  val actions = ArrayBuffer.empty[Action]

  def snapshot: Counters = synchronized(c.copy(actions = actions.size))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      runMs = c.runMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.diskBytesSpilled,
      input = c.input + m.inputMetrics.bytesRead,
      output = c.output + m.outputMetrics.bytesWritten,
      recordsOut = c.recordsOut + m.outputMetrics.recordsWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L)

  private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum.toDouble
    val scans = Plans.scans(qe.executedPlan)
    val a = Action(durationNs / 1e6, planMs, scans.map(_._1).sum, scans.map(_._2).sum,
      Plans.writePath(qe.analyzed))
    synchronized(actions += a)
  }

  /** Wall ms in [fromMs, toMs] during which at least one job ran. */
  def busyMs(fromMs: Long, toMs: Long): Long = synchronized {
    val cut = jobs.iterator.map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var cur = Option.empty[(Long, Long)]
    for ((s, e) <- cut) cur match {
      case Some((cs, ce)) if s <= ce => cur = Some((cs, ce max e))
      case _ =>
        cur.foreach { case (cs, ce) => busy += ce - cs }
        cur = Some((s, e))
    }
    cur.foreach { case (cs, ce) => busy += ce - cs }
    busy
  }

  def actionsSince(n: Int): Seq[Action] = synchronized(actions.drop(n).toSeq)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

/** Physical- and logical-plan probes. */
object Plans extends AdaptiveSparkPlanHelper {
  /** (files, output rows) of every file scan in an executed plan, AQE
    * stages and subqueries included. */
  def scans(plan: SparkPlan): Seq[(Long, Long)] =
    collectWithSubqueries(plan) {
      case p if p.metrics.contains("numFiles") =>
        (p.metrics("numFiles").value, p.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
    }

  def writePath(plan: LogicalPlan): Option[String] =
    plan.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString }

  /** (physical operators, operators inside a WholeStageCodegen stage). */
  def codegenShare(plan: SparkPlan): (Int, Int) = {
    import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    var total, fused = 0
    def walk(p: SparkPlan, inStage: Boolean): Unit = p match {
      case w: WholeStageCodegenExec => walk(w.child, inStage = true)
      case i: InputAdapter => walk(i.child, inStage = false)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inStage = false)
      case q: QueryStageExec => walk(q.plan, inStage = false)
      case other =>
        total += 1
        if (inStage) fused += 1
        other.children.foreach(walk(_, inStage))
    }
    walk(plan, inStage = false)
    (total, fused)
  }

  /** Size of an analyzed plan, subqueries included. */
  def nodes(plan: LogicalPlan): Int = plan.collectWithSubqueries { case p => p }.size
}

/** A span: one timed call into graft, or a group of them. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long = -1L, probe: Boolean = false) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest by call order on the harness thread;
  * each carries the id of the op it belongs to. Disabled recorders cost one
  * branch per call. */
final class Tracer(t0: Long) {
  val spans = ArrayBuffer.empty[Span]
  var enabled = false
  var op = -1
  private var stack = List.empty[Span]

  /** `probe` marks work the traced run adds (extra counts); its time is
    * left out when comparing traced and untraced ops. */
  def apply[T](name: String, probe: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), probe = probe)
      spans += s
      stack = s :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  def named(name: String): Seq[Span] = spans.iterator.filter(_.name == name).toSeq

  /** Self time: a span's duration minus the part its children cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  /** Run `body` without recording the spans it opens. */
  def muted[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  def toJson: com.fasterxml.jackson.databind.node.ArrayNode = {
    val a = Json.mapper.createArrayNode()
    spans.foreach { s =>
      a.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("op", s.op).put("start_ms", (s.startNs - t0) / 1e6)
        .put("end_ms", (s.endNs - t0) / 1e6).put("self_ms", selfMs(s))
        .put("probe", s.probe)
    }
    a
  }
}
