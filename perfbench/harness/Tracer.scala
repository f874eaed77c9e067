package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects spans and counters for the traced run from outside the
  * program: a [[SparkListener]] for jobs, stages and task metrics, a
  * [[QueryExecutionListener]] for every QueryExecution's planning-tracker
  * phases, and the JVM-wide codegen counters. Everything is kept in
  * memory; [[opDone]] turns one operation's events into its span tree and
  * layer totals.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phase]()
  private val openJobs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      openJobs.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Option(openJobs.remove(e.jobId)).map(_.longValue).getOrElse(e.time)
      jobs.add(Job(e.jobId, start, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.add(Stage(i.stageId, s, c))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      if (m == null) tasks.add(Task(e.taskInfo.finishTime, failed, 0, 0, 0, 0, 0, 0, 0, 0))
      else tasks.add(Task(e.taskInfo.finishTime, failed,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until every queued listener event has been delivered. Spark
    * posts a job's end event before its action returns, so after this
    * the buffers hold every event of the operations run so far. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = classOf[SparkContext].getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def counters(): Counters = Counters(
    CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    WholeStageCodegenExec.codeGenTime)

  /** Removes and returns the events of `q` that start inside `op`;
    * events before it (the untimed checks between operations) are
    * dropped, later ones kept. */
  private def take[T](q: ConcurrentLinkedQueue[T], op: Span)(time: T => Long): Seq[T] = {
    val (lo, hi) = (math.floor(op.start).toLong, math.ceil(op.end).toLong)
    val all = Iterator.continually(q.poll()).takeWhile(_ != null).toVector
    all.filter(e => time(e) > hi).foreach(q.add)
    all.filter(e => time(e) >= lo && time(e) <= hi)
  }

  /** Span tree and layer totals of the operation that ran from `op.start`
    * to `op.end` (epoch ms). `children` are the harness's own spans
    * (build, execute, read) inside it. */
  def opDone(op: Span, children: Seq[Span], c0: Counters): OpTrace = {
    drain()
    val c1 = counters()
    val js = take(jobs, op)(_.start).sortBy(_.start)
    val ss = take(stages, op)(_.submit).sortBy(_.submit)
    val ts = take(tasks, op)(_.finish)
    val ps = take(phases, op)(_.start)
    val id = op.id
    def parentOf(t: Double): String =
      children.find(c => t >= c.start && t <= c.end).map(_.id).getOrElse(id)
    val jobSpans = js.map(j => Span(s"$id/job${j.id}", parentOf(j.start.toDouble), "job",
      j.start.toDouble, j.end.toDouble))
    val stageSpans = ss.map { s =>
      val parent = jobSpans.find(j => s.submit >= j.start && s.submit <= j.end)
        .map(_.id).getOrElse(parentOf(s.submit.toDouble))
      Span(s"$id/stage${s.id}", parent, "stage", s.submit.toDouble, s.complete.toDouble)
    }
    val phaseSpans = ps.zipWithIndex.map { case (p, k) =>
      Span(s"$id/plan$k", parentOf(p.start.toDouble), p.name, p.start.toDouble, p.end.toDouble)
    }
    val spans = Seq(op) ++ children ++ phaseSpans ++ jobSpans ++ stageSpans
    val buildIds = children.filter(_.name == "build").map(_.id).toSet
    val n = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = n(k) = n.getOrElse(k, 0.0) + v
    add("wall_s", op.dur)
    add("operators.build_s", children.filter(_.name == "build").map(_.dur).sum)
    add("operators.build_jobs", jobSpans.count(j => buildIds(j.parent)))
    for (p <- Seq("analysis", "optimization", "planning"))
      add(s"plans.${p}_s", phaseSpans.filter(_.name == p).map(_.dur).sum)
    add("plans.executions", ps.count(_.name == "analysis"))
    add("codegen.compile_s", (c1.compileNs - c0.compileNs) / 1e9)
    add("codegen.compiles", (c1.compiles - c0.compiles).toDouble)
    add("codegen.gen_s", (c1.genNs - c0.genNs) / 1e9)
    add("scheduler.jobs", js.size)
    add("scheduler.stages", ss.size)
    add("scheduler.tasks", ts.size)
    add("scheduler.failed_tasks", ts.count(_.failed))
    add("executor.task_s", ts.map(_.runMs).sum / 1e3)
    add("executor.cpu_s", ts.map(_.cpuNs).sum / 1e9)
    add("executor.gc_s", ts.map(_.gcMs).sum / 1e3)
    add("executor.shuffle_read_mb", ts.map(_.shuffleRead).sum / MB)
    add("executor.shuffle_write_mb", ts.map(_.shuffleWrite).sum / MB)
    add("executor.fetch_wait_s", ts.map(_.fetchWaitMs).sum / 1e3)
    add("sources.scan_mb", ts.map(_.inputBytes).sum / MB)
    add("sources.write_mb", ts.map(_.outputBytes).sum / MB)
    add("driver.self_s", op.dur - union(jobSpans.map(s => (s.start, s.end)), op) / 1e3)
    // Self time per layer: each instant of the operation goes to the
    // innermost layer active then (stage, then job, then planning phase,
    // then the harness span around the call, then the operation itself).
    val layers = Seq(
      "self.executor_s" -> stageSpans, "self.scheduler_s" -> jobSpans,
      "self.plans_s" -> phaseSpans,
      "self.operators_s" -> children.filter(c => c.name == "build" || c.name == "read"),
      "self.execute_s" -> children.filter(_.name == "execute"))
    var covered = Seq.empty[(Double, Double)]
    layers.foreach { case (k, ss) =>
      val before = union(covered, op)
      covered = covered ++ ss.map(s => (s.start, s.end))
      add(k, (union(covered, op) - before) / 1e3)
    }
    add("self.untraced_s", op.dur - union(covered, op) / 1e3)
    OpTrace(spans, n.toMap)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  private val MB = 1024.0 * 1024.0

  /** A span; times are epoch milliseconds. */
  final case class Span(id: String, parent: String, name: String, start: Double, end: Double) {
    def dur: Double = (end - start) / 1e3
  }
  final case class OpTrace(spans: Seq[Span], layers: Map[String, Double])
  final case class Counters(compileNs: Long, compiles: Long, genNs: Long)
  private final case class Job(id: Int, start: Long, end: Long)
  private final case class Stage(id: Int, submit: Long, complete: Long)
  private final case class Task(finish: Long, failed: Boolean, runMs: Long, cpuNs: Long,
                                gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
                                fetchWaitMs: Long, inputBytes: Long, outputBytes: Long)
  private final case class Phase(name: String, start: Long, end: Long)

  /** Milliseconds of `op` covered by the union of `ivs`. */
  def union(ivs: Seq[(Double, Double)], op: Span): Double = {
    val clipped = ivs.map { case (s, e) => (math.max(s, op.start), math.min(e, op.end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total, curS, curE = 0.0
    var open = false
    clipped.foreach { case (s, e) =>
      if (open && s <= curE) curE = math.max(curE, e)
      else { if (open) total += curE - curS; curS = s; curE = e; open = true }
    }
    if (open) total += curE - curS
    total
  }
}
