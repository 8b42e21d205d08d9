package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. Spans of one op share `op`; `parent` names the
  * kind of span that caused this one (op → build/action → sql → phase, and
  * op → job). Times are epoch milliseconds.
  */
final case class Span(op: Int, kind: String, name: String, parent: String, startMs: Long, endMs: Long)

/** Everything the listeners saw between two drains of the listener bus. */
final class Captured {
  val queries = mutable.ArrayBuffer.empty[QueryExecution]
  var executions = 0
  val jobStart = mutable.LinkedHashMap.empty[Int, Long]
  val jobEnd = mutable.Map.empty[Int, Long]
  val stageJob = mutable.Map.empty[Int, Int]
  var stages = 0
  val taskIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var batches = 0
  var triggerMs = 0L
  var walMs = 0L
  var streamPlanMs = 0L
}

/** Spark's public listeners, registered from the benchmark: query-execution
  * phases (`qe.tracker`), jobs/stages/tasks, and streaming progress. Events
  * arrive on listener-bus threads; the benchmark drains the bus after each op
  * and takes what was captured.
  */
final class Listeners extends SparkListener {
  private var cur = new Captured

  def take(): Captured = synchronized { val c = cur; cur = new Captured; c }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = Listeners.this.synchronized {
    cur.executions += 1
    cur.queries += qe
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        val d = event.progress.durationMs.asScala
        def ms(k: String): Long = d.get(k).map(_.longValue).getOrElse(0L)
        cur.batches += 1
        cur.triggerMs += ms("triggerExecution")
        cur.walMs += ms("walCommit")
        cur.streamPlanMs += ms("queryPlanning")
      }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => cur.stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { cur.jobEnd(e.jobId) = e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val job = cur.stageJob.getOrElse(e.stageId, -1)
    cur.taskIntervals.getOrElseUpdate(job, mutable.ArrayBuffer.empty) +=
      ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

/** Sorted, merged millisecond intervals. */
object Intervals {
  def union(xs: Iterable[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    clipped.foldLeft(List.empty[(Long, Long)]) {
      case ((a0, b0) :: rest, (a, b)) if a <= b0 => (a0, math.max(b0, b)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  def length(xs: Seq[(Long, Long)]): Long = xs.map { case (a, b) => b - a }.sum

  /** Length of `xs` not covered by `cover` (both already merged). */
  def minus(xs: Seq[(Long, Long)], cover: Seq[(Long, Long)]): Long =
    length(xs) - length(xs.flatMap { case (a, b) => union(cover, a, b) })
}

/** Layer split of one traced op, in seconds. `plan`, `codegen`, `jobs` and
  * `untracked` are disjoint shares of `wall`; `reconcileErr` is how far the
  * independently measured parts overshoot the wall (0 when they fit).
  */
final case class OpSplit(
    wall: Double, build: Double, action: Double,
    analysis: Double, optimization: Double, planning: Double, executions: Int,
    plan: Double, codegen: Double, compiles: Long, jobs: Double, untracked: Double,
    reconcileErr: Double,
    jobCount: Int, eagerJobs: Int, stages: Int, tasks: Long,
    firstTaskWait: Double, jobIdle: Double,
    runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, fetchWaitS: Double, spillMb: Double,
    batches: Int, triggerS: Double, walS: Double, streamPlanS: Double)

/** The traced side of an op: codegen counters around it and the span/split
  * built from the listeners' capture once the bus has drained.
  */
final class Tracer {
  val listeners = new Listeners
  val spans = mutable.ArrayBuffer.empty[Span]
  private val frames = mutable.ArrayBuffer.empty[QueryExecution]
  private var compileNs0 = 0L
  private var compiles0 = 0L

  def begin(): Unit = {
    listeners.take() // drop anything from before the op
    frames.clear()
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  /** The query execution of the frame an op returns. A frame is analyzed
    * while it is built, in its own `QueryExecution`; the listener only sees
    * the later write command, whose child plan is already analyzed, so the
    * frame's own phases are taken from here.
    */
  def frame(qe: QueryExecution): Unit = frames += qe

  /** Build the op's spans and split. Call after the bus is drained. */
  def end(opId: Int, name: String, startMs: Long, buildEndMs: Long, endMs: Long,
      wall: Double, build: Double, action: Double): OpSplit = {
    val compileNs = CodeGenerator.compileTime - compileNs0
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val c = listeners.take()
    val qes = (frames ++ c.queries).foldLeft(List.empty[QueryExecution]) {
      case (acc, qe) => if (acc.exists(_ eq qe)) acc else qe :: acc
    }
    val phases = qes.reverse.flatMap(_.tracker.phases.map { case (p, t) => (p, t.startTimeMs, t.endTimeMs) })
    frames.clear()
    spans += Span(opId, "op", name, "", startMs, endMs)
    spans += Span(opId, "build", name, "op", startMs, buildEndMs)
    spans += Span(opId, "action", name, "op", buildEndMs, endMs)
    phases.foreach { case (p, a, b) => spans += Span(opId, "phase", p, "sql", a, b) }
    val jobIvs = c.jobStart.toSeq.map { case (j, s) => (j, s, c.jobEnd.getOrElse(j, endMs)) }
    jobIvs.foreach { case (j, a, b) => spans += Span(opId, "job", s"job-$j", "op", a, b) }
    val jobUnion = Intervals.union(jobIvs.map { case (_, a, b) => (a, b) }, startMs, endMs)
    val planUnion = Intervals.union(phases.map { case (_, a, b) => (a, b) }, startMs, endMs)
    val wallMs = wall * 1000
    val jobsMs = Intervals.length(jobUnion).toDouble
    val planMs = Intervals.minus(planUnion, jobUnion).toDouble
    val compileMs = compileNs / 1e6
    val covered = jobsMs + planMs + compileMs
    val codegenMs = math.min(compileMs, math.max(0.0, wallMs - jobsMs - planMs))
    val untrackedMs = math.max(0.0, wallMs - jobsMs - planMs - codegenMs)
    def phase(p: String) = phases.filter(_._1 == p).map { case (_, a, b) => b - a }.sum / 1000.0
    val firstWait = jobIvs.map { case (j, a, _) =>
      c.taskIntervals.get(j).filter(_.nonEmpty).map(ts => math.max(0L, ts.map(_._1).min - a)).getOrElse(0L)
    }.sum
    val idle = jobIvs.map { case (j, a, b) =>
      val busy = Intervals.length(Intervals.union(c.taskIntervals.getOrElse(j, Nil), a, b))
      math.max(0L, (b - a) - busy)
    }.sum
    OpSplit(
      wall, build, action,
      phase("analysis"), phase("optimization"), phase("planning"), c.executions,
      planMs / 1000, codegenMs / 1000, compiles, jobsMs / 1000, untrackedMs / 1000,
      math.max(0.0, covered - wallMs) / 1000,
      jobIvs.size, jobIvs.count { case (_, a, _) => a < buildEndMs }, c.stages, c.tasks,
      firstWait / 1000.0, idle / 1000.0,
      c.runMs / 1000.0, c.cpuNs / 1e9, c.gcMs / 1000.0,
      c.shuffleWriteBytes / 1e6, c.shuffleReadBytes / 1e6, c.fetchWaitMs / 1000.0, c.spillBytes / 1e6,
      c.batches, c.triggerMs / 1000.0, c.walMs / 1000.0, c.streamPlanMs / 1000.0)
  }
}
