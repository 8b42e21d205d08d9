package graft.perf

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.graftbus.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Spark-listener metrics collection — the engine-native replacement for the
  * reference's psutil-based measurements (`logs/performance_monitor.py:
  * 184-334`): instead of process CPU/memory, collect the executor-side task
  * metrics Spark already tracks (run time, GC, shuffle bytes, spill).
  *
  * Accumulates in memory; `snapshot()` returns the totals for recording into
  * `logs.performance_metrics` via [[graft.audit.PerformanceMonitor]]. Driver-
  * side only and O(1) per event — safe on any cluster size.
  */
final class MetricsListener extends SparkListener {
  val tasksCompleted = new AtomicLong(0)
  val stagesCompleted = new AtomicLong(0)
  val jobsCompleted = new AtomicLong(0)
  val executorRunTimeMs = new AtomicLong(0)
  // run time is task-thread WALL time (inflated by OS descheduling under
  // host contention); CPU time is actual cycles — the pair discriminates
  // "slow because busy" from "slow because starved"
  val executorCpuTimeMs = new AtomicLong(0)
  val jvmGcTimeMs = new AtomicLong(0)
  val shuffleReadBytes = new AtomicLong(0)
  val shuffleWriteBytes = new AtomicLong(0)
  val memoryBytesSpilled = new AtomicLong(0)
  val recordsRead = new AtomicLong(0)

  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) {
      tasksCompleted.incrementAndGet()
      executorRunTimeMs.addAndGet(m.executorRunTime)
      executorCpuTimeMs.addAndGet(m.executorCpuTime / 1000000L)
      jvmGcTimeMs.addAndGet(m.jvmGCTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memoryBytesSpilled.addAndGet(m.memoryBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    stagesCompleted.incrementAndGet()
  }

  override def onJobEnd(jobEnd: SparkListenerJobEnd): Unit = {
    jobsCompleted.incrementAndGet()
  }

  /** Blocks until the listener bus has delivered every event posted so far,
    * so counters read next include the last wave of task-end events of the
    * work just done, not the next measurement's delta. The ONE settle
    * implementation — every measurement site must use it.
    */
  def settle(sc: SparkContext): Unit = ListenerDrain(sc)

  /** (metric name, value, unit), ready for PerformanceMonitor.recordAll. */
  def snapshot(): Seq[(String, Double, String)] = Seq(
    ("tasks_completed", tasksCompleted.get.toDouble, "count"),
    ("stages_completed", stagesCompleted.get.toDouble, "count"),
    ("jobs_completed", jobsCompleted.get.toDouble, "count"),
    ("executor_run_time", executorRunTimeMs.get / 1000.0, "sec"),
    ("executor_cpu_time", executorCpuTimeMs.get / 1000.0, "sec"),
    ("jvm_gc_time", jvmGcTimeMs.get / 1000.0, "sec"),
    ("shuffle_read", shuffleReadBytes.get.toDouble, "bytes"),
    ("shuffle_write", shuffleWriteBytes.get.toDouble, "bytes"),
    ("memory_spilled", memoryBytesSpilled.get.toDouble, "bytes"),
    ("records_read", recordsRead.get.toDouble, "count"))
}

object MetricsListener {
  /** Attach a fresh listener, run `f`, detach, and record every collected
    * metric through the monitor as one event batch (loan pattern around a
    * workload).
    */
  def measuring[T](
      spark: org.apache.spark.sql.SparkSession,
      monitor: graft.audit.PerformanceMonitor,
      processLogId: Option[Long] = None)(f: => T): T = {
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try f
    finally {
      listener.settle(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      monitor.recordAll(listener.snapshot(), processLogId)
    }
  }
}
