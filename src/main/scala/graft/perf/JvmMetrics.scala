package graft.perf

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** JVM-level counters that executor-task telemetry cannot see: driver-side
  * JIT time, class counts, metaspace/code-cache occupancy. Deltas across a
  * query expose "the suite, not the plan" costs like codegen-class churn. */
object JvmMetrics {
  def snapshot(): Map[String, Long] = {
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val classes = ManagementFactory.getClassLoadingMXBean
    val jit = ManagementFactory.getCompilationMXBean
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def poolUsedMb(prefix: String): Long =
      pools.filter(_.getName.startsWith(prefix)).map(_.getUsage.getUsed).sum / (1024 * 1024)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    Map(
      "heap_mb" -> heap.getUsed / (1024 * 1024),
      "classes_loaded" -> classes.getLoadedClassCount.toLong,
      "classes_total" -> classes.getTotalLoadedClassCount,
      "jit_ms" -> (if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime else -1L),
      "metaspace_mb" -> poolUsedMb("Metaspace"),
      "codecache_mb" -> poolUsedMb("CodeHeap"),
      "gc_total_ms" -> gcMs,
    )
  }
}
