package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Cache materialization policy for operators that fan a persisted frame out
  * to multiple consumers inside one downstream action.
  *
  * Two measured pathologies with a plain lazy `persist` (numbers from a
  * stage profile of the LSH pipeline at sf0.1, recorded in PLANS.md):
  *
  *  1. '''Cold-cache stage races.''' AQE plans each shuffle stage of the
  *     consuming job independently, and every stage containing the
  *     still-cold cache inlines the cache's whole subtree instead of
  *     waiting for it — the LSH pair plan carried six InMemoryTableScans of
  *     an unmaterialized persist, recomputing the shingle+signature pass
  *     (and the upstream dedup-window shuffle) once per stage. Eager
  *     materialization costs one cache-fill pass, strictly less than one
  *     duplicated recompute at any scale.
  *
  *  2. '''Oversplit cached partitions.''' A cached post-shuffle frame keeps
  *     `spark.sql.shuffle.partitions` partitions forever — AQE's coalescing
  *     does not reach inside `InMemoryRelation` — so every downstream stage
  *     pays per-task fixed overhead times the partition count. At sf0.1 the
  *     LSH pipeline on a 32-partition cached input burned 7.0
  *     executor-seconds vs 0.85 on the same data in 4 partitions. The fix
  *     is to right-size AFTER materialization, when `InMemoryRelation`
  *     stats are exact: re-persist coalesced toward `targetPartitionBytes`
  *     (64 MB, parquet-block-sized). At 100 TB the computed target exceeds
  *     the current partition count and the re-persist never triggers; at
  *     small scale it collapses micro-tasks.
  *
  * The cached batches are built uncompressed: every engine session turns
  * the in-memory columnar compression off when it is built (see
  * [[GraftSession.settings]]), since these caches are intra-query scratch
  * that [[GraftSession.release]] drops after the query. Nothing here writes
  * the session conf, so concurrent callers on one session do not race.
  */
object Caching {

  private val targetPartitionBytes = 64L << 20

  /** Persist at MEMORY_AND_DISK, materialize immediately, and right-size
    * oversplit cached partitions (see object doc). `coalesce` discards any
    * existing hash partitioning — for a frame whose partitioning downstream
    * joins rely on, use [[eagerHashPartitioned]] instead.
    */
  def eager(df: DataFrame): DataFrame =
    rightSized(df, n => _.coalesce(n))

  /** [[eager]] for a frame that must STAY hash-partitioned on `keys` (e.g.
    * an iterative join's build side): right-sizing re-persists via
    * `repartition(n, keys)` so the cached partitioning survives and
    * downstream key-equi joins still plan no Exchange.
    */
  def eagerHashPartitioned(
      df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column]): DataFrame =
    rightSized(df, n => _.repartition(n, keys: _*))

  private def rightSized(
      df: DataFrame, reshape: Int => DataFrame => DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    // InMemoryRelation stats are exact once materialized
    val bytes = p.queryExecution.optimizedPlan.stats.sizeInBytes
    val parts = p.rdd.getNumPartitions
    val target = math.max(1L, (bytes.toLong + targetPartitionBytes - 1) / targetPartitionBytes)
    if (parts > 2 * target && parts > 4) {
      val c = reshape(math.min(target, Int.MaxValue.toLong).toInt)(p)
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      p.unpersist()
      c
    } else p
  }
}
