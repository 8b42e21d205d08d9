package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable buffer for [[MisraGriesFreqItems]]: the TRUE total number of
  * element instances seen, plus a decremented-counter summary of at most
  * ~2×capacity entries (compacted back to ≤ capacity).
  */
final class MgBuffer(var total: Long, val counts: mutable.HashMap[UTF8String, Long])

/** Misra–Gries frequent-items sketch over ARRAY<STRING> rows (the mergeable
  * formulation of Agarwal et al., "Mergeable Summaries", PODS'12): returns
  * `struct(total BIGINT, items ARRAY<STRING>)` where `items` is a SUPERSET of
  * every element whose true corpus frequency exceeds `total / capacity`.
  *
  * This is the bounded-memory answer to corpus-wide frequent-n-gram
  * detection. The exact plan (explode → groupBy gram) shuffles one row per
  * gram INSTANCE — fine at test scale, but a 100 TB corpus has trillions of
  * instances over billions of distinct grams, and the full-width aggregation
  * state is the cost driver. This sketch keeps a fixed `capacity`-entry
  * summary per aggregation buffer: map-side partials, the shuffled serialized
  * form, and the final merge all carry at most ~2×capacity (gram, count)
  * entries, so only KBs reach the single reducer regardless of corpus size.
  * Callers then re-count ONLY the returned candidates exactly (a
  * broadcast-filtered second scan) and apply the frequency threshold to the
  * exact counts — the sketch's one-sided error (counts are never
  * overestimated, underestimated by at most total/(capacity+1)) guarantees no
  * true heavy hitter is missed, and the exact recount discards any false
  * candidate, so the composition is deterministic and oracle-matchable.
  *
  * Update is amortized O(1) per instance: the map grows to 2×capacity, then
  * one O(m log m) compaction subtracts the (capacity+1)-th largest count from
  * every entry and drops the non-positive ones (≥ capacity+1 entries each
  * lose that full value, which is what bounds total underestimation by
  * total/(capacity+1)). Merge is pointwise addition followed by the same
  * compaction, preserving the error bound across partials.
  */
case class MisraGriesFreqItems(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] with UnaryLike[Expression] {

  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"misra_gries_freq_items requires ARRAY<STRING>, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): MgBuffer =
    new MgBuffer(0L, mutable.HashMap.empty)

  override def update(b: MgBuffer, input: InternalRow): MgBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i)
          b.total += 1L
          b.counts.get(s) match {
            case Some(c) => b.counts.update(s, c + 1L)
            case None =>
              // clone: unsafe-row UTF8Strings are views into a reused buffer
              b.counts.update(s.clone(), 1L)
              if (b.counts.size > 2 * capacity) compact(b)
          }
        }
        i += 1
      }
    }
    b
  }

  override def merge(b: MgBuffer, o: MgBuffer): MgBuffer = {
    b.total += o.total
    // keys from `o` are deserialize-owned (never unsafe-row views) — no clone
    o.counts.foreach { case (k, v) =>
      b.counts.update(k, b.counts.getOrElse(k, 0L) + v)
    }
    if (b.counts.size > capacity) compact(b)
    b
  }

  /** Subtract the (capacity+1)-th largest count from every entry and drop the
    * non-positive — at most `capacity` entries can remain (only counts
    * STRICTLY above the pivot survive).
    */
  private def compact(b: MgBuffer): Unit = {
    if (b.counts.size > capacity) {
      val sorted = b.counts.values.toArray
      java.util.Arrays.sort(sorted)
      val pivot = sorted(sorted.length - capacity - 1) // (capacity+1)-th largest
      b.counts.filterInPlace((_, c) => c > pivot)
      b.counts.mapValuesInPlace((_, c) => c - pivot)
    }
  }

  override def eval(b: MgBuffer): Any =
    InternalRow(b.total, new GenericArrayData(b.counts.keys.toArray[Any]))

  override def serialize(b: MgBuffer): Array[Byte] = {
    val payload = b.counts.toSeq.map { case (k, c) => (k.getBytes, c) }
    val bb = ByteBuffer.allocate(8 + 4 + payload.map(12 + _._1.length).sum)
    bb.putLong(b.total)
    bb.putInt(payload.length)
    payload.foreach { case (p, c) => bb.putInt(p.length); bb.put(p); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val total = bb.getLong()
    val n = bb.getInt()
    val counts = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val p = new Array[Byte](bb.getInt())
      bb.get(p)
      counts.update(UTF8String.fromBytes(p), bb.getLong())
      i += 1
    }
    new MgBuffer(total, counts)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("items", ArrayType(StringType, containsNull = false), nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries_freq_items"

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesFreqItems =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesFreqItems =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesFreqItems =
    copy(child = newChild)
}

object MisraGriesFreqItems {
  /** `struct(total, items)` over all rows: true element-instance count + a
    * candidate superset of every element with frequency > total/capacity.
    * `c` must be ARRAY<STRING>.
    */
  def freqItems(c: Column, capacity: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "misra_gries_freq_items", c, org.apache.spark.sql.functions.lit(capacity))
}
