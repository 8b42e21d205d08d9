package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mutable buffer for [[CollectLongCapped]]: the TRUE group count plus at
  * most `maxKeep` collected values.
  */
final class CappedLongBuffer(var total: Long, val ids: ArrayBuffer[Long])

/** Skew-safe bounded `collect_list` for Long keys: collects at most
  * `maxKeep` values per group while counting the group's TRUE size.
  * Returns `struct(total BIGINT, ids ARRAY<BIGINT>)`.
  *
  * This is the single-shuffle answer to the LSH bucket-cap problem. A plain
  * `collect_list` + `size(...) <= cap` filter materializes a degenerate
  * mega-bucket's FULL id array in one aggregation buffer before the filter
  * can drop it — a skew-OOM at corpus scale (one boilerplate band bucket
  * shared by 10M documents is a multi-GB single buffer). A count-first +
  * semi-join reshape is safe but pays a second aggregation and join pass
  * (measured ~1.5× on the q65 curation pipeline). This aggregate keeps the
  * original one-aggregation plan shape with a buffer bounded at `maxKeep`
  * Longs — callers filter on `total`, and any group whose `total` ≤
  * `maxKeep` has its COMPLETE id list (truncation can only happen to groups
  * the cap filter discards anyway).
  *
  * Buffers stay bounded everywhere the aggregate runs: partial (map-side)
  * buffers, shuffled serialized buffers, and the final merge all carry at
  * most `maxKeep` values + one Long.
  */
case class CollectLongCapped(
    child: Expression,
    maxKeep: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedLongBuffer] with UnaryLike[Expression] {

  require(maxKeep > 0, s"maxKeep must be positive, got $maxKeep")

  // Analysis-time contract: the child must be BIGINT. Without this, a
  // string-typed column reaches update()'s asInstanceOf[Long] and fails as
  // a ClassCastException at executor time; with it, anything else is a
  // clean analysis error at plan time. (ExpectsInputTypes would be the
  // idiomatic spelling, but its Seq[AbstractDataType] signature is
  // private[sql] in Spark 4.)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"collect_long_capped requires a BIGINT column, got ${child.dataType.simpleString}; cast the id to long")

  override def createAggregationBuffer(): CappedLongBuffer =
    new CappedLongBuffer(0L, ArrayBuffer.empty[Long])

  override def update(b: CappedLongBuffer, input: InternalRow): CappedLongBuffer = {
    val v = child.eval(input)
    if (v != null) {
      b.total += 1L
      if (b.ids.length < maxKeep) b.ids += v.asInstanceOf[Long]
    }
    b
  }

  override def merge(b: CappedLongBuffer, o: CappedLongBuffer): CappedLongBuffer = {
    b.total += o.total
    var i = 0
    while (b.ids.length < maxKeep && i < o.ids.length) {
      b.ids += o.ids(i)
      i += 1
    }
    b
  }

  override def eval(b: CappedLongBuffer): Any =
    InternalRow(b.total, new GenericArrayData(b.ids.toArray))

  override def serialize(b: CappedLongBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 4 + 8 * b.ids.length)
    bb.putLong(b.total)
    bb.putInt(b.ids.length)
    b.ids.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedLongBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val total = bb.getLong()
    val n = bb.getInt()
    val ids = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { ids += bb.getLong(); i += 1 }
    new CappedLongBuffer(total, ids)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "collect_long_capped"

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectLongCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectLongCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectLongCapped =
    copy(child = newChild)
}

/** Mutable buffer for [[CollectStringCapped]]: TRUE group count + at most
  * `maxKeep` collected strings.
  */
final class CappedStringBuffer(
    var total: Long,
    val ids: ArrayBuffer[org.apache.spark.unsafe.types.UTF8String])

/** [[CollectLongCapped]] for string keys — the same bounded-buffer,
  * single-shuffle contract over STRING ids (document URLs, content hashes,
  * composite keys), closing the cap-discipline asymmetry where non-Long ids
  * previously fell back to a two-pass count-first + semi-join shape
  * (measured ~1.5× on the q65 pipeline for the Long case).
  */
case class CollectStringCapped(
    child: Expression,
    maxKeep: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedStringBuffer] with UnaryLike[Expression] {

  require(maxKeep > 0, s"maxKeep must be positive, got $maxKeep")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"collect_string_capped requires a STRING column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): CappedStringBuffer =
    new CappedStringBuffer(0L, ArrayBuffer.empty)

  override def update(b: CappedStringBuffer, input: InternalRow): CappedStringBuffer = {
    val v = child.eval(input)
    if (v != null) {
      b.total += 1L
      // clone: the UTF8String handed out by a columnar/unsafe row is a view
      // into a buffer the reader reuses for the next row
      if (b.ids.length < maxKeep)
        b.ids += v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].clone()
    }
    b
  }

  override def merge(b: CappedStringBuffer, o: CappedStringBuffer): CappedStringBuffer = {
    b.total += o.total
    var i = 0
    while (b.ids.length < maxKeep && i < o.ids.length) {
      b.ids += o.ids(i)
      i += 1
    }
    b
  }

  override def eval(b: CappedStringBuffer): Any =
    InternalRow(b.total, new GenericArrayData(b.ids.toArray[Any]))

  override def serialize(b: CappedStringBuffer): Array[Byte] = {
    val payload = b.ids.map(_.getBytes)
    val bb = ByteBuffer.allocate(8 + 4 + payload.map(4 + _.length).sum)
    bb.putLong(b.total)
    bb.putInt(payload.length)
    payload.foreach { p => bb.putInt(p.length); bb.put(p) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedStringBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val total = bb.getLong()
    val n = bb.getInt()
    val ids = new ArrayBuffer[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < n) {
      val p = new Array[Byte](bb.getInt())
      bb.get(p)
      ids += org.apache.spark.unsafe.types.UTF8String.fromBytes(p)
      i += 1
    }
    new CappedStringBuffer(total, ids)
  }

  override def dataType: DataType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("ids", ArrayType(StringType, containsNull = false), nullable = false)))

  override def nullable: Boolean = false
  override def prettyName: String = "collect_string_capped"

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectStringCapped =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectStringCapped =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectStringCapped =
    copy(child = newChild)
}

object CollectStringCapped {
  /** `struct(total, ids)` of the group: true count + at most `maxKeep`
    * collected values of String-typed `c`.
    */
  def collectCapped(c: Column, maxKeep: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "collect_string_capped", c, org.apache.spark.sql.functions.lit(maxKeep))
}

object CollectLongCapped {
  /** `struct(total, ids)` of the group: true count + at most `maxKeep`
    * collected values of Long-typed `c`.
    */
  def collectCapped(c: Column, maxKeep: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "collect_long_capped", c, org.apache.spark.sql.functions.lit(maxKeep))
}
