package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** Bloom-filter sizing and the shared double-hashing probe scheme.
  *
  * The filter is a plain bit array probed at `k` positions per key via
  * Kirsch–Mitzenmacher double hashing over a splitmix64-finalized 64-bit
  * key: `bit_i = (h1 + i·h2) mod m`. Build ([[BloomBuildLong]]) and probe
  * ([[BloomMightContain]]) share [[BloomParams.bitOf]], so a value added on
  * any executor is found by any prober — no false negatives by
  * construction; false positives at the configured rate.
  *
  * Scale rationale (the reason this exists next to the plain anti-join in
  * `Dedup.exactIncrement`): in a daily-ingest dedup the delta is ≪ corpus,
  * so a filter sized to the DELTA (~1.2 MB per million keys at 1% fpp)
  * broadcasts to every corpus task and the 100 TB corpus is filtered
  * MAP-SIDE at the scan — the corpus never shuffles; only the
  * delta-sized survivor set (true hits + fpp·|corpus|) moves. Building the
  * filter is itself distributed: per-partition partial bit arrays OR-merge,
  * so no single task sees all delta keys.
  */
object BloomParams {

  /** (numBits, numHashes) for `n` expected keys at false-positive rate
    * `fpp`: the textbook m = −n·ln p / ln²2 rounded up to a whole 64-bit
    * word, k = (m/n)·ln 2. Bits capped at 2^31 − 64 (256 MB — far above any
    * sane broadcast size; callers sizing beyond that should shard the
    * delta instead).
    */
  def size(n: Long, fpp: Double): (Int, Int) = {
    require(n > 0, s"expected key count must be positive, got $n")
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    val ln2 = math.log(2.0)
    val mRaw = math.ceil(-n * math.log(fpp) / (ln2 * ln2)).toLong
    val m = math.min(((mRaw + 63L) / 64L) * 64L, (Int.MaxValue.toLong / 64L) * 64L)
    // clamp k to BloomBuildLong's [1, 32] contract: word-alignment can push
    // m/n far above the textbook ratio for tiny n (n = 1 gives m = 64 and a
    // raw k of 44 — which would trip the aggregate's own require and crash
    // a one-document delta). The clamp only binds when m/n ≥ 32/ln2 ≈ 46
    // bits per key, where even k = 32 keeps the false-positive rate
    // (1 − e^(−kn/m))^k orders of magnitude below any requestable fpp —
    // and correctness is unaffected either way (membership stays exact;
    // only the false-positive rate moves).
    val k = math.min(32, math.max(1, math.round(m.toDouble / n.toDouble * ln2).toInt))
    (m.toInt, k)
  }

  /** splitmix64 finalizer: uniformizes raw keys (sequential ids, truncated
    * hashes) before the double-hash probe derivation.
    */
  def mix(v: Long): Long = {
    var z = v + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The i-th probe bit of key `v` in an m-bit filter. `h2` forced odd so
    * the probe sequence cycles through distinct positions.
    */
  def bitOf(v: Long, i: Int, numBits: Int): Long = {
    val h1 = mix(v)
    val h2 = mix(java.lang.Long.rotateLeft(v, 32)) | 1L
    Math.floorMod(h1 + i.toLong * h2, numBits.toLong)
  }

  def setBit(words: Array[Long], bit: Long): Unit =
    words((bit >>> 6).toInt) |= (1L << (bit & 63L))

  def getBit(words: Array[Long], bit: Long): Boolean =
    (words((bit >>> 6).toInt) & (1L << (bit & 63L))) != 0L

  /** Serialized layout: [int numBits][int numHashes][long × numBits/64]. */
  def serialize(numBits: Int, numHashes: Int, words: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * words.length)
    bb.putInt(numBits)
    bb.putInt(numHashes)
    words.foreach(bb.putLong)
    bb.array()
  }

  /** (numBits, numHashes, words) of a serialized filter. */
  def deserialize(bytes: Array[Byte]): (Int, Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val numBits = bb.getInt()
    val numHashes = bb.getInt()
    val words = new Array[Long](numBits >>> 6)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    (numBits, numHashes, words)
  }
}

/** Distributed Bloom-filter build over a BIGINT key column: each partial
  * (map-side) buffer is the partition's bit array, merge is bitwise OR, the
  * final value is the serialized filter (BINARY). One tiny shuffle of
  * numBits/8-byte partials — the keys themselves never leave their
  * partitions.
  */
case class BloomBuildLong(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  require(numBits >= 64 && numBits % 64 == 0,
    s"numBits must be a positive multiple of 64, got $numBits")
  require(numHashes >= 1 && numHashes <= 32,
    s"numHashes must be in [1,32], got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_build_long requires a BIGINT key column, got ${child.dataType.simpleString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](numBits >>> 6)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        BloomParams.setBit(b, BloomParams.bitOf(key, i, numBits))
        i += 1
      }
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) |= o(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any =
    BloomParams.serialize(numBits, numHashes, b)

  override def serialize(b: Array[Long]): Array[Byte] =
    BloomParams.serialize(numBits, numHashes, b)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomParams.deserialize(bytes)._3

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_build_long"

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuildLong =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuildLong =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BloomBuildLong =
    copy(child = newChild)
}

/** Map-side membership probe: `bloom_might_contain(filterBytes, key)`.
  *
  * The filter side must be FOLDABLE (a literal of the built filter's
  * bytes): it is parsed ONCE per executor into the bit-word array, and each
  * row pays only the k double-hash probes — the expression stays inside
  * WholeStageCodegen via a reference-object call, so a corpus scan filtered
  * by it is one codegen'd map stage with no shuffle.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires a BINARY filter, got ${left.dataType.simpleString}")
    else if (!left.foldable)
      TypeCheckResult.TypeCheckFailure(
        "bloom_might_contain requires a foldable (literal) filter — build it first, then inline the bytes")
    else if (right.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain requires a BIGINT key, got ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val parsed: (Int, Int, Array[Long]) =
    BloomParams.deserialize(left.eval(null).asInstanceOf[Array[Byte]])

  /** Row-level probe entry point shared by eval and generated code. */
  def probe(key: Long): Boolean = {
    val (numBits, numHashes, words) = parsed
    var i = 0
    while (i < numHashes) {
      if (!BloomParams.getBit(words, BloomParams.bitOf(key, i, numBits))) return false
      i += 1
    }
    true
  }

  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(bloom: Any, key: Any): Any = probe(key.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this, classOf[BloomMightContain].getName)
    nullSafeCodeGen(ctx, ev, (_, key) => s"${ev.value} = $ref.probe($key);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomFilterAgg {

  /** Serialized Bloom filter (BINARY) over the group's Long keys. */
  def bloomBuild(key: Column, numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "bloom_build_long", key,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(numHashes))

  /** Membership probe of `key` against a BUILT filter's bytes. */
  def bloomProbe(bloom: Array[Byte], key: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "bloom_might_contain",
      org.apache.spark.sql.functions.lit(bloom), key)
}
