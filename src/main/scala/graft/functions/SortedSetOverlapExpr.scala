package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for set overlap counts over two SORTED,
  * DISTINCT string arrays: returns `struct<n_intersect int, n_union int>`
  * in one O(|a|+|b|) merge pass, with whole-stage codegen.
  *
  * Why a custom Expression: the candidate-pair verify of every MinHash
  * tier (`size(array_intersect(a,b)) / size(array_union(a,b))`) is the
  * CPU-dominant inner loop of near-dup dedup at corpus scale, and Spark's
  * ArrayIntersect/ArrayUnion build an SQLOpenHashSet PER PAIR in
  * interpreted eval (profiled on the q65 pipeline: the hash-set builds and
  * megamorphic lambda calls are a top executor stack). On inputs that are
  * already sorted and deduplicated — which the shingle sets are, once per
  * DOCUMENT, not once per pair — the same counts fall out of a single
  * sorted merge with zero allocation.
  *
  * PRECONDITION: both arrays must be sorted ascending in UTF8String binary
  * order with no duplicates and no null elements (what
  * `array_sort(array_distinct(...))` produces). On such inputs the result
  * is exactly `(size(array_intersect(a,b)), size(array_union(a,b)))`;
  * unsorted input silently undercounts — every call site goes through
  * [[graft.operators.Dedup.sigDocs]]-style sorted-distinct set builders,
  * and PropertySpec fuzzes the equivalence.
  */
case class SortedSetOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = SortedSetOverlap.outType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(StringType, _) => true
      case NullType => true // bare NULL literal; null-propagation applies
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sorted_set_overlap expects array<string> inputs, " +
          s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedSetOverlap.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // one static call keeps the operator inside WholeStageCodegen; the
    // merge loop itself is monomorphic JIT-compiled Scala
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"${ev.value} = graft.functions.SortedSetOverlap.compute($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedSetOverlap =
    copy(left = newLeft, right = newRight)
}

object SortedSetOverlap {
  private[graft] val outType: StructType = StructType(Seq(
    StructField("n_intersect", IntegerType, nullable = false),
    StructField("n_union", IntegerType, nullable = false)))

  /** Sorted-merge overlap counts; called from generated code. */
  def compute(a: ArrayData, b: ArrayData): InternalRow = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    var union = 0
    while (i < n && j < m) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { inter += 1; union += 1; i += 1; j += 1 }
      else if (cmp < 0) { union += 1; i += 1 }
      else { union += 1; j += 1 }
    }
    union += (n - i) + (m - j)
    InternalRow(inter, union)
  }

  /** Column-level entry point: a call of the session's `sorted_set_overlap`
    * ([[NativeFunctions]]), because Spark 4 keeps Expression→Column
    * construction internal.
    */
  def overlapFast(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sorted_set_overlap", a, b)

  /** Jaccard similarity from the overlap counts — bit-identical to
    * `size(array_intersect)/size(array_union)` double division on
    * sorted-distinct inputs (both-empty inputs yield 0/0 = NaN, as the
    * built-in formulation does; every caller filters empty sets upstream).
    */
  def jaccardFast(a: Column, b: Column): Column =
    TextFunctions.bindOnce(overlapFast(a, b)) { ov =>
      ov.getField("n_intersect").cast("double") /
        ov.getField("n_union").cast("double")
    }
}
