package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two float/double
  * array columns, with whole-stage codegen.
  *
  * Why a custom Expression (SURVEY §7.4 allows none for parity; this is for
  * the ANN extension's hot path): the higher-order-function formulation
  * (`aggregate(zip_with(...))`) allocates a lambda frame per element and is
  * interpreted — on a brute-force scan of N vectors × d dims that's N·d
  * megamorphic calls. This expression compiles to a tight primitive loop
  * inside the generated code (one fused pass computing dot product and both
  * norms), keeping the scan inside WholeStageCodegen.
  *
  * Arithmetic order matches [[VectorFunctions.cosine]] exactly (sequential
  * index-order accumulation of dot, |a|², |b|², then dot/(√·√)), so results
  * are bit-identical to the HOF version and to the DuckDB oracle.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case NullType => true // bare NULL literal; null-propagation applies
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity expects array<float|double> inputs, " +
          s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val arrA = a.asInstanceOf[ArrayData]
    val arrB = b.asInstanceOf[ArrayData]
    val n = math.min(arrA.numElements(), arrB.numElements())
    val leftFloat = elemIsFloat(left)
    val rightFloat = elemIsFloat(right)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) arrA.getFloat(i).toDouble else arrA.getDouble(i)
      val y = if (rightFloat) arrB.getFloat(i).toDouble else arrB.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val getA = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val getB = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.$getA($i);
         |  double $y = (double) $b.$getB($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-level entry point: a call of the session's `cosine_similarity`
    * ([[NativeFunctions]]), because Spark 4 keeps Expression→Column
    * construction internal.
    */
  def cosineFast(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_similarity", a, b)
}
