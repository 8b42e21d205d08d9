package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables
import graft.operators.Quantize

class QuantizedDotSpec extends SparkSpec {
  import spark.implicits._

  test("codegen expression equals the HOF integer fold on real codes") {
    val emb = Tables(spark, Sf0001).embeddings
    val params = Quantize.collectParams(emb, "embedding")
    val q = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val qLit = array(Quantize.encodeLocal(q, params).map(lit): _*)
    val codes = Quantize.codesCol(col("embedding"), params)
    val both = emb.select(
      col("vec_id"),
      aggregate(zip_with(codes, qLit, (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as("hof"),
      QuantizedDot.quantizedDotFast(codes, qLit).as("gen"))
    assert(both.where(col("hof") =!= col("gen")).count() == 0,
      "every row must match exactly")
  }

  test("registered SQL function works, int arrays accepted, null-propagates") {
    Seq((Seq(1, -2, 3), Seq(4L, 5L, 6L))).toDF("a", "b").createOrReplaceTempView("qd_v")
    try {
      val mixed = spark.sql("SELECT quantized_dot(a, b) AS d FROM qd_v").head().getLong(0)
      assert(mixed == 1L * 4 - 2L * 5 + 3L * 6)
      assert(spark.sql("SELECT quantized_dot(NULL, b) AS d FROM qd_v").head().isNullAt(0))
    } finally spark.catalog.dropTempView("qd_v")
  }

  test("interpreted eval matches hand arithmetic; type check rejects floats") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, FloatType}
    val expr = QuantizedDot(
      Literal.create(Seq(127, -128, 1), ArrayType(IntegerType)),
      Literal.create(Seq(2L, 3L, 4L), ArrayType(LongType)))
    assert(expr.eval(null).asInstanceOf[Long] == 127L * 2 - 128L * 3 + 4L)
    val bad = QuantizedDot(
      Literal.create(Seq(1.0f), ArrayType(FloatType)),
      Literal.create(Seq(1L), ArrayType(LongType)))
    assert(bad.checkInputDataTypes().isFailure)
  }

  test("dimension mismatch and element nulls yield NULL, not a truncated score") {
    // interpreted path
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, IntegerType}
    val mismatch = QuantizedDot(
      Literal.create(Seq(1, 2, 3), ArrayType(IntegerType)),
      Literal.create(Seq(1, 2), ArrayType(IntegerType)))
    assert(mismatch.eval(null) == null, "length mismatch must be NULL")
    val elemNull = QuantizedDot(
      Literal.create(Seq[java.lang.Integer](1, null, 3), ArrayType(IntegerType, true)),
      Literal.create(Seq[java.lang.Integer](1, 2, 3), ArrayType(IntegerType, true)))
    assert(elemNull.eval(null) == null, "element null must be NULL")
    // codegen path through SQL on a real DataFrame
    val rows = spark.sql(
      """SELECT quantized_dot(array(1, 2, 3), array(1, 2)) AS mis,
        |       quantized_dot(array(1, CAST(NULL AS INT), 3), array(1, 2, 3)) AS en,
        |       quantized_dot(array(1, 2, 3), array(1, 2, 3)) AS ok""".stripMargin).head()
    assert(rows.isNullAt(0) && rows.isNullAt(1) && rows.getLong(2) == 14L)
  }
}
