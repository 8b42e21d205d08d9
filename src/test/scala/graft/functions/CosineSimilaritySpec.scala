package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Tables

class CosineSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("codegen expression is bit-identical to the HOF formulation") {
    val emb = Tables(spark, Sf0001).embeddings
    val q = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val qArr = array(q.map(lit): _*)
    val both = emb.select(
      col("vec_id"),
      VectorFunctions.cosine(col("embedding"), qArr).as("hof"),
      CosineSimilarity.cosineFast(col("embedding"), qArr).as("gen"))
    val diff = both.where(col("hof") =!= col("gen")).count()
    assert(diff == 0, "every row must match bitwise")
  }

  test("registered SQL function works and null-propagates") {
    Seq((Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("a", "b").createOrReplaceTempView("v")
    try {
      val orth = spark.sql("SELECT cosine_similarity(a, b) AS c FROM v").head().getDouble(0)
      assert(orth == 0.0)
      val n = spark.sql("SELECT cosine_similarity(NULL, b) AS c FROM v").head()
      assert(n.isNullAt(0))
    } finally spark.catalog.dropTempView("v")
  }

  test("interpreted eval path matches codegen (mixed float/double arrays)") {
    val expr = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0f, 2.0f, 3.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.0, 2.0, 3.0),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
    val v = expr.eval(null).asInstanceOf[Double]
    assert(math.abs(v - 1.0) < 1e-12)
  }

  test("native hyperplane signature is bit-identical to the HOF formulation") {
    val emb = Tables(spark, Sf0001).embeddings
    val both = emb.select(
      VectorFunctions.hyperplaneSignature(col("embedding"), 16).as("hof"),
      HyperplaneSignatureExpr.hyperplaneFast(col("embedding"), 16).as("gen"))
    assert(both.where(col("hof") =!= col("gen")).count() == 0)
  }

  test("type check rejects non-array inputs") {
    val bad = CosineSimilarity(
      org.apache.spark.sql.catalyst.expressions.Literal(1),
      org.apache.spark.sql.catalyst.expressions.Literal(2))
    assert(bad.checkInputDataTypes().isFailure)
  }
}
