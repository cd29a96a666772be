package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The native cosine expression must be bit-identical to the declarative
  * HOF formulation on real data, handle nulls per contract, and be callable
  * from SQL after registration.
  */
class CosineSimilaritySpec extends SparkTestBase {

  import spark.implicits._

  test("bit-identical to the zip_with/aggregate formulation on sf0.001") {
    val emb = spark.read.parquet(sfDir("0.001") + "/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
    val both = emb
      .withColumn("q_emb", typedLit(q))
      .withColumn("hof", VectorReference.cosine("embedding", "q_emb"))
      .withColumn("native", VectorExprs.cosineFast("embedding", "q_emb"))
      .select("hof", "native").collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("SQL registration and basic values") {
    val v = spark.sql(
      "SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), array(CAST(0 AS FLOAT), CAST(1 AS FLOAT))) AS c," +
        " cosine_sim(array(CAST(2 AS FLOAT), CAST(0 AS FLOAT)), array(CAST(4 AS FLOAT), CAST(0 AS FLOAT))) AS d")
      .head()
    assert(v.getDouble(0) == 0.0)
    assert(math.abs(v.getDouble(1) - 1.0) < 1e-12)
  }

  test("null contract: null array, null element, mismatched length -> null") {
    val r = spark.sql(
      """SELECT
        |  cosine_sim(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1 AS FLOAT))) AS a,
        |  cosine_sim(array(CAST(NULL AS FLOAT)), array(CAST(1 AS FLOAT))) AS b,
        |  cosine_sim(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS c
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("interpreted eval path agrees with codegen") {
    val a = Seq(0.5f, -1.25f, 3.0f)
    val b = Seq(2.0f, 0.75f, -0.5f)
    val codegen = Seq((a, b)).toDF("x", "y")
      .select(VectorExprs.cosineFast("x", "y")).head().getDouble(0)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val interpreted = CosineSimilarity(
      Literal.create(a, ArrayType(FloatType)),
      Literal.create(b, ArrayType(FloatType)))
      .eval(null).asInstanceOf[Double]
    assert(java.lang.Double.doubleToLongBits(codegen) ==
      java.lang.Double.doubleToLongBits(interpreted))
  }
}
