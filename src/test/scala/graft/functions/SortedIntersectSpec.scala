package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._
/** The sorted-merge intersection count must equal the general
  * array_intersect size on sorted distinct inputs, honor the null
  * contract, and agree between interpreted and codegen evaluation.
  */
class SortedIntersectSpec extends SparkTestBase {

  import spark.implicits._

  test("SQL registration and basic values") {
    val r = spark.sql(
      """SELECT
        |  sorted_long_intersect(array(1L, 3L, 5L), array(2L, 3L, 5L, 9L)) AS a,
        |  sorted_long_intersect(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS b,
        |  sorted_long_intersect(array(-9L, -2L, 7L), array(-2L)) AS c
        |""".stripMargin).head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 0)
    assert(r.getInt(2) == 1)
  }

  test("null contract: null array -> null; null elements skipped") {
    val r = spark.sql(
      """SELECT
        |  sorted_long_intersect(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS a,
        |  sorted_long_intersect(array(CAST(NULL AS BIGINT), 1L), array(1L)) AS b
        |""".stripMargin).head()
    assert(r.isNullAt(0))
    assert(r.getInt(1) == 1)
  }

  test("equals set-intersection size on random sorted distinct sets (1000 cases)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 1000) {
      // overlapping small domains so intersections are actually exercised
      val dom = 1 + rnd.nextInt(200)
      val a = List.fill(rnd.nextInt(120))(rnd.nextInt(dom).toLong - dom / 2).distinct.sorted
      val b = List.fill(rnd.nextInt(120))(rnd.nextInt(dom).toLong - dom / 2).distinct.sorted
      val expected = a.toSet.intersect(b.toSet).size
      // local eval — exercises nullSafeEval
      val e = SortedLongIntersectCount(
        org.apache.spark.sql.catalyst.expressions.Literal.create(a,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(b,
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)))
      assert(e.eval() == expected, s"a=$a b=$b")
    }
  }

  test("codegen path agrees with interpreted on dataframe data") {
    val df = (1 to 500).map { i =>
      val a = (0 until (i % 40)).map(j => (j * 7 + i).toLong).sorted
      val b = (0 until (i % 30)).map(j => (j * 11 + i).toLong).sorted
      (a, b)
    }.toDF("a", "b")
    val rows = df
      .withColumn("fast", expr("sorted_long_intersect(a, b)"))
      .withColumn("general", size(array_intersect(col("a"), col("b"))))
      .select("fast", "general").collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }
}
