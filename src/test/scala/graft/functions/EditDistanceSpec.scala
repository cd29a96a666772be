package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The banded thresholded kernel must agree with the full-DP
  * `levenshtein(a, b) <= k` everywhere — including pairs engineered to
  * stress the band edges — honor nulls, and agree between interpreted and
  * codegen evaluation (the batched SQL path below runs codegen; the
  * driver-side kernel calls are the interpreted twin).
  */
class EditDistanceSpec extends SparkTestBase {

  import spark.implicits._

  test("kernel agrees with full-DP levenshtein over an adversarial corpus") {
    // small alphabet + varied lengths manufactures near-misses at every
    // distance; deterministic LCG so the corpus is reproducible
    var state = 12345L
    def nextInt(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      (((state >>> 33) % bound).toInt + bound) % bound
    }
    def word(): String =
      (0 until nextInt(12)).map(_ => ('a' + nextInt(3)).toChar).mkString
    val pairs = (1 to 400).map(_ => (word(), word()))
    val df = pairs.toDF("a", "b")
    for (k <- Seq(0, 1, 2, 3)) {
      val rows = df.selectExpr(s"lev_within(a, b, $k) AS got",
          s"levenshtein(a, b) <= $k AS want", "a", "b")
        .collect()
      rows.foreach { r =>
        assert(r.getBoolean(0) == r.getBoolean(1),
          s"k=$k mismatch on ('${r.getString(2)}', '${r.getString(3)}')")
      }
    }
  }

  test("edge cases: empties, equality, length gap beyond k, nulls") {
    val r = spark.sql(
      """SELECT
        |  lev_within('', '', 0), lev_within('', 'abc', 2),
        |  lev_within('', 'abc', 3), lev_within('same', 'same', 0),
        |  lev_within('abcdef', 'abc', 2), lev_within('kitten', 'sitting', 3),
        |  lev_within('kitten', 'sitting', 2),
        |  lev_within(CAST(NULL AS STRING), 'x', 1)
        |""".stripMargin).head()
    assert(r.getBoolean(0))      // "" vs "" at k=0
    assert(!r.getBoolean(1))     // length gap 3 > 2
    assert(r.getBoolean(2))      // 3 inserts at k=3
    assert(r.getBoolean(3))      // identity at k=0
    assert(!r.getBoolean(4))     // gap 3 > 2
    assert(r.getBoolean(5))      // classic distance-3 pair
    assert(!r.getBoolean(6))
    assert(r.isNullAt(7))        // null in -> null out
  }

  test("fuzzyJoin over the banded kernel matches the full-DP join") {
    val df = Seq(
      (1L, "Customer#0001"), (2L, "Customer#0002"), (3L, "Customer#0003"),
      (4L, "Customer#0012"), (5L, "Customen#0001"), (6L, "Wholly#Other")
    ).toDF("id", "name")
    val got = graft.operators.Joins.fuzzyJoin(df, "id", "name",
        blockLen = 9, maxDist = 1)
      .select("id_a", "id_b", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = df.select(col("id"), col("name"),
      substring(col("name"), 1, 9).as("blk"))
    val want = b.as("x").join(b.as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id") &&
          levenshtein(col("x.name"), col("y.name")) <= 1)
      .select(col("x.id"), col("y.id"),
        levenshtein(col("x.name"), col("y.name")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want && got.nonEmpty, s"got $got, want $want")
  }
}
