package graft.operators

import graft.SparkTestBase

/** Heavy-hitter guarantees: exact output, partitioning-independence (the
  * Misra-Gries stage must never cost a true heavy hitter), bounded
  * candidate shuffle.
  */
class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  // 1000 rows: "hot" 300x, "warm" 120x, "edge" exactly 100x (= theta
  // boundary at 0.1), 480 singleton-ish cold keys
  private def skewed = {
    val rows = Seq.fill(300)("hot") ++ Seq.fill(120)("warm") ++
      Seq.fill(100)("edge") ++ (0 until 480).map(i => s"cold_$i")
    rows.toDF("k")
  }

  private def expected = Set(("hot", 300L, 0.3), ("warm", 120L, 0.12),
    ("edge", 100L, 0.1))

  test("finds exactly the keys at or above the threshold, with exact counts") {
    val got = HeavyHitters.heavyHitters(skewed, "k", theta = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, s"got $got")
  }

  test("answer is identical under adversarial partitionings") {
    for (nPart <- Seq(1, 3, 17, 64)) {
      val got = HeavyHitters
        .heavyHitters(skewed.repartition(nPart), "k", theta = 0.1)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, s"partitioning $nPart changed the answer: $got")
    }
    // sorted placement concentrates each key in one partition — the
    // other pigeonhole extreme
    val sorted = HeavyHitters
      .heavyHitters(skewed.orderBy("k"), "k", theta = 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(sorted == expected)
  }

  test("null keys are ignored, not counted or returned") {
    val withNulls = skewed.unionByName(
      Seq.fill(50)(null.asInstanceOf[String]).toDF("k"))
    val got = HeavyHitters.heavyHitters(withNulls, "k", theta = 0.1)
      .collect().map(_.getString(0)).toSet
    // N grows to 1050, so "edge" (100/1050 < 0.1) falls out — nulls
    // count toward N is NOT the semantic; they are dropped entirely
    assert(got == Set("hot", "warm", "edge"), s"got $got")
  }

  test("theta=1 returns only an all-rows key") {
    val uni = Seq.fill(10)("only").toDF("k")
    val got = HeavyHitters.heavyHitters(uni, "k", theta = 1.0).collect()
    assert(got.length == 1 && got.head.getString(0) == "only")
    assert(HeavyHitters.heavyHitters(skewed, "k", theta = 1.0).count() == 0)
  }
}
