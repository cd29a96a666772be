package graft.operators

import graft.SparkTestBase

/** [[SimilaritySearch.semDeDup]]: cluster-bounded semantic dedup
  * (SemDeDup). Planted geometry pins the whole decision chain: k-means
  * cell assignment, within-cell >= threshold pairs, transitive component
  * merge, min-id canonical, singleton keep.
  */
class SemDeDupSpec extends SparkTestBase {
  import spark.implicits._

  // Two well-separated groups, seeds (ids 0, 1) one per group, so k = 2
  // integer k-means splits them deterministically:
  //   cell X (x-axis): 0 seed; 2 = near-copy of 0 (cos ~0.99995);
  //                    3 at cos 0.9 to 0 — below the 0.95 floor
  //   cell Y (y-axis): 1 seed; 4 at 14 deg (cos(1,4) ~0.970);
  //                    5 at 28 deg — cos(5,4) ~0.970 ABOVE the floor but
  //                    cos(5,1) ~0.883 BELOW it: only transitivity links
  //                    5 to 1
  private val vecs = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0f, 1f, 0f, 0f)),
    (2L, Array(0.999f, 0.01f, 0f, 0f)),
    (3L, Array(0.9f, 0.43589f, 0f, 0f)),
    (4L, Array(0f, 0.9703f, 0.2419f, 0f)),
    (5L, Array(0f, 0.8829f, 0.4695f, 0f))
  ).toDF("vec_id", "embedding")

  private def run(df: org.apache.spark.sql.DataFrame) =
    SimilaritySearch.semDeDup(df, "vec_id", "embedding",
        k = 2, iterations = 2, minCosine = 0.95)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1)

  test("keeps min-id canonicals, drops semantic dups, keeps singletons") {
    val out = run(vecs)
    assert(out.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val kept = out.filter(_._4 == 1).map(_._1).toSet
    assert(kept === Set(0L, 1L, 3L))
    // canonical of every dropped doc is its component's min id
    assert(out.find(_._1 == 2L).get._3 === 0L)
    assert(out.find(_._1 == 4L).get._3 === 1L)
  }

  test("transitivity merges sub-threshold-to-canonical chains") {
    // cos(5, 1) ~0.883 < 0.95, yet 5 must still collapse into 1's
    // component through the 5~4~1 chain
    val out = run(vecs)
    val r5 = out.find(_._1 == 5L).get
    assert(r5._3 === 1L && r5._4 === 0)
  }

  test("kept flag is exactly rep_id == id") {
    assert(run(vecs).forall(r => (r._4 == 1) == (r._3 == r._1)))
  }

  test("cells split on the planted groups") {
    val out = run(vecs)
    val cellOf = out.map(r => r._1 -> r._2).toMap
    // group X shares one cell, group Y the other, and they differ
    assert(Set(cellOf(0L), cellOf(2L), cellOf(3L)).size === 1)
    assert(Set(cellOf(1L), cellOf(4L), cellOf(5L)).size === 1)
    assert(cellOf(0L) !== cellOf(1L))
  }

  test("output is invariant to input partitioning") {
    assert(run(vecs.repartition(7)).toSeq === run(vecs).toSeq)
  }

  test("semDeDupAuto: the sqrt(n) dial equals the same explicit k, and n can be pre-supplied") {
    // 200 vectors -> k = ceil(sqrt(200)) = 15; the dial changes only
    // performance, so the output must equal semDeDup at that explicit k
    val many = (0L until 200L).map { i =>
      val base = (i % 40).toFloat
      (i, Array(base + 1f, (i % 7).toFloat, 1f, 0.5f))
    }.toDF("vec_id", "embedding")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(_.toString).toSeq
    val auto = SimilaritySearch.semDeDupAuto(many, "vec_id", "embedding",
      iterations = 2, minCosine = 0.98)
    val explicit = SimilaritySearch.semDeDup(many, "vec_id", "embedding",
      k = 15, iterations = 2, minCosine = 0.98)
    assert(norm(auto) === norm(explicit))
    // pre-supplied n skips the count and picks the same k
    val supplied = SimilaritySearch.semDeDupAuto(many, "vec_id", "embedding",
      iterations = 2, minCosine = 0.98, n = 200L)
    assert(norm(supplied) === norm(explicit))
    // tiny corpora stay at the kMin floor
    val tiny = SimilaritySearch.semDeDupAuto(vecs, "vec_id", "embedding",
      iterations = 2, minCosine = 0.95, kMin = 2)
    assert(norm(tiny) === norm(SimilaritySearch.semDeDup(vecs, "vec_id",
      "embedding", k = 3, iterations = 2, minCosine = 0.95)))
  }
}
