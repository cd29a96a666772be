package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Integer PageRank: hand-computed star fixture, mass ordering, and
  * partitioning invariance (long sums are order-independent — THE reason
  * the arithmetic is integer).
  */
class GraphSpec extends SparkTestBase {

  import spark.implicits._

  test("star graph: the hub out-ranks the spokes, values match the hand fold") {
    // hub 0 <-> spokes 1,2,3 (symmetric edges; every node has outdeg >= 1)
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L))
      .toDF("src", "dst")
    val got = Graph.pageRankInt(edges, iterations = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // n=4, scale=1e9: r0 = 250000000 each; base = 3e9/80 = 37500000
    // hub gets 3 spokes' full rank: 37500000 + (17 * 750000000) div 20
    // spoke gets hub's rank div 3:  37500000 + (17 * 83333333)  div 20
    val hub = 37500000L + (17L * (3L * 250000000L)) / 20L
    val spoke = 37500000L + (17L * (250000000L / 3L)) / 20L
    assert(got(0L) == hub, s"hub: got ${got(0L)}, want $hub")
    assert(Seq(1L, 2L, 3L).forall(got(_) == spoke), got.toString)
    assert(got(0L) > got(1L))
  }

  test("ranks are identical under adversarial repartitioning") {
    val pairs = (1L to 300L).map(i => (i % 17, i % 29 + 100))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.pageRankInt(df, iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(run(edges) == run(edges.repartition(13, col("dst"))))
  }

  test("total mass stays near scale (truncation only loses nano-units)") {
    val pairs = (1L to 100L).map(i => (i % 7, i % 11 + 50))
    val edges = (pairs ++ pairs.map(_.swap)).toDF("src", "dst")
    val total = Graph.pageRankInt(edges, iterations = 3)
      .agg(sum("rank")).head().getLong(0)
    assert(total > (Graph.Scale * 95) / 100 && total <= Graph.Scale,
      s"mass $total out of range")
  }

  private def triRows(edges: Seq[(Long, Long)]) =
    Graph.triangleStats(edges.toDF("src", "dst"))
      .orderBy("node").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("triangleStats: hand-folded triangle+pendant and K4") {
    // triangle {1,2,3} with pendant 4 on node 3
    val got = triRows(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)))
    assert(got == Seq(
      (1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0), (3L, 3L, 1L, 0.333333)),
      got.toString)
    // K4: every node in 3 triangles, coefficient 1.0
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val got4 = triRows(k4)
    assert(got4 == (1L to 4L).map(n => (n, 3L, 3L, 1.0)), got4.toString)
  }

  test("triangleStats: duplicate and reversed input edges do not change counts") {
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val noisy = base ++ base.map(_.swap) ++ base // dups + reversals
    assert(triRows(noisy) == triRows(base))
  }

  test("triangleStats matches a driver-side brute count on a random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = canon.flatMap { case (a, b) => Seq(a, b) }
    val brute = nodes.map { n =>
      val nbrs = canon.collect { case (a, b) if a == n => b
                                 case (a, b) if b == n => a }
      val t = nbrs.toSeq.combinations(2).count { case Seq(x, y) =>
        canon.contains((math.min(x, y), math.max(x, y))) }
      n -> t.toLong
    }.toMap.filter(_._2 > 0)
    val got = triRows(edges).map(r => r._1 -> r._3).toMap
    assert(got == brute, s"got $got want $brute")
  }
}
