package graft.operators

import graft.SparkTestBase
import graft.functions.VectorReference
import org.apache.spark.sql.functions._

/** [[SimilaritySearch.semanticFlaggedPairs]]: embedding-space benchmark
  * decontamination. Planted geometry (unit-ish vectors, controlled
  * perturbations) fixes which pairs must flag; the plan must broadcast
  * the benchmark and never shuffle the corpus.
  */
class SemanticDecontamSpec extends SparkTestBase {
  import spark.implicits._

  // 4-dim unit vectors: corpus 0..3 along distinct axes, plus 4 = a copy
  // of 0 rotated slightly (cos ~0.98 with 0's bench twin).
  private val corpus = Seq(
    (0L, Array(1f, 0f, 0f, 0f)),
    (1L, Array(0f, 1f, 0f, 0f)),
    (2L, Array(0f, 0f, 1f, 0f)),
    (3L, Array(0f, 0f, 0f, 1f)),
    (4L, Array(0.995f, 0.0998f, 0f, 0f))
  ).toDF("vec_id", "embedding")

  // benchmark: an exact copy of vector 0 and an orthogonal-ish probe that
  // matches nothing at the 0.9 floor
  private val bench = Seq(
    (100L, Array(1f, 0f, 0f, 0f)),
    (101L, Array(0.7071f, 0f, 0.7071f, 0f))
  ).toDF("bench_id", "b_emb")

  test("flags exactly the >= floor pairs, including near-copies") {
    val pairs = SimilaritySearch.semanticFlaggedPairs(
        corpus, "vec_id", "embedding", bench, "bench_id", "b_emb",
        minCosine = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0 is verbatim (cos 1.0), 4 is a light rotation (cos ~0.995); the
    // 45-degree probe (cos ~0.707 to both 0 and 2) flags nothing
    assert(pairs === Set((0L, 100L), (4L, 100L)))
  }

  test("matches the declarative HOF cosine on the same floor") {
    val brute = corpus.crossJoin(bench)
      .withColumn("c", VectorReference.cosine("embedding", "b_emb"))
      .filter(round(col("c"), 6) >= 0.9)
      .select("vec_id", "bench_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = SimilaritySearch.semanticFlaggedPairs(
        corpus, "vec_id", "embedding", bench, "bench_id", "b_emb", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast === brute)
  }

  test("the benchmark side broadcasts; the corpus pays only its input spread") {
    // r17: the corpus side is hash-SPREAD before the scoring kernel
    // (parallelism on few-split scans) — that one thin pre-kernel
    // exchange is allowed; the benchmark side must still broadcast and
    // nothing downstream of the join may shuffle (the pair output is
    // never exchanged here).
    val p = SimilaritySearch.semanticFlaggedPairs(
        corpus, "vec_id", "embedding", bench, "bench_id", "b_emb", 0.9)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // r17 ADVICE: the one allowed exchange must BE the corpus input
    // spread (hash on the operator's internal corpus id column), not
    // just any single exchange
    val eh = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(eh <= 1, p)
    if (eh == 1) assert(p.contains("Exchange hashpartitioning(id#"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }
}
