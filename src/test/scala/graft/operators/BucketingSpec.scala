package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** Co-located joins via bucketing: two tables bucketed on the join key must
  * join with NO shuffle exchange — the pre-partitioning lever that replaces
  * per-query shuffles for repeatedly-joined fact tables at scale.
  */
class BucketingSpec extends SparkTestBase {

  test("bucketed tables join without a shuffle exchange") {
    // external-table paths under /tmp; warehouse dir is a static conf and
    // irrelevant when an explicit path is given
    val wh = tempDir("graft-warehouse")
    val li = spark.read.parquet(sfDir("0.001") + "/lineitem.parquet")
    val ord = spark.read.parquet(sfDir("0.001") + "/orders.parquet")

    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$wh/li_bucketed").saveAsTable("li_bucketed")
    ord.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$wh/ord_bucketed").saveAsTable("ord_bucketed")

    // disable broadcast so the join would otherwise be a shuffled SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          spark.table("li_bucketed")("l_orderkey") === spark.table("ord_bucketed")("o_orderkey"))
      val n = joined.count()
      assert(n > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("prefix-token index: exchange-free candidate join, equal to direct similarity join") {
    val wh = tempDir("graft-d6idx")
    val docs = spark.read.parquet(sfDir("0.01") + "/documents.parquet")
    Dedup.prefixTokenIndexWrite(docs, "doc_id", "text", name = "d6idx",
      shingleSize = 3, threshold = 0.5, buckets = 8, externalPath = Some(wh))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .toSet
    try {
      val direct = pairSet(
        Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 3, 0.5))
      val indexed = pairSet(
        Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx", 0.5))
      assert(direct.nonEmpty && indexed == direct,
        s"indexed join diverged: ${indexed.size} vs ${direct.size} pairs")

      // a HIGHER query threshold reuses the same index (shorter prefix)
      val direct9 = pairSet(
        Dedup.jaccardSimilarityJoin(docs, "doc_id", "text", 3, 0.9))
      assert(pairSet(Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx", 0.9)) == direct9)
      intercept[IllegalArgumentException](
        Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx", 0.3))
      // granularity is recorded in the index: a caller expecting a different
      // shingle size fails loudly instead of getting wrong-granularity pairs
      assert(pairSet(Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx", 0.5,
        expectShingleSize = Some(3))) == direct)
      intercept[IllegalArgumentException](
        Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx", 0.5,
          expectShingleSize = Some(2)))

      // the candidate self-join on the bucketed token table: ZERO exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val raw = Dedup.prefixCandidatesRaw(spark.table("d6idx_tokens"), "doc_id", 0.5)
        assert(raw.count() > 0)
        val plan = raw.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed prefix-token self-join must not shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    } finally {
      spark.sql("DROP TABLE IF EXISTS d6idx_tokens")
      spark.sql("DROP TABLE IF EXISTS d6idx_sets")
    }
  }

  test("containment index: exchange-free candidate join, equal to direct containment join") {
    val wh = tempDir("graft-d9idx")
    val docs = spark.read.parquet(sfDir("0.01") + "/documents.parquet")
    Dedup.containmentIndexWrite(docs, "doc_id", "text", name = "d9idx",
      shingleSize = 3, buckets = 8, externalPath = Some(wh))
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
      .toSet
    try {
      val direct = pairSet(
        Dedup.containmentSimilarityJoin(docs, "doc_id", "text", 3, 0.6))
      val indexed = pairSet(
        Dedup.containmentSimilarityJoinIndexed(spark, "d9idx", 0.6))
      assert(direct.nonEmpty && indexed == direct,
        s"indexed containment diverged: ${indexed.size} vs ${direct.size} pairs")

      // the stored frame is threshold-free: ANY threshold reuses it —
      // including one LOWER than the q_d9 default
      val direct4 = pairSet(
        Dedup.containmentSimilarityJoin(docs, "doc_id", "text", 3, 0.4))
      assert(pairSet(Dedup.containmentSimilarityJoinIndexed(spark, "d9idx", 0.4)) == direct4)
      assert(direct4.size >= direct.size)
      intercept[IllegalArgumentException](
        Dedup.containmentSimilarityJoinIndexed(spark, "d9idx", 0.6,
          expectShingleSize = Some(2)))

      // probe x candidate join on the bucketed token table: ZERO exchange
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val raw = Dedup.containmentCandidatesRaw(spark.table("d9idx_tokens"), "doc_id", 0.6)
        assert(raw.count() > 0)
        val plan = raw.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed containment candidate join must not shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

      // EPOCH REBUILD (the maintenance discipline the scaladoc declares —
      // rk is a global-DF position, so growth means rebuild, not append):
      // overwriting the same name/path with a grown corpus must serve the
      // grown corpus's exact direct-join results.
      val grown = docs.select("doc_id", "text").unionByName(
        docs.filter(col("doc_id") % 25 === 0)
          .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
      Dedup.containmentIndexWrite(grown, "doc_id", "text", name = "d9idx",
        shingleSize = 3, buckets = 8, externalPath = Some(wh))
      val directGrown = pairSet(
        Dedup.containmentSimilarityJoin(grown, "doc_id", "text", 3, 0.6))
      assert(pairSet(Dedup.containmentSimilarityJoinIndexed(spark, "d9idx", 0.6))
        == directGrown)
      assert(directGrown.size > direct.size,
        "grown corpus should add planted full-duplicate pairs")
    } finally {
      spark.sql("DROP TABLE IF EXISTS d9idx_tokens")
      spark.sql("DROP TABLE IF EXISTS d9idx_sets")
    }
  }
}
