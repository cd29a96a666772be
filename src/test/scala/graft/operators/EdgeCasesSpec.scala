package graft.operators

import graft.SparkTestBase
import graft.candy.{Fulfillment, InventoryEntry, ItemRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate-input behavior: every operator must return empty (not throw)
  * on empty input, and single-row inputs must not trip banding/windowing
  * edge arithmetic.
  */
class EdgeCasesSpec extends SparkTestBase {

  import spark.implicits._

  private val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("dedup operators return empty on empty input") {
    assert(Dedup.minHashNearDuplicates(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simHashNearDuplicates(emptyDocs, "doc_id", "text").count() == 0)
    assert(DedupReference.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.jaccardSimilarityJoin(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.incrementalNearDuplicates(
      emptyDocs, Dedup.lshIndex(emptyDocs, "doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("substring-dedup family on empty, single-doc, and null-free degenerate input") {
    // empty corpus: no spans, no scrub rows, no overlap
    assert(Dedup.duplicatedSpans(emptyDocs, "doc_id", "text", k = 5).count() == 0)
    assert(Dedup.scrubDuplicatedSpans(emptyDocs, "doc_id", "text", k = 5).count() == 0)
    assert(Dedup.crossCorpusWindowOverlap(emptyDocs, "doc_id", "text",
      emptyDocs.selectExpr("doc_id AS bench_id", "text AS btext"),
      "bench_id", "btext", k = 5).count() == 0)
    // a single doc with no internal repeat: nothing duplicated, scrub is
    // identity, chunking still emits its windows
    val one = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    assert(Dedup.duplicatedSpans(one, "doc_id", "text", k = 5).count() == 0)
    val scrubbed = Dedup.scrubDuplicatedSpans(one, "doc_id", "text", k = 5).head()
    assert(scrubbed.getInt(2) == 0 && scrubbed.getString(3) == "a b c d e f g")
    // empty-text doc flows through scrub (the sequence-descend regression)
    val withEmpty = Seq((1L, ""), (2L, "x y z")).toDF("doc_id", "text")
    assert(Dedup.scrubDuplicatedSpans(withEmpty, "doc_id", "text", k = 2).count() == 2)
    // invalid window length fails loudly
    intercept[IllegalArgumentException] {
      Dedup.duplicatedSpans(one, "doc_id", "text", k = 1)
    }
    // chunking: empty corpus and invalid stride
    assert(Pipeline.chunkDocuments(emptyDocs, "doc_id", "text", 30, 20).count() == 0)
    intercept[IllegalArgumentException] {
      Pipeline.chunkDocuments(one, "doc_id", "text", chunkTokens = 10, strideTokens = 11)
    }
  }

  test("prefix-token index handles an empty corpus and rejects a missing table") {
    val wh = tempDir("graft-d6idx-edge")
    Dedup.prefixTokenIndexWrite(emptyDocs, "doc_id", "text",
      name = "d6idx_empty", buckets = 4, externalPath = Some(wh))
    try
      assert(Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx_empty", 0.5).count() == 0)
    finally {
      spark.sql("DROP TABLE IF EXISTS d6idx_empty_tokens")
      spark.sql("DROP TABLE IF EXISTS d6idx_empty_sets")
    }
    intercept[Exception](
      Dedup.jaccardSimilarityJoinIndexed(spark, "d6idx_nonexistent", 0.5))
  }

  test("corpus-prep operators tolerate empty and single-row inputs") {
    val fr = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    assert(Pipeline.hashSplit(emptyDocs, "doc_id", "s", fr).count() == 0)
    assert(Pipeline.stratifiedSample(emptyDocs, "text", "doc_id", "s",
      Map("en" -> 0.5)).count() == 0)
    assert(Pipeline.capPerGroup(emptyDocs, "text", Seq(col("doc_id")), 5).count() == 0)
    val one = Seq((1L, "solo doc text")).toDF("doc_id", "text")
    assert(Pipeline.hashSplit(one, "doc_id", "s", fr).count() == 1)
    assert(Pipeline.capPerGroup(one, "text", Seq(col("doc_id")), 5).count() == 1)
    val packedOne = Pipeline.packSequences(
      one.withColumn("n_tokens", lit(1000L)), "text", "doc_id", "n_tokens", 256)
    // a single over-budget doc still lands in bin 0 (overflow-by-one rule)
    assert(packedOne.select("bin").head().getLong(0) == 0L)
    assert(Dedup.jaccardSimilarityJoin(one, "doc_id", "text").count() == 0)
    assert(Joins.fuzzyJoin(one, "doc_id", "text", 4, 2).count() == 0)
  }

  test("time-series gap-fill handles empty input and a single observation") {
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", StringType), StructField("ts", TimestampType),
        StructField("v", DoubleType))))
    assert(TimeSeries.resampleDaily(emptyEvents, "k", "ts", "v").count() == 0)
    val one = Seq(("a", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 2.5))
      .toDF("k", "ts", "v")
    val filled = TimeSeries.resampleDaily(one, "k", "ts", "v").collect()
    assert(filled.length == 1 && filled.head.getDouble(2) == 2.5 &&
      filled.head.getInt(3) == 0)
  }

  test("dedup operators handle single and degenerate documents") {
    val docs = Seq((1L, "only one doc here"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    assert(Dedup.minHashNearDuplicates(docs, "doc_id", "text").count() == 0)
    assert(Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxDist = 8).count() >= 0)
  }

  test("fulfillment kernel on empty input returns empty") {
    val out = Fulfillment.run(spark, spark.emptyDataset[ItemRow],
      Map(1L -> InventoryEntry(10, 1.0)))
    assert(out.count() == 0)
  }

  test("asOfJoin with empty right side keeps all left rows with null attach") {
    val left = Seq((1L, new java.sql.Timestamp(1000), "x")).toDF("k", "t", "tag")
    val right = Seq.empty[(Long, java.sql.Timestamp, Double)].toDF("k", "t", "v")
    val out = Joins.asOfJoin(left, right, "k", "t").collect()
    assert(out.length == 1 && out(0).isNullAt(out(0).fieldIndex("asof_v")))
  }

  test("withinInterval on single row returns no pairs") {
    val df = Seq((1L, new java.sql.Timestamp(1000))).toDF("id", "t")
    assert(Joins.withinInterval(df, "id", "t", 5000L).count() == 0)
  }

  test("similarity search on empty corpus returns empty") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val q = Array.fill(4)(1.0f)
    assert(SimilaritySearch.bruteForceTopK(empty, "vec_id", "embedding", q, 5).count() == 0)
    assert(SimilaritySearch.lshTopK(empty, "vec_id", "embedding", q, 5).count() == 0)
    assert(SimilaritySearch.allPairsCosine(empty, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("text analysis expressions tolerate empty and whitespace-only text") {
    val docs = Seq((1L, ""), (2L, "   "), (3L, "word")).toDF("doc_id", "text")
    val rows = docs.select(
      TextAnalysis.languageId("text").as("lang"),
      TextAnalysis.qualityScore("text").as("q")).collect()
    assert(rows.map(_.getString(0)).forall(l => l == "und"))
    assert(rows.map(_.getDouble(1)).take(2).forall(_ == 0.0))
  }
}
