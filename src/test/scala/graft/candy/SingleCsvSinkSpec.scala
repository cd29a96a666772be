package graft.candy

import graft.SparkTestBase
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.{col, expr, format_number}
import org.apache.spark.sql.types._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** [[Ingest.saveSingleCsv]] against Spark's own CSV writer: for each frame,
  * the sink's file must be byte-equal to the lone part file that
  * `df.coalesce(1).write.option("header", true).csv(...)` writes. */
class SingleCsvSinkSpec extends SparkTestBase {

  /** The part file Spark's writer produces for `df`. */
  private def sparkCsv(df: DataFrame): Array[Byte] = {
    val dir = Paths.get(tempDir("graft-csv-oracle")).resolve("out")
    df.coalesce(1).write.option("header", value = true).csv(dir.toString)
    val parts = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.endsWith(".csv")).toList
    assert(parts.size == 1, parts)
    Files.readAllBytes(parts.head)
  }

  /** The file the sink writes for `df`; nothing else is left beside it. */
  private def sinkCsv(df: DataFrame): Array[Byte] = {
    val dir = Paths.get(tempDir("graft-csv-sink"))
    Ingest.saveSingleCsv(df, dir.toString, "out.csv")
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toList == List("out.csv"))
    Files.readAllBytes(dir.resolve("out.csv"))
  }

  private def assertSameCsv(df: DataFrame): Unit = {
    val expected = sparkCsv(df)
    val got = sinkCsv(df)
    assert(new String(got, StandardCharsets.UTF_8) == new String(expected, StandardCharsets.UTF_8))
    assert(got.sameElements(expected))
  }

  /** `rows` as a frame computed by tasks over `partitions` slices. */
  private def distributed(schema: StructType, partitions: Int, rows: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)

  private def fields(types: (String, DataType)*): StructType =
    StructType(types.map { case (n, t) => StructField(n, t) })

  test("strings with commas, quotes, newlines and edge spaces") {
    assertSameCsv(distributed(fields("id" -> IntegerType, "s" -> StringType), 2,
      Row(1, "a,b"), Row(2, "say \"hi\""), Row(3, "two\nlines"), Row(4, "cr\r\nlf"),
      Row(5, "  lead"), Row(6, "trail  "), Row(7, " both "), Row(8, "\"quoted, too\""),
      Row(9, "back\\slash"), Row(10, "#hash"), Row(11, "naïve ✓")))
  }

  test("a null next to an empty string") {
    assertSameCsv(distributed(fields("a" -> StringType, "b" -> StringType, "n" -> IntegerType), 2,
      Row("", null, null), Row(null, "", 0), Row("", "", null), Row(null, null, 1)))
  }

  test("format_number output") {
    assertSameCsv(spark.range(0, 6, 1, 2)
      .select(col("id"), format_number(expr("id * 1234567.891 - 0.005"), 2).as("amount"),
        format_number(expr("cast(id as double) / 3"), 0).as("whole")))
  }

  test("dates and timestamps under a non-UTC session time zone") {
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assertSameCsv(spark.range(0, 4, 1, 2).select(col("id"),
        expr("date_add(date'2024-03-09', cast(id as int))").as("d"),
        expr("timestamp_seconds(1710061200 + id * 3600)").as("ts"),
        expr("timestamp_ntz'2024-03-10 02:30:00' + make_interval(0, 0, 0, 0, cast(id as int))").as("ntz")))
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("doubles: NaN, negative zero, infinities and large and small magnitudes") {
    assertSameCsv(distributed(fields("x" -> DoubleType, "f" -> FloatType, "dec" -> DecimalType(10, 2)), 2,
      Row(Double.NaN, Float.NaN, BigDecimal("0.00").bigDecimal), Row(-0.0, -0.0f, null),
      Row(1.0e10, 1.0e10f, BigDecimal("-12345678.90").bigDecimal),
      Row(Double.PositiveInfinity, Float.NegativeInfinity, BigDecimal("1.50").bigDecimal),
      Row(1.0e-5, 0.1f, BigDecimal("2").bigDecimal), Row(0.1 + 0.2, 3.0f, null)))
  }

  test("an empty frame writes the header alone") {
    assertSameCsv(spark.range(0, 0, 1, 3).selectExpr("id", "cast(id as string) as s"))
    assertSameCsv(spark.createDataFrame(java.util.List.of[Row](), fields("a" -> LongType, "b" -> StringType)))
  }

  test("a multi-partition frame is written in partition order") {
    // each partition sorted descending, so partition order is not value order
    assertSameCsv(spark.range(0, 40, 1, 5).sortWithinPartitions(col("id").desc)
      .selectExpr("id", "cast(id * 7 % 11 as string) as s"))
  }

  test("a column type CSV cannot hold is refused as Spark's writer refuses it, and nothing is written") {
    val df = spark.range(2).selectExpr("id", "array(id, id) as xs")
    val expected = intercept[AnalysisException](sparkCsv(df))
    val dir = Paths.get(tempDir("graft-csv-sink"))
    val got = intercept[AnalysisException](Ingest.saveSingleCsv(df, dir.toString, "out.csv"))
    assert(got.getMessage == expected.getMessage)
    assert(Files.list(dir).count() == 0)
  }

  test("a local relation runs no job and matches Spark's writer") {
    val df = spark.createDataFrame(Seq(Row(1L, "x,y", 2.5), Row(2L, null, -0.0)).asJava,
      fields("id" -> LongType, "name" -> StringType, "v" -> DoubleType))
    assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec], df.queryExecution.executedPlan)
    assertSameCsv(df)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      sinkCsv(df)
      ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0)
  }
}
