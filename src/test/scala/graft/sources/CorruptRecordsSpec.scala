package graft.sources

import graft.SparkTestBase
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Dirty-input behavior of the file sources: a 100 TB ingest always
  * contains malformed records, and the engine must be able to (a) keep
  * them for quarantine (PERMISSIVE + corrupt-record column), (b) drop
  * them (DROPMALFORMED), or (c) refuse the batch (FAILFAST).
  */
class CorruptRecordsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("qty", IntegerType),
    StructField("_corrupt_record", StringType)))

  private lazy val jsonPath = {
    val dir = tempDir("dirty")
    Files.writeString(java.nio.file.Paths.get(dir, "data.json"),
      """{"id": 1, "name": "ok", "qty": 2}
        |{"id": 2, "name": "also ok", "qty": 5}
        |{"id": 3, "name": "broken qty", "qty": "not-a-number"}
        |this is not json at all
        |{"id": 4, "name": "ok again", "qty": 7}
        |""".stripMargin)
    dir
  }

  private lazy val csvPath = {
    val dir = tempDir("dirtycsv")
    Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      """id,name,qty
        |1,ok,2
        |2,broken,not-a-number
        |3,ok,9
        |""".stripMargin)
    dir
  }

  test("PERMISSIVE json keeps malformed rows in the corrupt-record column") {
    // cached: Spark disallows querying only the corrupt-record column
    // straight off raw files (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(jsonPath)
      .cache()
    assert(df.count() == 5)
    val bad = df.filter(col("_corrupt_record").isNotNull)
    assert(bad.count() == 2, "both the bad-typed and the non-json rows quarantine")
    // the raw text is preserved for quarantine/replay
    assert(bad.filter(col("_corrupt_record").contains("not json at all")).count() == 1)
    // well-formed rows parse fully
    assert(df.filter(col("qty").isNotNull).count() == 3)
  }

  test("DROPMALFORMED json keeps only clean rows; FAILFAST throws") {
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(jsonPath)
    assert(dropped.filter(col("qty").isNotNull).count() == 3)

    val ex = intercept[SparkException] {
      spark.read.schema(StructType(schema.dropRight(1)))
        .option("mode", "FAILFAST").json(jsonPath).count()
    }
    assert(ex.getMessage.contains("MALFORMED_RECORD") ||
      Option(ex.getCause).exists(_.getMessage.contains("Malformed")),
      s"unexpected failure: ${ex.getMessage}")
  }

  test("CSV modes mirror json: quarantine, drop, or fail") {
    val csvSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("qty", IntegerType),
      StructField("_corrupt_record", StringType)))
    val permissive = spark.read.schema(csvSchema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(csvPath)
      .cache()
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() == 1)

    // collect(), not count(): CSV column pruning means count() parses no
    // columns at all, so type-malformed rows would go undetected
    val dropped = spark.read.schema(StructType(csvSchema.dropRight(1)))
      .option("header", "true").option("mode", "DROPMALFORMED").csv(csvPath)
    assert(dropped.collect().length == 2)

    val ex = intercept[SparkException] {
      spark.read.schema(StructType(csvSchema.dropRight(1)))
        .option("header", "true").option("mode", "FAILFAST").csv(csvPath).collect()
    }
    assert(ex.getMessage.contains("MALFORMED_RECORD") ||
      Option(ex.getCause).exists(_.getMessage.contains("Malformed")),
      s"unexpected failure: ${ex.getMessage}")
  }
}
