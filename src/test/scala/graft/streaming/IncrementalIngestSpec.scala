package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Exactly-once incremental ingestion: only new files are processed per
  * run, reruns with no new input are no-ops, and a transform rides along.
  */
class IncrementalIngestSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("day", StringType),
    StructField("amount", DoubleType)))

  test("each run drains only newly-arrived files, exactly once") {
    val root = tempDir("incr")
    val src = s"$root/src"; val dst = s"$root/dst"; val ckp = s"$root/ckp"
    Files.createDirectories(Paths.get(src))

    def writeDay(day: String, ids: Range): Unit =
      Files.writeString(Paths.get(src, s"$day.json"),
        ids.map(i => s"""{"id": $i, "day": "$day", "amount": ${i * 1.5}}""")
          .mkString("", "\n", "\n"))

    def ingest(): Unit = IncrementalIngest.runAvailableNow(
      spark, src, schema, dst, ckp,
      transform = _.filter(col("amount") >= 0).withColumn("doubled", col("amount") * 2))

    writeDay("2024-01-01", 0 until 10)
    ingest()
    assert(spark.read.parquet(dst).count() == 10)

    // a second run with no new files must be a no-op (no duplicates)
    ingest()
    assert(spark.read.parquet(dst).count() == 10)

    // day 2 arrives: only its rows are appended
    writeDay("2024-01-02", 100 until 105)
    ingest()
    val after = spark.read.parquet(dst)
    assert(after.count() == 15)
    assert(after.filter(col("day") === "2024-01-01").count() == 10)
    assert(after.filter(col("day") === "2024-01-02").count() == 5)
    // ids are unique: nothing was reprocessed
    assert(after.select("id").distinct().count() == 15)
    // the transform applied to every batch
    assert(after.filter(col("doubled") =!= col("amount") * 2).isEmpty)
  }

  test("WARC front door: new segments split exactly once, quarantine rides along") {
    val root = tempDir("incr-warc")
    val src = s"$root/src"; val dst = s"$root/dst"; val ckp = s"$root/ckp"
    Files.createDirectories(Paths.get(src))

    def rec(url: String, payload: String): String =
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $url\r\n" +
        s"WARC-Date: 2024-01-01T00:00:01Z\r\n" +
        s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n$payload\r\n\r\n"
    def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(b); gz.close(); bos.toByteArray
    }
    def ingest(): Unit = IncrementalIngest.warcAvailableNow(
      spark, src, dst, ckp, pathGlobFilter = "*.warc.gz")

    Files.write(Paths.get(src, "seg-0.warc.gz"),
      gzip((rec("https://i.example/a", "one") + rec("https://i.example/b", "two"))
        .getBytes("UTF-8")))
    ingest()
    assert(spark.read.parquet(dst).count() == 2)

    // rerun with nothing new: no duplicates
    ingest()
    assert(spark.read.parquet(dst).count() == 2)

    // two new segments arrive, one carrying a truncated record: only
    // their rows append, and the quarantine lands in the table with its
    // accounting
    val full = rec("https://i.example/c", "0123456789abcdef").getBytes("UTF-8")
    Files.write(Paths.get(src, "seg-1.warc.gz"), gzip(full))
    Files.write(Paths.get(src, "seg-2.warc.gz"), gzip(full.dropRight(10)))
    ingest()
    val after = spark.read.parquet(dst)
    assert(after.count() == 4)
    assert(after.filter(col("malformed") === 1).count() == 1)
    val q = after.filter(col("malformed") === 1).head()
    assert(q.getAs[String]("error") == "truncated-payload")
    assert(q.getAs[Long]("declared_len") == 16L && q.getAs[Long]("got_len") == 10L)
    // urls unique across runs: nothing reprocessed
    assert(after.select("url").distinct().count() == 4 ||
      after.select("file", "record_index").distinct().count() == 4)
  }
}
