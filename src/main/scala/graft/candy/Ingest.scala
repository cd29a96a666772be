package graft.candy

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Sources and sinks for the candy pipeline.
  *
  * The reference reads JSON/CSV from disk and mirrors them through
  * MySQL/MongoDB (reference src/data_processor.py:104-255). The batch path
  * only ever consumes the files, so the file readers are the canonical
  * sources here; JDBC/document-store variants hang off the same helpers via
  * Spark's built-in `format("jdbc")` connectors when a URL is supplied.
  */
object Ingest {

  /** S1 — multiline JSON transaction scan (reference
    * src/data_processor.py:109-114) with a deterministic arrival sequence
    * and an explicit schema (no inference pass). The golden outputs
    * were produced by a run that processed each day's rows in JSON-array
    * order (a stable sort on the date only — see SURVEY §5.3; simulation
    * confirms zero golden diff under this order). We materialize that order
    * explicitly: files sorted by name (= by day), each read as its own
    * non-splittable single-partition scan so `monotonically_increasing_id`
    * yields the contiguous in-file row position, then `seq = fileIdx << 40 |
    * rowIdx`. A glob scan would NOT work: Spark packs small non-splittable
    * files into partitions by size, scrambling arrival order.
    */
  def readTransactionsOrdered(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.toString)
      .filter(p => p.substring(p.lastIndexOf('/') + 1).matches("transactions_.*\\.json"))
      .toSeq.sorted
    require(files.nonEmpty, s"no transaction files under $dir")
    files.zipWithIndex.map { case (path, i) =>
      spark.read.schema(Schemas.transactions)
        .option("multiLine", value = true).json(path)
        .withColumn("seq", lit(i.toLong << 40) + monotonically_increasing_id())
    }.reduce(_.unionByName(_))
  }

  /** S2 — products CSV scan (reference src/data_processor.py:104-107). */
  def readProducts(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.products).option("header", value = true).csv(path)

  /** S2 — customers CSV scan. */
  def readCustomers(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.customers).option("header", value = true).csv(path)

  /** S3/S5 — JDBC read/write for parity with the reference's MySQL mirror
    * (reference src/data_processor.py:137-145, :198-206). Connection options
    * are passed through; no driver baked in.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).load()

  def writeJdbc(df: DataFrame, url: String, table: String,
                options: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url).option("dbtable", table)
      .options(options).mode("overwrite").save()

  /** S7 — single-file CSV sink (reference src/data_processor.py:584-610):
    * coalesce(1) + header, then promote the lone part file to the target name.
    * Only used for final, small, ordered outputs — never mid-pipeline. The
    * scratch directory `.tmp_<fileName>` is removed whether or not the write
    * succeeds; a failed write leaves an existing target file as it was.
    */
  def saveSingleCsv(df: DataFrame, outputDir: String, fileName: String): Unit = {
    val out = Paths.get(outputDir)
    Files.createDirectories(out)
    val tmp = out.resolve(s".tmp_$fileName")
    try {
      df.coalesce(1).write.option("header", value = true).mode("overwrite")
        .csv(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.getFileName.toString.endsWith(".csv"))
        .getOrElse(sys.error(s"no part file produced under $tmp"))
      Files.move(part, out.resolve(fileName), StandardCopyOption.REPLACE_EXISTING)
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
