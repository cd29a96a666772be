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
  * All day files of transactions are read by one scan, whose generated
  * code is the same for any number of days ([[readTransactionsOrdered]]).
  */
object Ingest {

  /** S1 — multiline JSON transaction scan (reference
    * src/data_processor.py:109-114) with a deterministic arrival sequence
    * and an explicit schema (no inference pass). The golden outputs
    * were produced by a run that processed each day's rows in JSON-array
    * order (a stable sort on the date only — see SURVEY §5.3; simulation
    * confirms zero golden diff under this order). We materialize that order
    * explicitly as `seq = fileIdx << 40 | rowIdx`, over ONE scan of all the
    * day files:
    *   - `fileIdx` is the file's position in name (= day) order, looked up
    *     by `_metadata.file_name` in one map literal. Spark packs small
    *     non-splittable files into partitions by size, so a file's
    *     partition says nothing about its day; the name does.
    *   - `rowIdx` is the low 33 bits of `monotonically_increasing_id`: the
    *     record's position within its partition. A multiline JSON file is
    *     not splittable, so it sits whole in one partition and its records
    *     keep their array order there; rows of other files packed before
    *     it only shift its positions, which never reach bit 40.
    * The map literal travels as a reference object, not as code, so the
    * scan's generated class is the same for any number of days.
    */
  def readTransactionsOrdered(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.matches("transactions_.*\\.json"))
      .toSeq.sorted
    require(files.nonEmpty, s"no transaction files under $dir")
    val fileIdx = typedLit(files.zipWithIndex.map { case (f, i) => f -> i.toLong }.toMap)
    val rowIdx = monotonically_increasing_id().bitwiseAND((1L << 33) - 1)
    spark.read.schema(Schemas.transactions)
      .option("multiLine", value = true).json(files.map(f => Paths.get(dir, f).toString): _*)
      .select(col("*"), shiftleft(element_at(fileIdx, col("_metadata.file_name")), 40).plus(rowIdx).as("seq"))
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
