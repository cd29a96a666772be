package graft.candy

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
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
  * The single-file CSV sink collects its frame's rows to the driver and
  * formats them there with Spark's own CSV generator ([[saveSingleCsv]]),
  * so it runs no write job and is bounded by driver memory.
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
    * one UTF-8 file with a header, byte for byte what Spark's
    * `df.coalesce(1).write.option("header", true).csv(...)` puts in its
    * lone part file, rows in partition order. The plan runs once, as a
    * named SQL execution of the frame's session (so its tasks keep the
    * session's class loader and query listeners see the plan), and its rows
    * are formatted on the driver by Spark's own CSV generator under the
    * options its CSV writer builds. A driver-local frame (a local relation)
    * runs no job at all, and no frame goes through an output committer.
    * Every row passes through driver memory, so this is only for final,
    * small, ordered outputs — never mid-pipeline. The rows go to
    * `.tmp_<fileName>`, which then replaces the target; the scratch file is
    * removed whether or not the write succeeds, and a failed write leaves
    * an existing target file as it was.
    */
  def saveSingleCsv(df: DataFrame, outputDir: String, fileName: String): Unit = {
    // a column type Spark's CSV writer refuses is refused with its error,
    // before anything runs
    DataSourceUtils.verifySchema(new CSVFileFormat, df.schema)
    val qe = df.queryExecution
    val rows = SQLExecution.withNewExecutionId(qe, Some("saveSingleCsv")) {
      qe.executedPlan.executeCollect()
    }
    val conf = qe.sparkSession.sessionState.conf
    val options = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val out = Files.createDirectories(Paths.get(outputDir))
    val tmp = out.resolve(s".tmp_$fileName")
    try {
      val gen = new UnivocityGenerator(df.schema, Files.newBufferedWriter(tmp, StandardCharsets.UTF_8), options)
      try {
        gen.writeHeaders()
        rows.foreach(gen.write)
      } finally gen.close()
      Files.move(tmp, out.resolve(fileName), StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
  }
}
