package graft.candy

import org.apache.spark.sql.SparkSession
import graft.sources.DocumentStore
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** S9 — database seeding driver (reference src/data_processor.py:257-293):
  * loads the dataset's CSVs into relational tables over JDBC and each day's
  * `transactions_YYYYMMDD.json` into a document-store collection named
  * after the file (sans extension), exactly the reference's initialization
  * pass. Connector choice is the caller's: any JDBC URL, and any document
  * source honoring the connection.uri/database/collection contract.
  */
object SeedDatabase {

  /** Seeds everything; returns (jdbc tables seeded, collections seeded). */
  def seed(spark: SparkSession, datasetDir: String, jdbcUrl: String,
           jdbcOptions: Map[String, String] = Map.empty,
           docUri: String = "", docDatabase: String = "candy_store",
           docFormat: String = "mongodb"): (Seq[String], Seq[String]) = {
    Ingest.writeJdbc(Ingest.readCustomers(spark, s"$datasetDir/customers.csv"),
      jdbcUrl, "customers", jdbcOptions)
    Ingest.writeJdbc(Ingest.readProducts(spark, s"$datasetDir/products.csv"),
      jdbcUrl, "products", jdbcOptions)

    val collections =
      if (docUri.isEmpty) Seq.empty
      else Files.list(Paths.get(datasetDir)).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.matches("transactions_.*\\.json"))
        .toSeq.sorted
        .map { file =>
          val collection = file.stripSuffix(".json")
          val df = spark.read.schema(Schemas.transactions)
            .option("multiLine", value = true).json(s"$datasetDir/$file")
          DocumentStore.writeCollection(df, docUri, docDatabase, collection,
            format = docFormat)
          collection
        }
    (Seq("customers", "products"), collections)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: SeedDatabase <datasetDir> <jdbcUrl> [docUri] [docDatabase] [docFormat]")
    val spark = graft.GraftSession.build()
    val (tables, collections) = seed(spark, args(0), args(1),
      docUri = if (args.length > 2) args(2) else "",
      docDatabase = if (args.length > 3) args(3) else "candy_store",
      docFormat = if (args.length > 4) args(4) else "mongodb")
    println(s"seeded jdbc tables: ${tables.mkString(", ")}")
    println(s"seeded collections: ${collections.mkString(", ")}")
    spark.stop()
  }
}
