package graft.candy

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** End-to-end candy pipeline: ingest → explode/clean → fulfillment →
  * outputs → daily summary → forecast, mirroring the reference's batch
  * main() stage order (reference src/main.py:112-176). Stages are
  * individually callable — the orchestrator-agnostic replacement for the
  * reference's Airflow DAG. Fulfillment is [[Fulfillment.run]], the one
  * sequential fold kernel; the only fulfillment setting is the reference's
  * own `RELOAD_INVENTORY_DAILY`.
  *
  * [[run]] reads each input once and computes each output once. It caches
  * the ordered transactions, `fulfilled`, `orders` and `lineItems`, and
  * holds the products.csv rows on the driver. The batch shuffles once, by
  * product for dedup and fold; the line items, orders and daily summary
  * are each built by one task over narrow coalesces of the caches, with
  * no exchange, and their joins broadcast one side. The inventory
  * write-back is the first job over the transactions: one stage of it
  * builds their cache, which every later plan reads. The dimension-sized
  * outputs (daily summary, inventory write-back, forecast) are
  * driver-local frames built from driver rows. The caller releases the
  * caches (`spark.catalog.clearCache()` or `spark.stop()`); only when
  * `run` itself throws does it unpersist them before rethrowing.
  *
  * The batch keeps its generated code small, because Spark caches compiled
  * classes by (class loader, code): 100 of them by default, in 4 LRU
  * segments of 25, and a whole-stage class takes two entries (driver and
  * tasks). A batch whose classes overflow a segment evicts its own early
  * classes and recompiles them on every pass. So the ingest is one scan
  * whose code does not depend on the number of days, the dimension-sized
  * work is plain Scala on the driver, and the tables built after the fold
  * fuse into few whole-stage units (CandyPipelineSpec caps their count).
  */
object CandyPipeline {

  /** The five output tables, each in its sink's row order. `orders` and
    * `orderLineItems` are cached, each in one sorted partition;
    * `productsUpdated`, `dailySummary` and `forecast` are driver-local
    * frames (local relations). Writing any of them recomputes nothing:
    * [[Ingest.saveSingleCsv]] runs no Spark job for a driver-local frame
    * and one collect over the cache for `orders` and `orderLineItems`. */
  final case class Results(
      orders: DataFrame,
      orderLineItems: DataFrame,
      productsUpdated: DataFrame,
      dailySummary: DataFrame,
      forecast: DataFrame)

  /** Run the full pipeline from a dataset directory (transactions_*.json +
    * products.csv). Returns all five output tables (see [[Results]]).
    * `reloadDaily` mirrors the reference's RELOAD_INVENTORY_DAILY config
    * (reference src/main.py:79): stock resets to the snapshot each day, and
    * the inventory writeback subtracts only the final day's sales.
    */
  def run(spark: SparkSession, dataDir: String, forecastDays: Int = 1,
          reloadDaily: Boolean = false): Results = {
    implicit val s: SparkSession = spark
    val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](ds: Dataset[T]): Dataset[T] = { cached += ds; ds.cache() }
    try {
      val transactions = keep(Ingest.readTransactionsOrdered(spark, dataDir))
      val scan = Ingest.readProducts(spark, s"$dataDir/products.csv")
      // one scan: the snapshot, the write-back and the summary's cost
      // lookup read these rows on the driver
      val productRows = scan.collect().toSeq

      val items = Outputs.prepareItems(transactions)
      val fulfilled = keep(Fulfillment.run(spark, items, Fulfillment.snapshot(productRows), reloadDaily))
      // the first job over the transactions: one stage of it builds their
      // cache, before the orders and line items read it
      val updated = Fulfillment.updatedInventory(productRows, fulfilled, reloadDaily)

      val lineItems = keep(Outputs.lineItemsFinal(fulfilled))
      val orders = keep(Outputs.ordersFinal(transactions, fulfilled))
      // one row per day: collected once and put in date order, for the
      // sink and the forecast
      val summary = Outputs.dailySummary(orders, lineItems, productRows)
      val summaryRows = summary.collect().toSeq.sortBy(_.getAs[java.sql.Date]("date").toLocalDate.toEpochDay)
      val daily = spark.createDataFrame(summaryRows.asJava, summary.schema)
      val forecast = Forecast.forecastSalesAndProfits(spark, summaryRows, forecastDays)
      Results(orders, lineItems, updated, daily, forecast)
    } catch {
      case t: Throwable =>
        cached.foreach(_.unpersist())
        throw t
    }
  }

  /** CLI: CandyPipeline <dataDir> <outputDir> — writes the five golden CSVs. */
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: CandyPipeline <dataDir> <outputDir>")
      sys.exit(2)
    }
    val Array(dataDir, outDir) = args.take(2)
    val spark = graft.GraftSession.build()
    val reloadDaily =
      sys.env.getOrElse("RELOAD_INVENTORY_DAILY", "false").equalsIgnoreCase("true")
    val r = run(spark, dataDir, reloadDaily = reloadDaily)
    Ingest.saveSingleCsv(r.productsUpdated, outDir, "products_updated.csv")
    Ingest.saveSingleCsv(r.orders, outDir, "orders.csv")
    Ingest.saveSingleCsv(r.orderLineItems, outDir, "order_line_items.csv")
    Ingest.saveSingleCsv(r.dailySummary, outDir, "daily_summary.csv")
    Ingest.saveSingleCsv(r.forecast, outDir, "sales_profit_forecast.csv")
    spark.stop()
  }
}
