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
  * holds products.csv as a driver-local frame. The batch shuffles once per
  * key it needs (product for dedup and fold, order for the orders table)
  * and once more into the single partition each large output's sink
  * writes; the dimension-sized outputs (daily summary, inventory
  * write-back, forecast) are collected and handed on as driver-local
  * frames. The caller releases the caches (`spark.catalog.clearCache()` or
  * `spark.stop()`); only when `run` itself throws does it unpersist them
  * before rethrowing.
  */
object CandyPipeline {

  /** The five output tables, each in its sink's row order. `orders` and
    * `orderLineItems` are cached, each in one sorted partition;
    * `productsUpdated`, `dailySummary` and `forecast` are driver-local
    * frames (local relations). Writing any of them recomputes nothing. */
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
      // one scan; the snapshot, the write-back and the summary's cost join
      // all read this LocalRelation
      val products = spark.createDataFrame(scan.collect().toSeq.asJava, scan.schema)

      val items = Outputs.prepareItems(transactions)
      val inventory = Fulfillment.snapshot(products)
      val fulfilled = keep(Fulfillment.run(spark, items, inventory, reloadDaily))

      val lineItems = keep(Outputs.lineItemsFinal(fulfilled))
      val orders = keep(Outputs.ordersFinal(transactions, fulfilled))
      // one row per day: collected once, in date order, for the forecast
      // and the sink
      val summary = Outputs.dailySummary(orders, lineItems, products)
      val daily = spark.createDataFrame(summary.collect().toSeq.asJava, summary.schema)
      val forecast = Forecast.forecastSalesAndProfits(spark, daily, forecastDays)
      val updated = Outputs.updatedInventoryFinal(
        Fulfillment.updatedInventory(products, fulfilled, reloadDaily))
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
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("CandyPipeline")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
