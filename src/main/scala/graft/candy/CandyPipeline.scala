package graft.candy

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end candy pipeline: ingest → explode/clean → fulfillment →
  * outputs → daily summary → forecast, mirroring the reference's batch
  * main() stage order (reference src/main.py:112-176) minus its eager
  * count()/show() jobs and double-loads. Stages are individually callable —
  * the orchestrator-agnostic replacement for the reference's Airflow DAG.
  * Fulfillment is [[Fulfillment.run]], the one sequential fold kernel; the
  * only fulfillment setting is the reference's own `RELOAD_INVENTORY_DAILY`.
  */
object CandyPipeline {

  final case class Results(
      orders: DataFrame,
      orderLineItems: DataFrame,
      productsUpdated: DataFrame,
      dailySummary: DataFrame,
      forecast: DataFrame)

  /** Run the full pipeline from a dataset directory (transactions_*.json +
    * products.csv). Returns all five output tables, lazily where possible.
    * `reloadDaily` mirrors the reference's RELOAD_INVENTORY_DAILY config
    * (reference src/main.py:79): stock resets to the snapshot each day, and
    * the inventory writeback subtracts only the final day's sales.
    */
  def run(spark: SparkSession, dataDir: String, forecastDays: Int = 1,
          reloadDaily: Boolean = false): Results = {
    implicit val s: SparkSession = spark
    val transactions = Ingest.readTransactionsOrdered(spark, dataDir)
    val products = Ingest.readProducts(spark, s"$dataDir/products.csv")

    val items = Outputs.prepareItems(transactions)
    val inventory = Fulfillment.snapshot(products)
    val fulfilled = Fulfillment.run(spark, items, inventory, reloadDaily).cache()

    val lineItems = Outputs.lineItemsFinal(fulfilled)
    val orders = Outputs.ordersFinal(transactions, fulfilled)
    val updated = Outputs.updatedInventoryFinal(
      if (reloadDaily) Fulfillment.updatedInventoryDailyReload(products, fulfilled)
      else Fulfillment.updatedInventory(products, fulfilled))
    val daily = Outputs.dailySummary(orders, lineItems, products).cache()
    val forecast = Forecast.forecastSalesAndProfits(spark, daily, forecastDays)
    Results(orders, lineItems, updated, daily, forecast)
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
