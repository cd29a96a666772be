package graft.candy

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Explode/clean of raw transactions and construction of the four tabular
  * outputs (orders, order_line_items, products_updated, daily_summary).
  * Column-level semantics mirror reference src/data_processor.py:316-345,
  * :466-572 — see each method.
  *
  * Each output arrives in the one partition its single-file sink writes,
  * already in golden row order, so no output pays for a global sort: line
  * items and orders take one exchange into that partition and sort there,
  * the daily summary (one row per day) merges into it without an exchange,
  * and products_updated is a driver-local frame built in product order.
  */
object Outputs {

  /** P1-P7 + P12 — explode the items array into cleaned line items.
    * Null-qty items are dropped (reference src/data_processor.py:333 — 2,254
    * of them in the corpus); whole-row duplicates are dropped (reference
    * :398; the reference dedupes after joining inventory columns, but those
    * are functionally dependent on product_id, so deduping the item columns
    * is equivalent).
    *
    * The items are hash-partitioned by product before the dedup, not after:
    * the dedup aggregate then runs on the product partitioning (its keys
    * include product_id), and [[Fulfillment.run]]'s own repartition by
    * product is planned away, leaving one shuffle for both where a dedup
    * shuffle followed by a fulfillment shuffle would move every row twice.
    */
  def prepareItems(transactions: DataFrame)(implicit spark: SparkSession): Dataset[ItemRow] = {
    import spark.implicits._
    val seqCol =
      if (transactions.columns.contains("seq")) col("seq")
      else monotonically_increasing_id()
    transactions
      .select(
        col("transaction_id").as("order_id"),
        col("timestamp").as("order_datetime"),
        seqCol.as("seq"),
        explode(col("items")).as("item"))
      .select(
        col("order_id"),
        col("order_datetime"),
        col("item.product_id").as("product_id"),
        col("item.qty").as("quantity"),
        col("seq"))
      .filter(col("quantity").isNotNull)
      .withColumn("quantity", col("quantity").cast(IntegerType))
      .repartition(col("product_id"))
      // whole-row dedup, keeping the earliest arrival so the fulfillment
      // order is unaffected by which duplicate survives
      .groupBy("order_id", "order_datetime", "product_id", "quantity")
      .agg(min("seq").as("seq"))
      .as[ItemRow]
  }

  /** A sink's rows in its golden order: one exchange into the single
    * partition the sink writes, sorted there. Row order is part of the
    * golden contract; a global `orderBy` would instead range-partition
    * (sampling job plus exchange) only for the sink to coalesce it back.
    */
  private def sortedInOnePartition(df: DataFrame, by: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(by.map(col): _*)

  /** Final order_line_items table (reference src/data_processor.py:476-487):
    * sorted by (order_id, product_id) with money columns rendered 2-dp via
    * format_number, in one partition (see [[sortedInOnePartition]]).
    */
  def lineItemsFinal(fulfilled: Dataset[FulfilledLine]): DataFrame =
    sortedInOnePartition(
      fulfilled.toDF().select(
        col("order_id"), col("product_id"), col("quantity"),
        format_number(col("unit_price"), 2).as("unit_price"),
        format_number(round(col("line_total").cast("double"), 2), 2).as("line_total")),
      "order_id", "product_id")

  /** Final orders table (reference src/data_processor.py:490-513): distinct
    * transaction headers left-joined to per-order totals; orders whose every
    * item had null qty produce no line items, get a null total, and are
    * silently dropped by na.drop (154 orders in the corpus — load-bearing).
    * num_items counts ALL line items including cancelled ones. Sorted by
    * order_id in one partition (see [[sortedInOnePartition]]).
    *
    * The headers are hash-partitioned by order_id before the `distinct`, so
    * the distinct and the join to the per-order totals share that one
    * partitioning instead of shuffling the headers twice.
    */
  def ordersFinal(transactions: DataFrame, fulfilled: Dataset[FulfilledLine]): DataFrame = {
    val totals = fulfilled.groupBy("order_id").agg(
      round(sum("line_total"), 2).as("total_amount"),
      count("product_id").as("num_items"))
    val orders = transactions
      .na.drop()
      .select(
        col("transaction_id").as("order_id"),
        col("timestamp").as("order_datetime"),
        col("customer_id"))
      .repartition(col("order_id"))
      .distinct()
      .join(totals, Seq("order_id"), "left")
      .select("order_id", "order_datetime", "customer_id", "total_amount", "num_items")
      .na.drop()
      .withColumn("total_amount", format_number(col("total_amount"), 2))
    sortedInOnePartition(orders, "order_id")
  }

  /** products_updated output projection (reference
    * src/data_processor.py:574-582) of [[Fulfillment.updatedInventory]]'s
    * driver-local frame, which is already in product_id order; the
    * projection stays a local relation, so the sink runs one job.
    */
  def updatedInventoryFinal(updated: DataFrame): DataFrame =
    updated.select(col("product_id"), col("product_name"), col("stock").as("current_stock"))

  /** Daily summary (reference src/data_processor.py:517-572), sorted by
    * date in one partition. NOTE: consumes the FORMATTED orders/line-items
    * tables (strings) exactly like the reference does — line_total is
    * re-cast string→double, which is part of the observable numeric
    * behavior. cost_to_make joins from the inventory dimension (broadcast).
    */
  def dailySummary(ordersFinal: DataFrame, lineItemsFinal: DataFrame,
                   inventory: DataFrame): DataFrame = {
    val withProfit = lineItemsFinal
      .join(broadcast(inventory.select("product_id", "cost_to_make")), Seq("product_id"), "left")
      .withColumn("line_profit",
        round(col("line_total").cast("double") - col("quantity") * col("cost_to_make"), 2))

    val ordersWithDate = ordersFinal
      .select(col("order_id"), to_date(col("order_datetime")).as("date"))
      .distinct()

    val dailyOrders = ordersWithDate.groupBy("date")
      .agg(countDistinct("order_id").as("num_orders"))

    val salesProfit = withProfit
      .join(ordersWithDate, Seq("order_id"), "left")
      .groupBy("date")
      .agg(
        round(sum("line_total").cast("double"), 2).as("total_sales"),
        round(sum("line_profit").cast("double"), 2).as("total_profit"))

    // one row per day: the final stage merges into one partition without
    // an exchange and sorts there
    dailyOrders.join(salesProfit, Seq("date"), "inner")
      .select(
        col("date"), col("num_orders"),
        format_string("%.2f", col("total_sales")).as("total_sales"),
        format_string("%.2f", col("total_profit")).as("total_profit"))
      .coalesce(1)
      .sortWithinPartitions("date")
  }
}
