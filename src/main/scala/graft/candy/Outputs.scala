package graft.candy

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Explode/clean of raw transactions and construction of three tabular
  * outputs (orders, order_line_items, daily_summary; products_updated is
  * [[Fulfillment.updatedInventory]]). Column-level semantics mirror
  * reference src/data_processor.py:316-345, :466-572 — see each method.
  *
  * Line items and orders arrive in the one partition their single-file
  * sink writes, already in golden row order, so no output pays for a
  * global sort or an exchange: one task reads every partition of its
  * cached input (a narrow coalesce) and builds and sorts the table there.
  * The daily summary (one row per day) is built the same way and ordered
  * by its caller on the driver. Each of these tables is one whole-stage
  * unit, plus one for the side its join broadcasts.
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
    *
    * `explode_outer`, not `explode`: the one row a null or empty items
    * array yields has a null qty and goes with the null-qty items, so the
    * result is the same, and no array-size filter is inferred onto the
    * cached scan (a predicate Spark would generate code for).
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
        explode_outer(col("items")).as("item"))
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

  /** Final order_line_items table (reference src/data_processor.py:476-487):
    * sorted by (order_id, product_id) with money columns rendered 2-dp via
    * format_number. One task reads every partition of `fulfilled` (a
    * narrow coalesce, no exchange), formats and sorts, so the table is the
    * single partition its sink writes, in golden row order. A global
    * `orderBy` would instead range-partition (sampling job plus exchange)
    * only for the sink to coalesce it back.
    */
  def lineItemsFinal(fulfilled: Dataset[FulfilledLine]): DataFrame =
    fulfilled.toDF().coalesce(1)
      .select(
        col("order_id"), col("product_id"), col("quantity"),
        format_number(col("unit_price"), 2).as("unit_price"),
        format_number(round(col("line_total").cast("double"), 2), 2).as("line_total"))
      .sortWithinPartitions("order_id", "product_id")

  /** Final orders table (reference src/data_processor.py:490-513): distinct
    * transaction headers joined to per-order totals. Orders whose every
    * item had null qty produce no line items and no totals, so they are
    * absent (154 orders in the corpus — load-bearing; the reference drops
    * them with a left join and `na.drop`, which the inner join here equals:
    * headers and totals carry no nulls). num_items counts ALL line items
    * including cancelled ones. Sorted by order_id in one partition.
    *
    * The header rows are broadcast to the per-order totals, which one task
    * sums over every partition of `fulfilled` (a narrow coalesce, no
    * exchange); the same task drops duplicate rows and sorts. Totals depend
    * on order_id alone, so dropping duplicates after the join equals the
    * reference's `distinct` on the headers before it.
    */
  def ordersFinal(transactions: DataFrame, fulfilled: Dataset[FulfilledLine]): DataFrame = {
    val headers = transactions
      .na.drop()
      .select(
        col("transaction_id").as("order_id"),
        col("timestamp").as("order_datetime"),
        col("customer_id"))
    fulfilled.coalesce(1)
      .groupBy("order_id").agg(
        round(sum("line_total"), 2).as("total_amount"),
        count("product_id").as("num_items"))
      .join(broadcast(headers), Seq("order_id"))
      .select(
        col("order_id"), col("order_datetime"), col("customer_id"),
        format_number(col("total_amount"), 2).as("total_amount"), col("num_items"))
      .distinct()
      .sortWithinPartitions("order_id")
  }

  /** Daily summary (reference src/data_processor.py:517-572): one row per
    * date, in one partition, in no particular order (the caller orders the
    * dimension-sized rows; [[CandyPipeline.run]] sorts them by date on the
    * driver). NOTE: consumes the FORMATTED orders/line-items tables
    * (strings) exactly like the reference does — line_total is re-cast
    * string→double, which is part of the observable numeric behavior.
    * cost_to_make comes from the inventory dimension, collected to the
    * driver.
    *
    * The reference joins every line item to the distinct (order, date)
    * pairs and sums per date; here the lines are summed per order first and
    * each pair takes its order's sums. Both add the same 2-dp values (once
    * per pair the order appears in), and a sum of 2-dp values rounded to
    * 2 dp does not depend on the order of summation. num_orders counts the
    * pairs of each date, as `countDistinct(order_id)` over them would; a
    * date none of whose orders has a line item is dropped, as the
    * reference's inner join on date drops it.
    *
    * One task reads both inputs (narrow coalesces) and runs the whole
    * summary, with no exchange.
    */
  def dailySummary(ordersFinal: DataFrame, lineItemsFinal: DataFrame,
                   inventory: DataFrame): DataFrame =
    dailySummary(ordersFinal, lineItemsFinal, inventory.collect().toSeq)

  /** [[dailySummary]] over inventory rows already on the driver, read by
    * field name. */
  def dailySummary(ordersFinal: DataFrame, lineItemsFinal: DataFrame,
                   inventory: Seq[Row]): DataFrame = {
    // each product_id's cost_to_make per product row, looked up in one map
    // literal; explode_outer yields a line once per product row, or once
    // with a null cost when none matches, as the reference's left join does
    val costs = typedLit(inventory
      .filterNot(r => r.isNullAt(r.fieldIndex("product_id")))
      .groupMap(_.getAs[Number]("product_id").longValue)(r =>
        Option(r.getAs[java.lang.Double]("cost_to_make")).map(_.doubleValue)))
    val lineTotal = col("line_total").cast("double")
    val perOrder = lineItemsFinal.coalesce(1)
      .withColumn("cost_to_make", explode_outer(try_element_at(costs, col("product_id"))))
      .groupBy("order_id")
      .agg(
        sum(lineTotal).as("sales"),
        sum(round(lineTotal - col("quantity") * col("cost_to_make"), 2)).as("profit"),
        count(lit(1)).as("lines"))
    ordersFinal.coalesce(1)
      .select(col("order_id"), to_date(col("order_datetime")).as("date"))
      .distinct()
      .join(broadcast(perOrder), Seq("order_id"), "left")
      .groupBy("date")
      .agg(
        count("order_id").as("num_orders"),
        round(sum("sales"), 2).as("total_sales"),
        round(sum("profit"), 2).as("total_profit"),
        count(when(col("date").isNotNull, col("lines"))).as("lines"))
      .where(col("lines") > 0)
      .select(
        col("date"), col("num_orders"),
        format_string("%.2f", col("total_sales")).as("total_sales"),
        format_string("%.2f", col("total_profit")).as("total_profit"))
  }
}
