package graft.candy

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Sequential, time-ordered, per-product inventory fulfillment.
  *
  * Semantics (reference src/data_processor.py:33-62): for each product, walk
  * its order rows in time order with a running `available` stock; a row is
  * fulfilled in full iff `available > 0 && requested <= available` (then
  * stock decrements), otherwise it is CANCELLED (fulfilled = 0) and stock is
  * left untouched — later, smaller orders can still fulfill after a large one
  * was cancelled. This is not a prefix sum, so no window function can express
  * it; it is a per-key ordered fold.
  *
  * The reference runs a day-loop with an end-of-day inventory writeback
  * (reference src/data_processor.py:347-464). Because day d completes before
  * day d+1 and the within-day fold carries `available` continuously, a single
  * global fold per product ordered by (order_datetime, tie-break) is exactly
  * equivalent — one shuffle total instead of ten, and no 10-deep
  * union/outer-join lineage.
  *
  * Scale design: instead of `groupByKey(...).flatMapGroups` (which
  * materializes each group), we use the secondary-sort pattern —
  * `repartition($"product_id")` + `sortWithinPartitions(product, time)` +
  * `mapPartitions` with a streaming per-run fold. Each task streams its
  * partition once with O(1) state per product run; per-product order history
  * never has to fit in memory, so the operator survives products with
  * billions of rows. The inventory snapshot (one (stock, price) pair per
  * product) is a broadcast variable, as dimension state should be.
  *
  * [[run]] is the only kernel, and a hot product folds in one task:
  * splitting hot products by time range measured slower than this fold on
  * a 90%-one-product corpus (`kernel_split_speedup` 0.83 in
  * scale_smoke.json).
  */
object Fulfillment {

  /** The fold itself, pure and Spark-free. `rows` MUST arrive grouped by
    * product (all rows of a product consecutive) and, within a product, in
    * fulfillment order (day, seq). Carries `available` across the rows of
    * the current product only. Emits one output line per input row
    * (cancelled rows keep quantity 0 with line_total 0.00, matching
    * reference src/data_processor.py:53-58); a product missing from
    * `inventory` has no stock and price 0. With `reloadDaily`, stock
    * reloads to the snapshot at each day boundary.
    */
  def fold(
      rows: Iterator[ItemRow],
      inventory: Map[Long, InventoryEntry],
      reloadDaily: Boolean): Iterator[FulfilledLine] = {
    var currentPid = Long.MinValue
    var currentDay = ""
    var available = 0
    var snapshotStock = 0
    var price = 0.0
    rows.map { r =>
      if (r.product_id != currentPid) {
        currentPid = r.product_id
        currentDay = r.order_datetime.take(10)
        val e = inventory.getOrElse(r.product_id, InventoryEntry(0, 0.0))
        snapshotStock = e.stock
        available = e.stock
        price = e.price
      } else if (!r.order_datetime.regionMatches(0, currentDay, 0, 10)) {
        // allocation-free day-boundary check on the hot path; the day is
        // tracked in BOTH modes (order_date must be per-row truthful),
        // but only reloadDaily resets the stock
        currentDay = r.order_datetime.take(10)
        if (reloadDaily) available = snapshotStock
      }
      val fulfilled =
        if (available > 0 && r.quantity <= available) { available -= r.quantity; r.quantity }
        else 0
      FulfilledLine(r.order_id, r.product_id, fulfilled, price,
        round2(fulfilled * price), currentDay)
    }
  }

  /** 2-dp HALF_UP rounding on the shortest decimal representation of the
    * double — the same contract as Spark's `round` expression, used inside
    * the kernel so kernel output and DataFrame-side rounding agree.
    */
  def round2(x: Double): Double =
    BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Distributed fulfillment over cleaned line items: one repartition by
    * product, one within-partition sort, then [[fold]] streams each
    * partition.
    *
    * The repartition is a no-op when `items` already arrives hash-partitioned
    * by product_id into the session's shuffle-partition count, as
    * [[Outputs.prepareItems]] leaves it: the planner (`EnsureRequirements`)
    * then drops this exchange, so the batch shuffles once for dedup and
    * fold together. Any other input (specs, ScaleSmoke) is shuffled here.
    *
    * @param items       cleaned items (order_id, order_datetime, product_id, quantity)
    * @param inventory   product_id -> (stock, sales_price) snapshot, broadcast
    * @param reloadDaily reference config `reload_inventory_daily`
    *                    (reference src/data_processor.py:90, declared there
    *                    but never applied by its day loop): when set, each
    *                    product's stock resets to the snapshot at the start
    *                    of every day instead of carrying across days.
    */
  def run(
      spark: SparkSession,
      items: Dataset[ItemRow],
      inventory: Map[Long, InventoryEntry],
      reloadDaily: Boolean = false): Dataset[FulfilledLine] = {
    import spark.implicits._
    val inv = spark.sparkContext.broadcast(inventory)
    items
      .repartition(col("product_id"))
      // Golden fulfillment order: per product, by day then ARRIVAL order
      // within the day's file (stable-sort-on-date semantics — SURVEY §5.3;
      // the ISO prefix substring is the date, avoiding a to_date cast).
      .sortWithinPartitions(col("product_id"), substring(col("order_datetime"), 1, 10), col("seq"))
      .mapPartitions(rows => fold(rows, inv.value, reloadDaily))
  }

  /** Inventory snapshot for the kernel: product_id -> (stock, sales_price).
    * 30 rows in the reference corpus; at scale this is still a dimension
    * (products), so collect-and-broadcast is the right shape.
    */
  def snapshot(products: DataFrame): Map[Long, InventoryEntry] =
    products.select("product_id", "stock", "sales_price").collect().map { r =>
      val pid = r.get(0) match { case i: Int => i.toLong; case l: Long => l }
      pid -> InventoryEntry(
        if (r.isNullAt(1)) 0 else r.getInt(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2))
    }.toMap

  /** Post-fulfillment inventory under CARRY-OVER semantics: initial stock
    * minus all fulfilled units (replaces the reference's per-day outer-join
    * stack, reference src/data_processor.py:444-464). NOT valid when the
    * kernel ran with reloadDaily — use updatedInventoryDailyReload, which
    * only subtracts the final day's sales.
    */
  def updatedInventory(products: DataFrame, fulfilled: Dataset[FulfilledLine]): DataFrame = {
    val sold = fulfilled.groupBy("product_id")
      .agg(sum("quantity").as("total_quantity_sold"))
    products
      .join(broadcast(sold), Seq("product_id"), "left")
      .withColumn("stock",
        (col("stock") - coalesce(col("total_quantity_sold"), lit(0))).cast("int"))
      .drop("total_quantity_sold")
  }

  /** Post-fulfillment inventory under DAILY-RELOAD semantics: every day
    * starts from the snapshot, so the end state is the snapshot minus units
    * sold on the period's final day only.
    */
  def updatedInventoryDailyReload(products: DataFrame,
                                  fulfilled: Dataset[FulfilledLine]): DataFrame = {
    val lastDay = fulfilled.agg(max("order_date")).head().getString(0)
    val sold = fulfilled.filter(col("order_date") === lit(lastDay))
      .groupBy("product_id")
      .agg(sum("quantity").as("total_quantity_sold"))
    products
      .join(broadcast(sold), Seq("product_id"), "left")
      .withColumn("stock",
        (col("stock") - coalesce(col("total_quantity_sold"), lit(0))).cast("int"))
      .drop("total_quantity_sold")
  }
}
