package graft.candy

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

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
  *
  * The inventory write-back, [[updatedInventory]], is one path for both
  * stock modes: a dimension-sized sum of units sold per (product, day),
  * subtracted from the product rows on the driver.
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
    * the kernel and the driver-side forecast so they agree with
    * DataFrame-side rounding.
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
    * (products), so collect-and-broadcast is the right shape. A row with an
    * empty product_id is skipped: no item can match it.
    */
  def snapshot(products: DataFrame): Map[Long, InventoryEntry] =
    snapshot(products.select("product_id", "stock", "sales_price").collect().toSeq)

  /** [[snapshot]] of product rows already on the driver, read by field
    * name; a later row of the same product_id wins. */
  def snapshot(products: Seq[Row]): Map[Long, InventoryEntry] =
    products.collect {
      case r if !r.isNullAt(r.fieldIndex("product_id")) =>
        val stock = r.fieldIndex("stock")
        val price = r.fieldIndex("sales_price")
        r.getAs[Number]("product_id").longValue -> InventoryEntry(
          if (r.isNullAt(stock)) 0 else r.getInt(stock),
          if (r.isNullAt(price)) 0.0 else r.getDouble(price))
    }.toMap

  /** The products_updated output (reference src/data_processor.py:444-464,
    * :574-582; it replaces the reference's per-day outer-join stack):
    * (product_id, product_name, current_stock) for every product row, its
    * stock minus the units it sold, as a driver-local frame in product_id
    * order (an empty id first, its stock unchanged).
    *
    * Units sold per (product, day) are summed inside each partition of
    * `fulfilled` and merged on the driver: one job and no shuffle, and at
    * most partitions × products × days rows reach the driver. Under
    * carry-over every day's sales count; with `reloadDaily` each day
    * restarts from the snapshot, so only the final day's sales do.
    *
    * @param products the product rows, on the driver (schema [[Schemas.products]])
    */
  def updatedInventory(products: Seq[Row], fulfilled: Dataset[FulfilledLine],
                       reloadDaily: Boolean): DataFrame = {
    val schema = fulfilled.schema
    val (pidAt, qtyAt, dayAt) =
      (schema.fieldIndex("product_id"), schema.fieldIndex("quantity"), schema.fieldIndex("order_date"))
    // The rows as the plan produces them: no encoder, so no generated
    // (de)serializer. The job runs as a SQL execution of the session, as a
    // Dataset action would, so its stages (and any cache they build) run
    // with the session's task class loader.
    val qe = fulfilled.queryExecution
    val sold = SQLExecution.withNewExecutionId(qe, Some("updatedInventory")) {
      qe.toRdd.mapPartitions { lines =>
        val units = mutable.HashMap.empty[(Long, String), Long].withDefaultValue(0L)
        lines.foreach(l => units((l.getLong(pidAt), l.getUTF8String(dayAt).toString)) += l.getInt(qtyAt))
        units.iterator.map { case ((pid, day), n) => (pid, day, n) }
      }.collect()
    }
    val lastDay = if (sold.isEmpty) "" else sold.map(_._2).max
    val soldByProduct = sold.collect { case (pid, day, n) if !reloadDaily || day == lastDay => pid -> n }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val rows = products.map { r =>
      val pid = r.getAs[Number]("product_id")
      val stock = r.getAs[Integer]("stock")
      val current =
        if (pid == null || stock == null) stock
        else Integer.valueOf((stock - soldByProduct.getOrElse(pid.longValue, 0L)).toInt)
      Row(pid, r.getAs[String]("product_name"), current)
    }.sortBy(r => Option(r.getAs[Number](0)).map(_.longValue))
    fulfilled.sparkSession.createDataFrame(rows.asJava, UpdatedSchema)
  }

  private val UpdatedSchema = StructType(Seq(
    Schemas.products("product_id"),
    Schemas.products("product_name"),
    Schemas.products("stock").copy(name = "current_stock")))
}
