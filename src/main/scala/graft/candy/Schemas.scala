package graft.candy

import org.apache.spark.sql.types._

/** Explicit schemas for every entity of the candy pipeline.
  *
  * The reference infers every schema (reference src/data_processor.py:105-114);
  * we declare them explicitly — inference is a reproducibility hazard and an
  * extra pass over the data at scale.
  */
object Schemas {

  /** transactions_YYYYMMDD.json — multiline JSON array, one file per day.
    * `timestamp` stays a STRING end-to-end (ISO-8601 with microseconds): the
    * golden orders.csv carries the raw string (reference
    * data/answers_32/orders.csv:2), so parsing it to TimestampType would lose
    * fidelity. `qty` is nullable (2,254 nulls in the reference corpus).
    */
  val transactions: StructType = StructType(Seq(
    StructField("transaction_id", LongType),
    StructField("customer_id", LongType),
    StructField("timestamp", StringType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("product_id", LongType),
      StructField("product_name", StringType),
      StructField("qty", LongType)
    ))))
  ))

  /** products.csv — the mutable inventory (reference data/dataset_32/products.csv:1). */
  val products: StructType = StructType(Seq(
    StructField("product_id", IntegerType),
    StructField("product_name", StringType),
    StructField("product_category", StringType),
    StructField("product_subcategory", StringType),
    StructField("product_shape", StringType),
    StructField("sales_price", DoubleType),
    StructField("cost_to_make", DoubleType),
    StructField("stock", IntegerType)
  ))

  /** customers.csv (reference data/dataset_32/customers.csv:1). Never joined in
    * any transformation — carried for the seeding path only.
    */
  val customers: StructType = StructType(Seq(
    StructField("customer_id", IntegerType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType),
    StructField("address", StringType),
    StructField("phone", StringType)
  ))
}

/** One exploded, cleaned order line item (pre-fulfillment). `seq` is the
  * deterministic arrival position (file index << 40 | row position in the
  * scan partition holding the whole file) — the
  * golden fulfillment order is (order_date, seq), i.e. day-file arrival
  * order, NOT the datetime sort (see SURVEY §5.3 and Ingest.readTransactionsOrdered).
  */
case class ItemRow(
    order_id: Long,
    order_datetime: String,
    product_id: Long,
    quantity: Int,
    seq: Long)

/** One fulfilled (or cancelled, quantity=0) line item. `order_date` is the
  * fulfillment day (ISO prefix) — carried so inventory writeback can apply
  * either carry-over or daily-reload semantics.
  */
case class FulfilledLine(
    order_id: Long,
    product_id: Long,
    quantity: Int,
    unit_price: Double,
    line_total: Double,
    order_date: String)

/** Inventory snapshot entry broadcast to the fulfillment kernel. */
case class InventoryEntry(stock: Int, price: Double)
