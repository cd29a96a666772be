package graft.candy

import graft.SparkTestBase
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{lit, raise_error}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The whole candy batch — `CandyPipeline.run` plus the five sinks of
  * `CandyPipeline.main` — on a two-day, three-product corpus written here,
  * so the end-to-end contract is checked without the reference corpus.
  *
  * The corpus covers the reference's edge cases (FIXTURES.md A1): a null
  * `qty` beside a real item (order 101), an order whose only item has a
  * null `qty` (106, absent from orders.csv), a whole-row duplicate item
  * (107), a large order cancelled for lack of stock followed by a smaller
  * one that fulfills (102, 103), and two orders with equal timestamps
  * competing for scarce stock (105 arrives before 104 in the day file and
  * wins, although 104 sorts first by id).
  *
  * Beside the values it pins the batch's shape: every input record is read
  * from its file once, dedup and fold share one shuffle, no output is
  * range-sorted, the inventory sink shuffles nothing, the bytes written do
  * not depend on the shuffle partition count, and neither a failing `run`
  * nor a failing sink leaves anything behind.
  */
class CandyPipelineSpec extends SparkTestBase {

  private val products = Seq(
    "product_id,product_name,product_category,product_subcategory,product_shape,sales_price,cost_to_make,stock",
    "1,Gum,candy,chewing,stick,2.50,1.00,10",
    "2,Taffy,candy,chewy,square,1.25,0.50,5",
    "3,Mint,candy,hard,round,0.80,0.30,100")

  private def tx(id: Int, customer: Int, time: String, items: (Int, String, Any)*): String =
    items.map { case (pid, name, qty) =>
      s"""{"product_id": $pid, "product_name": "$name", "qty": $qty}"""
    }.mkString(s"""{"transaction_id": $id, "customer_id": $customer, "timestamp": "$time", "items": [""", ", ", "]}")

  private val days = Seq(
    "transactions_20240201.json" -> Seq(
      tx(101, 1, "2024-02-01T09:00:00.000000", (1, "Gum", 8), (2, "Taffy", null)),
      tx(102, 2, "2024-02-01T10:00:00.000000", (1, "Gum", 5)),
      tx(103, 3, "2024-02-01T10:00:00.000000", (1, "Gum", 2)),
      tx(105, 5, "2024-02-01T11:00:00.000000", (2, "Taffy", 3)),
      tx(104, 4, "2024-02-01T11:00:00.000000", (2, "Taffy", 4)),
      tx(106, 6, "2024-02-01T12:00:00.000000", (3, "Mint", null)),
      tx(107, 7, "2024-02-01T13:00:00.000000", (3, "Mint", 10), (3, "Mint", 10))),
    "transactions_20240202.json" -> Seq(
      tx(201, 1, "2024-02-02T08:00:00.000000", (1, "Gum", 1), (3, "Mint", 5)),
      tx(202, 5, "2024-02-02T09:30:00.000000", (2, "Taffy", 2))))

  private val transactionCount = days.map(_._2.size).sum

  private def writeCorpus(days: Seq[(String, Seq[String])], products: Seq[String]): Path = {
    val dir = Paths.get(tempDir("graft-candy-batch"))
    Files.write(dir.resolve("products.csv"), products.asJava)
    for ((file, rows) <- days) Files.writeString(dir.resolve(file), rows.mkString("[\n", ",\n", "\n]"))
    dir
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  private val sinks = Seq("products_updated.csv", "orders.csv", "order_line_items.csv",
    "daily_summary.csv", "sales_profit_forecast.csv")

  /** `CandyPipeline.main`'s batch: run, then the five sinks in its order;
    * returns each file's bytes. The caches `run` leaves are cleared. */
  private def batchBytes(dataDir: Path, reloadDaily: Boolean): Map[String, Seq[Byte]] = {
    val out = Paths.get(tempDir("graft-candy-out"))
    try {
      val r = CandyPipeline.run(spark, dataDir.toString, reloadDaily = reloadDaily)
      val frames = Seq(r.productsUpdated, r.orders, r.orderLineItems, r.dailySummary, r.forecast)
      for ((df, file) <- frames.zip(sinks)) Ingest.saveSingleCsv(df, out.toString, file)
      sinks.map(f => f -> Files.readAllBytes(out.resolve(f)).toSeq).toMap
    } finally {
      spark.catalog.clearCache()
      deleteRecursively(out)
    }
  }

  /** [[batchBytes]], as each file's lines. */
  private def batch(dataDir: Path, reloadDaily: Boolean): Map[String, Seq[String]] =
    batchBytes(dataDir, reloadDaily).map { case (f, bytes) =>
      f -> new String(bytes.toArray, StandardCharsets.UTF_8).linesIterator.toSeq
    }

  private def withCorpus[A](days: Seq[(String, Seq[String])], products: Seq[String] = products)(
      body: Path => A): A = {
    val dir = writeCorpus(days, products)
    try body(dir) finally deleteRecursively(dir)
  }

  private val lineItemsCarry = Seq(
    "order_id,product_id,quantity,unit_price,line_total",
    "101,1,8,2.50,20.00",
    "102,1,0,2.50,0.00",
    "103,1,2,2.50,5.00",
    "104,2,0,1.25,0.00",
    "105,2,3,1.25,3.75",
    "107,3,10,0.80,8.00",
    "201,1,0,2.50,0.00",
    "201,3,5,0.80,4.00",
    "202,2,2,1.25,2.50")

  private def orders(total201: String) = Seq(
    "order_id,order_datetime,customer_id,total_amount,num_items",
    "101,2024-02-01T09:00:00.000000,1,20.00,1",
    "102,2024-02-01T10:00:00.000000,2,0.00,1",
    "103,2024-02-01T10:00:00.000000,3,5.00,1",
    "104,2024-02-01T11:00:00.000000,4,0.00,1",
    "105,2024-02-01T11:00:00.000000,5,3.75,1",
    "107,2024-02-01T13:00:00.000000,7,8.00,1",
    s"201,2024-02-02T08:00:00.000000,1,$total201,2",
    "202,2024-02-02T09:30:00.000000,5,2.50,1")

  test("carry-over batch writes the exact rows of all five outputs") {
    val out = withCorpus(days)(batch(_, reloadDaily = false))
    assert(out("order_line_items.csv") == lineItemsCarry)
    assert(out("orders.csv") == orders("4.00"))
    assert(out("products_updated.csv") == Seq(
      "product_id,product_name,current_stock",
      "1,Gum,0",
      "2,Taffy,0",
      "3,Mint,85"))
    assert(out("daily_summary.csv") == Seq(
      "date,num_orders,total_sales,total_profit",
      "2024-02-01,6,36.75,22.25",
      "2024-02-02,2,6.50,4.00"))
    assert(out("sales_profit_forecast.csv") == Seq(
      "date,forecasted_sales,forecasted_profit",
      "2024-02-03,-23.75,-14.25"))
  }

  test("daily-reload batch restocks each day and writes back only the last day's sales") {
    val out = withCorpus(days)(batch(_, reloadDaily = true))
    assert(out("order_line_items.csv") == lineItemsCarry.map {
      case "201,1,0,2.50,0.00" => "201,1,1,2.50,2.50" // gum restocked on day 2
      case line => line
    })
    assert(out("orders.csv") == orders("6.50"))
    assert(out("products_updated.csv") == Seq(
      "product_id,product_name,current_stock",
      "1,Gum,9",
      "2,Taffy,3",
      "3,Mint,95"))
    assert(out("daily_summary.csv") == Seq(
      "date,num_orders,total_sales,total_profit",
      "2024-02-01,6,36.75,22.25",
      "2024-02-02,2,9.00,5.50"))
    assert(out("sales_profit_forecast.csv") == Seq(
      "date,forecasted_sales,forecasted_profit",
      "2024-02-03,-18.75,-11.25"))
  }

  test("a product row with an empty id is written back unchanged and first") {
    val ghost = ",Ghost,candy,chewing,stick,1.00,0.40,7"
    val out = withCorpus(days, products :+ ghost)(batch(_, reloadDaily = false))
    assert(out("products_updated.csv") == Seq(
      "product_id,product_name,current_stock",
      ",Ghost,7",
      "1,Gum,0",
      "2,Taffy,0",
      "3,Mint,85"))
    assert(out("order_line_items.csv") == lineItemsCarry)
    assert(out("orders.csv") == orders("4.00"))
  }

  test("the outputs do not depend on the shuffle partition count") {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      withCorpus(days) { dir =>
        for (reloadDaily <- Seq(false, true)) {
          val outs = Seq("1", "4", "7").map { partitions =>
            spark.conf.set("spark.sql.shuffle.partitions", partitions)
            partitions -> batchBytes(dir, reloadDaily)
          }
          for ((partitions, files) <- outs.tail; f <- sinks)
            assert(files(f) == outs.head._2(f), s"$f at $partitions partitions, reloadDaily=$reloadDaily")
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("a failing sink write leaves no scratch behind and the existing file untouched") {
    val out = Paths.get(tempDir("graft-candy-out"))
    try {
      Files.writeString(out.resolve("orders.csv"), "previous\n")
      val failing = spark.range(3).select(raise_error(lit("boom")).cast("string").as("x"))
      val e = intercept[Exception](Ingest.saveSingleCsv(failing, out.toString, "orders.csv"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")), e)
      assert(Files.list(out).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("orders.csv"))
      assert(Files.readString(out.resolve("orders.csv")) == "previous\n")
    } finally deleteRecursively(out)
  }

  /** Every node of an executed plan, through the adaptive, command and
    * cache wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case m: InMemoryTableScanExec => p +: nodes(m.relation.cachedPlan)
    case _ => p +: p.children.flatMap(nodes)
  }

  test("the batch reads each input record from its file once") {
    withCorpus(days) { dir =>
      // Rows produced by the file-scan operators of every action the batch
      // runs. Each physical scan counts once however many plans share it
      // (a cached frame's scan sits under every plan that reads the cache),
      // and its metric sums every execution. Task-level recordsRead would
      // also count each cached batch a later stage reads.
      val scans = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          scans.synchronized {
            nodes(qe.executedPlan).foreach { case s: FileSourceScanExec => scans.add(s); case _ => }
          }
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        batch(dir, reloadDaily = false)
        ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      val rowsRead = scans.synchronized(scans.asScala.toSeq.map(_.metrics("numOutputRows").value).sum)
      assert(rowsRead == transactionCount + products.size - 1)
    }
  }

  test("no output is range-sorted, and the inventory sink shuffles nothing") {
    withCorpus(days) { dir =>
      val plans = mutable.ArrayBuffer.empty[SparkPlan]
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          plans.synchronized(plans += qe.executedPlan)
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      /** The executed plans of every action `body` runs. */
      def executed(body: => Unit): Seq[SparkPlan] = {
        plans.synchronized(plans.clear())
        body
        ListenerBusDrain(spark.sparkContext)
        plans.synchronized(plans.toList)
      }
      val out = Paths.get(tempDir("graft-candy-out"))
      spark.listenerManager.register(listener)
      val (batchPlans, inventoryPlans) = try {
        var r: CandyPipeline.Results = null
        val runPlans = executed { r = CandyPipeline.run(spark, dir.toString) }
        val inventoryPlans = executed(Ingest.saveSingleCsv(r.productsUpdated, out.toString, sinks.head))
        val sinkPlans = executed {
          val frames = Seq(r.orders, r.orderLineItems, r.dailySummary, r.forecast)
          for ((df, file) <- frames.zip(sinks.tail)) Ingest.saveSingleCsv(df, out.toString, file)
        }
        (runPlans ++ inventoryPlans ++ sinkPlans, inventoryPlans)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.catalog.clearCache()
        deleteRecursively(out)
      }
      def exchanges(ps: Seq[SparkPlan]) = ps.flatMap(nodes).collect { case e: ShuffleExchangeLike => e }
      val ranged = exchanges(batchPlans).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
      assert(ranged.isEmpty, ranged.mkString("\n"))
      assert(inventoryPlans.nonEmpty)
      assert(exchanges(inventoryPlans).isEmpty, inventoryPlans.mkString("\n"))
    }
  }

  test("dedup and the fold share one shuffle exchange") {
    withCorpus(days) { dir =>
      val tx = Ingest.readTransactionsOrdered(spark, dir.toString)
      val inventory = Map(1L -> InventoryEntry(10, 2.5), 2L -> InventoryEntry(5, 1.25))
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        for (partitions <- Seq("4", "7")) {
          spark.conf.set("spark.sql.shuffle.partitions", partitions)
          val fulfilled = Fulfillment.run(spark, Outputs.prepareItems(tx)(spark), inventory)
          assert(fulfilled.collect().length == 9)
          val exchanges = nodes(fulfilled.queryExecution.executedPlan)
            .collect { case e: ShuffleExchangeLike => e }
          assert(exchanges.size == 1, s"at $partitions partitions: ${fulfilled.queryExecution.executedPlan}")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }
  }

  test("a failing run releases every frame it cached") {
    val allNull = Seq(
      "transactions_20240201.json" -> Seq(tx(301, 1, "2024-02-01T09:00:00.000000", (1, "Gum", null))),
      "transactions_20240202.json" -> Seq(tx(302, 2, "2024-02-02T09:00:00.000000", (3, "Mint", null))))
    withCorpus(allNull) { dir =>
      spark.catalog.clearCache()
      val cacheManager = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      // no item survives cleaning, so the daily summary is empty and the
      // forecast's precondition throws
      intercept[IllegalArgumentException](CandyPipeline.run(spark, dir.toString))
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
      assert(cacheManager.isEmpty)
    }
  }
}
