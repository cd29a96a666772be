package graft.candy

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Golden E2E: run the full pipeline on the reference's dataset_32 and
  * compare against data/answers_32 with the reference CI's comparison rules
  * (reference .gitlab-ci.yml:118-180): shape + column names, positional row
  * order, money columns |a-b| <= 0.01 + 0.01*|b|, order_datetime
  * parsed-datetime equality, everything else exact; the forecast CSV is
  * validated structurally only.
  *
  * The unit-level fold checks live in FulfillmentSpec; this is the
  * end-to-end contract of the one fulfillment kernel (the `[fold]` tests).
  */
class CandyGoldenSpec extends SparkTestBase {

  private val dataDir = "/root/reference/data/dataset_32"
  private val goldenDir = "/root/reference/data/answers_32"
  private val moneyCols = Set("total_amount", "line_total", "total_sales", "total_profit")

  private lazy val results: CandyPipeline.Results = CandyPipeline.run(spark, dataDir)

  private def readCsv(path: String): (Array[String], Array[Array[String]]) = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toArray
    (lines.head.split(",", -1), lines.tail.map(_.split(",", -1)))
  }

  private def dfRows(df: DataFrame): (Array[String], Array[Array[String]]) = {
    val cols = df.columns
    val rows = df.collect().map(r =>
      cols.indices.map(i => if (r.isNullAt(i)) "" else r.get(i).toString).toArray)
    (cols, rows)
  }

  private def compare(name: String, df: DataFrame, goldenFile: String,
                      maxMismatchFrac: Double = 0.0): Unit = {
    val (gCols, gRows) = readCsv(s"$goldenDir/$goldenFile")
    val (aCols, aRows) = dfRows(df)
    assert(aCols.sameElements(gCols), s"$name columns: ${aCols.mkString(",")} vs ${gCols.mkString(",")}")
    assert(aRows.length == gRows.length, s"$name rows: ${aRows.length} vs ${gRows.length}")
    var mismatches = 0
    gRows.indices.foreach { i =>
      gCols.indices.foreach { j =>
        val g = gRows(i)(j); val a = aRows(i)(j); val cn = gCols(j)
        val ok =
          if (moneyCols(cn)) {
            val gv = g.replace(",", "").toDouble; val av = a.replace(",", "").toDouble
            math.abs(av - gv) <= 0.01 + 0.01 * math.abs(gv)
          } else if (cn == "order_datetime")
            java.time.LocalDateTime.parse(a) == java.time.LocalDateTime.parse(g)
          else a == g
        if (!ok) {
          mismatches += 1
          if (mismatches <= 5)
            info(s"$name row $i col $cn: got '$a' want '$g' (golden row: ${gRows(i).mkString(",")})")
        }
      }
    }
    val frac = mismatches.toDouble / (gRows.length.toLong * gCols.length)
    assert(frac <= maxMismatchFrac,
      s"$name: $mismatches mismatched cells (${frac * 100}%, allowed ${maxMismatchFrac * 100}%)")
  }

  test("[fold] products_updated matches golden") {
    compare("products_updated", results.productsUpdated, "products_updated.csv")
  }

  test("[fold] daily_summary matches golden") {
    compare("daily_summary", results.dailySummary, "daily_summary.csv")
  }

  test("[fold] orders matches golden") {
    compare("orders", results.orders, "orders.csv")
  }

  test("[fold] order_line_items matches golden") {
    compare("order_line_items", results.orderLineItems, "order_line_items.csv")
  }

  test("forecast is structurally valid: next-day date, 2dp values") {
    val rows = results.forecast.collect()
    assert(rows.length == 1)
    assert(rows(0).get(0).toString == "2024-02-11")
    val s = rows(0).getDouble(1); val p = rows(0).getDouble(2)
    assert(s > 0 && p > 0)
    assert(BigDecimal(s).scale <= 2 && BigDecimal(p).scale <= 2)
  }
}
