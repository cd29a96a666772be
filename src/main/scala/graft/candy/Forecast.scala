package graft.candy

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DateType, DoubleType, StructField, StructType}
import java.time.LocalDate
import scala.jdk.CollectionConverters._

/** Driver-side univariate forecasting over the (tiny) daily summary series.
  *
  * The reference fits Prophet with re-generated training dates ending "today"
  * (reference src/time_series.py:21), which makes its output depend on the
  * run date — inherently irreproducible, and its CI accordingly excludes the
  * forecast CSV from value comparison (reference .gitlab-ci.yml:178-179).
  * We keep the API shape (fit / predict / metrics) but use a deterministic
  * ordinary-least-squares linear trend. The series is 10 points collected to
  * the driver — this is dimension-scale state, not a distributed concern.
  */
trait Forecaster {
  def fit(series: Array[Double]): Unit
  def predict(days: Int): Array[Double]
  def metrics: Map[String, Double]
}

/** OLS linear trend: y = a + b·t over t = 0..n-1. */
final class LinearTrendForecaster extends Forecaster {
  private var a = 0.0
  private var b = 0.0
  private var train: Array[Double] = Array.empty

  override def fit(series: Array[Double]): Unit = {
    require(series.nonEmpty, "cannot fit an empty series")
    train = series
    val n = series.length.toDouble
    val ts = series.indices.map(_.toDouble)
    val tBar = ts.sum / n
    val yBar = series.sum / n
    val sxx = ts.map(t => (t - tBar) * (t - tBar)).sum
    b = if (sxx == 0) 0.0 else ts.zip(series).map { case (t, y) => (t - tBar) * (y - yBar) }.sum / sxx
    a = yBar - b * tBar
  }

  override def predict(days: Int): Array[Double] =
    Array.tabulate(days)(i => a + b * (train.length + i))

  /** In-sample MAE/MSE, mirroring the reference's metric surface
    * (reference src/time_series.py:45-67).
    */
  override def metrics: Map[String, Double] = {
    val fitted = train.indices.map(t => a + b * t)
    val errs = train.zip(fitted).map { case (y, f) => y - f }
    Map(
      "mae" -> errs.map(math.abs).sum / errs.length,
      "mse" -> errs.map(e => e * e).sum / errs.length)
  }
}

object Forecast {

  /** Collect the daily summary, fit sales and profit models, and return the
    * forecast table (date, forecasted_sales, forecasted_profit) rounded to
    * 2 dp (reference src/data_processor.py:616-642, :745-767). Forecast dates
    * are last_date + 1..days — derived from the REAL series dates, matching
    * the reference's output-date logic (src/data_processor.py:752-754).
    * The summary may arrive in any row order: its rows (one per day) are
    * sorted by date here, on the driver.
    */
  def forecastSalesAndProfits(spark: SparkSession, dailySummary: DataFrame,
                              days: Int = 1): DataFrame =
    forecastSalesAndProfits(spark, dailySummary.select("date", "total_sales", "total_profit").collect().toSeq, days)

  /** [[forecastSalesAndProfits]] over summary rows already on the driver,
    * read by field name. The table is built as a driver-local frame: the
    * values are rounded as Spark's `round` does ([[Fulfillment.round2]]). */
  def forecastSalesAndProfits(spark: SparkSession, dailySummary: Seq[Row], days: Int): DataFrame = {
    val rows = dailySummary.sortBy(_.getAs[Any]("date").toString)
    require(rows.nonEmpty, "daily summary is empty")
    val lastDate = LocalDate.parse(rows.last.getAs[Any]("date").toString)
    def predict(field: String): Array[Double] = {
      val model = new LinearTrendForecaster
      model.fit(rows.map(_.getAs[String](field).toDouble).toArray)
      model.predict(days).map(Fulfillment.round2)
    }
    val sales = predict("total_sales")
    val profit = predict("total_profit")
    val out = (1 to days).map { i =>
      Row(java.sql.Date.valueOf(lastDate.plusDays(i)), sales(i - 1), profit(i - 1))
    }
    spark.createDataFrame(out.asJava, ForecastSchema)
  }

  private val ForecastSchema = StructType(Seq(
    StructField("date", DateType),
    StructField("forecasted_sales", DoubleType, nullable = false),
    StructField("forecasted_profit", DoubleType, nullable = false)))
}
