package graft.candy

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate

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
                              days: Int = 1): DataFrame = {
    import spark.implicits._
    val rows = dailySummary.select("date", "total_sales", "total_profit").collect()
      .sortBy(_.get(0).toString)
    require(rows.nonEmpty, "daily summary is empty")
    val dates = rows.map(r => LocalDate.parse(r.get(0).toString))
    val sales = rows.map(_.getString(1).toDouble)
    val profit = rows.map(_.getString(2).toDouble)

    val salesModel = new LinearTrendForecaster
    val profitModel = new LinearTrendForecaster
    salesModel.fit(sales)
    profitModel.fit(profit)

    val lastDate = dates.last
    val out = (1 to days).map { i =>
      (java.sql.Date.valueOf(lastDate.plusDays(i)),
        salesModel.predict(days)(i - 1),
        profitModel.predict(days)(i - 1))
    }
    out.toDF("date", "forecasted_sales", "forecasted_profit")
      .withColumn("forecasted_sales", round(col("forecasted_sales"), 2))
      .withColumn("forecasted_profit", round(col("forecasted_profit"), 2))
  }
}
