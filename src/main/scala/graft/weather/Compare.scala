package graft.weather

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-city comparison pipeline (web.py:397-569 + app.js:837-1006):
  * union of per-city daily frames, per-city window transforms, ranked
  * summaries and the top-vs-second percent-difference narrative.
  *
  * Scale notes: everything is keyed by (city, date); the windows and the
  * ranked summary shuffle once on city. The reference fetches cities
  * sequentially (web.py:529-531) — here the unioned plan parallelizes
  * per-city partitions for free.
  */
object Compare {

  /** J2 + A2 (web.py:478-507): daily weather frame left-joined with the
    * group-by-date mean of hourly air rows, tagged with the city literal. */
  def cityDaily(dailyWeather: DataFrame, hourlyAir: DataFrame, city: String): DataFrame = {
    val dailyAir = hourlyAir
      .groupBy(to_date(col("time")).as("date"))
      .agg(avg("pm25").as("pm25_avg"), avg("pm10").as("pm10_avg"))
    dailyWeather
      .join(dailyAir, Seq("date"), "left_outer")
      .withColumn("city", lit(city))
  }

  private def byCityDate = Window.partitionBy("city").orderBy("date")

  /** W2 — centered 3-row moving average per city (app.js:859-872's
    * smoothSeries: window [i-1, i+1], shrinking at the edges — exactly
    * Spark's bounded-frame behavior). */
  def smooth(df: DataFrame, valueCol: String, outCol: String): DataFrame =
    df.withColumn(outCol, avg(col(valueCol)).over(byCityDate.rowsBetween(-1, 1)))

  /** W3 — per-city min-max normalization with the zero-range guard
    * (app.js:851-858: denominator `max - min || 1`). */
  def minMaxNormalize(df: DataFrame, valueCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy("city")
    val mn = min(col(valueCol)).over(w)
    val mx = max(col(valueCol)).over(w)
    val range = when(mx - mn === 0.0, 1.0).otherwise(mx - mn)
    df.withColumn(outCol, (col(valueCol) - mn) / range)
  }

  /** A9 + W4 — per-city mean & max of a metric, ranked descending by the
    * mean (app.js:874-883), deterministic tie-break by city. */
  def rankedSummary(df: DataFrame, metric: String): DataFrame = {
    df.groupBy("city")
      .agg(avg(col(metric)).as("avg_value"), max(col(metric)).as("max_value"))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("avg_value"), asc("city"))))
      .orderBy("rank")
  }

  /** A10 — top-vs-second percent difference over the ranked summary
    * (app.js:973-986: (top - second) / |second| * 100). */
  def topPairPctDiff(ranked: DataFrame): DataFrame = {
    val w = Window.orderBy("rank")
    ranked
      .withColumn("next_avg", lead("avg_value", 1).over(w))
      .filter(col("rank") === 1 && col("next_avg").isNotNull)
      .select(
        col("city").as("top_city"),
        col("avg_value").as("top_avg"),
        col("next_avg").as("second_avg"),
        ((col("avg_value") - col("next_avg")) / abs(col("next_avg")) * 100.0)
          .as("pct_diff"))
  }
}
