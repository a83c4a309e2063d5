package graft.core

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}

/** Typed models for the engine's core tables (SURVEY §1.1): `Dataset[T]`
  * views where compile-time safety helps library consumers; the underlying
  * plans are identical to the DataFrame forms (encoders are resolved once,
  * not per row).
  */
object Model {

  /** One row per (city-local) hour — the merged hourly table
    * (transform.py:139-188). */
  case class Hourly(
      time: Option[Timestamp],
      temp: Option[Double],
      rain: Option[Double],
      rh: Option[Double],
      wind: Option[Double],
      feels_like: Option[Double],
      wcode: Option[Double],
      dew_point: Option[Double],
      wind_dir: Option[Double],
      pm25: Option[Double],
      pm10: Option[Double],
      date: Option[Date])

  /** One row per day — the daily rollup (transform.py:89-109). */
  case class Daily(
      date: Option[Date],
      temp_min: Option[Double],
      temp_max: Option[Double],
      total_rain: Option[Double],
      pm25_avg: Option[Double],
      pm10_avg: Option[Double],
      pm25_category: String)

  implicit val hourlyEncoder: Encoder[Hourly] = Encoders.product[Hourly]
  implicit val dailyEncoder: Encoder[Daily] = Encoders.product[Daily]

  /** Typed views over the DataFrame pipeline outputs. `as[T]` only binds
    * columns by name/type — no data movement, the optimized plan is shared. */
  def hourly(df: DataFrame): Dataset[Hourly] = {
    import org.apache.spark.sql.functions.col
    df.withColumn("time", col("time").cast("timestamp")).as[Hourly]
  }
  def daily(df: DataFrame): Dataset[Daily] = df.as[Daily]
}
