package graft

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.queries.DocQueries
import graft.weather.{WeatherSources, WeatherTransform}

/** Golden-value transform parity (FIXTURES.md §1.5) plus the ragged-input
  * guards of transform.py:18-29 (§1.9). The reference's own test asserts only
  * schema; we assert exact cell values. */
class WeatherTransformSpec extends SparkSpec {
  import spark.implicits._

  private def raw(json: String) = WeatherSources.rawFromJson(spark, json)

  test("golden daily output from reference fixtures") {
    val daily = WeatherTransform.daily(
      raw(DocQueries.FixtureWeatherJson), raw(DocQueries.FixtureAirJson))
    val rows = daily.orderBy("date").collect()
    assert(daily.columns.toSeq == Seq("date", "temp_min", "temp_max",
      "total_rain", "pm25_avg", "pm10_avg", "pm25_category", "sunrise", "sunset"))
    assert(rows.length == 2)
    // fixture carries no daily block -> sunrise/sunset null (optional field)
    assert(rows(0).toSeq == Seq(Date.valueOf("2025-01-01"), 25.0, 26.5, 0.1, 15.0, 27.5, "Sedang", null, null))
    assert(rows(1).toSeq == Seq(Date.valueOf("2025-01-02"), 24.0, 24.0, 2.4, 40.0, 60.0, "Tidak sehat (sensitif)", null, null))
  }

  test("sunrise/sunset plumb through from the optional daily block") {
    val withBlock = raw(
      """{"hourly": {"time": ["2025-01-01T00:00", "2025-01-02T00:00"],
        |  "temperature_2m": [25.0, 24.0], "precipitation": [0.0, 1.0]},
        | "daily": {"time": ["2025-01-01", "2025-01-02"],
        |  "sunrise": ["2025-01-01T05:58", "2025-01-02T05:59"],
        |  "sunset": ["2025-01-01T18:10", "2025-01-02T18:11"]}}""".stripMargin)
    val a = raw("""{"hourly": {"time": []}}""")
    val rows = WeatherTransform.daily(withBlock, a).orderBy("date").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("sunrise")).toSeq ==
      Seq("2025-01-01T05:58", "2025-01-02T05:59"))
    assert(rows.map(_.getAs[String]("sunset")).toSeq ==
      Seq("2025-01-01T18:10", "2025-01-02T18:11"))
    // ragged sunset array nulls only itself; sunrise survives
    val ragged = raw(
      """{"hourly": {"time": ["2025-01-01T00:00"], "temperature_2m": [25.0],
        |  "precipitation": [0.0]},
        | "daily": {"time": ["2025-01-01"],
        |  "sunrise": ["2025-01-01T05:58"], "sunset": []}}""".stripMargin)
    val r = WeatherTransform.daily(ragged, a).collect()
    assert(r.length == 1)
    assert(r(0).getAs[String]("sunrise") == "2025-01-01T05:58")
    assert(r(0).getAs[String]("sunset") == null)
  }

  test("hourly output: full column order, missing fields null") {
    val hourly = WeatherTransform.hourly(
      raw(DocQueries.FixtureWeatherJson), raw(DocQueries.FixtureAirJson))
    assert(hourly.columns.toSeq == Seq("time", "temp", "rain", "rh", "wind",
      "feels_like", "wcode", "dew_point", "wind_dir", "pm25", "pm10", "date"))
    val rows = hourly.orderBy("time").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("temp") == 25.0)
    assert(rows(0).getAs[Double]("pm25") == 10.0)
    assert(rows(0).isNullAt(rows(0).fieldIndex("rh"))) // field absent from raw
  }

  test("ragged field arrays null only themselves (transform.py:24-28)") {
    val w = raw("""{"hourly": {"time": ["2025-01-01T00:00", "2025-01-01T01:00"],
      "temperature_2m": [20.0], "precipitation": [1.0, 2.0]}}""")
    val a = raw("""{"hourly": {"time": []}}""")
    val hourly = WeatherTransform.hourlyFrame(w,
      Seq("temperature_2m" -> "temp", "precipitation" -> "rain"))
    val rows = hourly.orderBy("time").collect()
    assert(rows.length == 2) // spine intact
    assert(rows.forall(_.isNullAt(1))) // ragged temp -> all null
    assert(rows.map(_.getString(2)).toSeq == Seq("1.0", "2.0")) // rain intact
    // and through the full daily pipeline: temp stats null, rain aggregated
    val daily = WeatherTransform.daily(w, a).collect()
    assert(daily.length == 1)
    assert(daily(0).isNullAt(1) && daily(0).isNullAt(2))
    assert(daily(0).getAs[Double]("total_rain") == 3.0)
  }

  test("non-numeric measurements coerce to null; bad timestamps drop rows") {
    val w = raw("""{"hourly": {"time": ["2025-01-01T00:00", "oops"],
      "temperature_2m": [20.0, 21.0], "precipitation": ["x", 2.0]}}""")
    val a = raw("""{"hourly": {"time": ["2025-01-01T00:00"], "pm2_5": [5.0], "pm10": [7.0]}}""")
    val daily = WeatherTransform.daily(w, a).collect()
    assert(daily.length == 1) // "oops" row dropped (null date filter)
    assert(daily(0).getAs[Double]("temp_min") == 20.0)
    assert(daily(0).getAs[Double]("total_rain") == 0.0) // "x" -> null; sum repaired to 0
  }

  test("empty hourly block (fail-soft shape of web.py:440) yields zero rows") {
    val empty = WeatherSources.emptyRaw(spark)
    assert(WeatherTransform.daily(empty, empty).count() == 0)
  }

  test("alert flags derived from reference thresholds (SURVEY §2.6 gap)") {
    val daily = Seq(
      (Date.valueOf("2025-01-01"), 34.0, 25.0, 10.0),
      (Date.valueOf("2025-01-02"), 30.0, 5.0, 40.0))
      .toDF("date", "temp_max", "total_rain", "pm25_avg")
    val flagged = WeatherTransform.withAlertFlags(daily).orderBy("date").collect()
    assert(flagged(0).getAs[Boolean]("is_hot_day"))
    assert(flagged(0).getAs[Boolean]("is_heavy_rain"))
    assert(!flagged(0).getAs[Boolean]("is_unhealthy_pm25"))
    assert(!flagged(1).getAs[Boolean]("is_hot_day"))
    assert(flagged(1).getAs[Boolean]("is_unhealthy_pm25"))
  }
}
