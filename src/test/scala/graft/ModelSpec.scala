package graft

import graft.core.Model
import graft.queries.DocQueries
import graft.weather.{WeatherSources, WeatherTransform}

class ModelSpec extends SparkSpec {

  private def raws = (
    WeatherSources.rawFromJson(spark, DocQueries.FixtureWeatherJson),
    WeatherSources.rawFromJson(spark, DocQueries.FixtureAirJson))

  test("typed Dataset[Daily] binds the rollup with full type safety") {
    val (w, a) = raws
    val ds = Model.daily(WeatherTransform.daily(w, a))
    val days = ds.collect().sortBy(_.date.map(_.toString))
    assert(days.length == 2)
    assert(days(0).temp_max.contains(26.5))
    assert(days(1).pm25_category == "Tidak sehat (sensitif)")
    // typed transforms compose: filter on a field, map to a case class value
    val rainy = ds.filter(_.total_rain.exists(_ > 1.0)).collect()
    assert(rainy.map(_.date.get.toString).toSeq == Seq("2025-01-02"))
  }

  test("typed Dataset[Hourly] and alert flags bind") {
    val (w, a) = raws
    val hours = Model.hourly(WeatherTransform.hourly(w, a)).collect()
    assert(hours.length == 3 && hours.forall(_.rh.isEmpty)) // field absent in fixture
    import spark.implicits._
    val alerts = WeatherTransform.withAlertFlags(WeatherTransform.daily(w, a))
      .as[ModelSpec.DailyAlerts].collect()
    assert(alerts.exists(_.is_unhealthy_pm25.contains(true)))
  }
}

object ModelSpec {

  /** Daily plus the derived alert flags, as `WeatherCli` writes them. */
  case class DailyAlerts(
      date: Option[java.sql.Date],
      temp_min: Option[Double],
      temp_max: Option[Double],
      total_rain: Option[Double],
      pm25_avg: Option[Double],
      pm10_avg: Option[Double],
      pm25_category: String,
      is_hot_day: Option[Boolean],
      is_heavy_rain: Option[Boolean],
      is_unhealthy_pm25: Option[Boolean])
}
