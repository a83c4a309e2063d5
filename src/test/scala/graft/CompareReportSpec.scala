package graft

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.weather.{Compare, WeatherReport}

/** Compare-pipeline (web.py:397-569 + app.js:837-1006) and report-summary
  * (report.py:69-177) behavior. */
class CompareReportSpec extends SparkSpec {
  import spark.implicits._

  private val daily = Seq(
    ("bandung", Date.valueOf("2025-01-01"), 30.0, 10.0, 20.0),
    ("bandung", Date.valueOf("2025-01-02"), 32.0, 0.0, 30.0),
    ("jakarta", Date.valueOf("2025-01-01"), 34.0, 25.0, 60.0),
    ("jakarta", Date.valueOf("2025-01-02"), 35.0, 5.0, 70.0))
    .toDF("city", "date", "temp_max", "total_rain", "pm25_avg")

  test("cityDaily left-joins daily air means onto weather days (web.py:478-507)") {
    val dailyWeather = Seq(
      (Date.valueOf("2025-01-01"), 30.0),
      (Date.valueOf("2025-01-02"), 31.0)) // no air rows this day -> nulls kept
      .toDF("date", "temp_max")
    val hourlyAir = Seq(
      ("2025-01-01 00:00:00", 10.0, 20.0),
      ("2025-01-01 12:00:00", 30.0, 40.0))
      .toDF("time", "pm25", "pm10")
      .withColumn("time", col("time").cast("timestamp"))
    val out = Compare.cityDaily(dailyWeather, hourlyAir, "bandung")
      .orderBy("date").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("pm25_avg") == 20.0)
    assert(out(1).isNullAt(out(1).fieldIndex("pm25_avg"))) // left join keeps the day
    assert(out.forall(_.getAs[String]("city") == "bandung"))
  }

  test("ranked summary orders cities by avg desc with pct diff") {
    val ranked = Compare.rankedSummary(daily, "pm25_avg")
    val rows = ranked.collect()
    assert(rows.map(_.getAs[String]("city")).toSeq == Seq("jakarta", "bandung"))
    assert(rows(0).getAs[Double]("avg_value") == 65.0)
    val diff = Compare.topPairPctDiff(ranked).collect()
    assert(diff.length == 1)
    assert(math.abs(diff(0).getAs[Double]("pct_diff") - (65.0 - 25.0) / 25.0 * 100) < 1e-9)
  }

  test("min-max normalization per city with zero-range guard") {
    val norm = Compare.minMaxNormalize(daily, "temp_max", "norm")
      .orderBy("city", "date").select("norm").as[Double].collect()
    assert(norm.toSeq == Seq(0.0, 1.0, 0.0, 1.0))
    val flat = Seq(("x", Date.valueOf("2025-01-01"), 5.0)).toDF("city", "date", "v")
    val g = Compare.minMaxNormalize(flat, "v", "norm").select("norm").as[Double].head()
    assert(g == 0.0) // (5-5)/1, not division by zero
  }

  test("smoothing is the centered 3-row average per city") {
    val sm = Compare.smooth(daily, "pm25_avg", "sm")
      .orderBy("city", "date").select("sm").as[Double].collect()
    assert(sm.toSeq == Seq(25.0, 25.0, 65.0, 65.0))
  }

  test("report summary: aggregates, argmax-first-tie, category, advice") {
    val d = Seq(
      (Date.valueOf("2025-01-01"), 20.0, 34.0, 5.0, 60.0, 70.0),
      (Date.valueOf("2025-01-02"), 21.0, 35.0, 8.0, 62.0, 72.0),
      (Date.valueOf("2025-01-03"), 22.0, 33.0, 8.0, 64.0, 74.0), // rain ties -> first date wins
      (Date.valueOf("2025-01-04"), 23.0, 31.0, 0.1, 66.0, 76.0))
      .toDF("date", "temp_min", "temp_max", "total_rain", "pm25_avg", "pm10_avg")
    val s = WeatherReport.summary(d).get
    assert(s.periodStart == Date.valueOf("2025-01-01"))
    assert(s.maxTemp.contains(35.0) && s.minTemp.contains(20.0))
    assert(s.wettestDate.contains(Date.valueOf("2025-01-02"))) // first of the 8.0 tie
    assert(s.rainyDays == 4)
    assert(s.pm25Category == "Tidak sehat")
    assert(s.recommendation.contains("masker")) // avg pm25 63 > 55.4
    val html = WeatherReport.renderHtml("Bandung", s)
    assert(html.contains("Bandung") && html.contains("35.0") && html.contains("masker"))
  }
}
