package graft.weather

import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.WeatherFunctions

/** The parity core of the reference's transform stage
  * (/root/reference/src/etl_weather/transform.py).
  *
  * Raw input is the Open-Meteo columnar struct-of-arrays JSON
  * (`hourly.time: array<string>` plus one parallel array per measurement);
  * output is the hourly row table and the daily rollup, with pandas-exact
  * semantics (null padding, coercing casts, half-even rounding).
  */
object WeatherTransform {

  /** Hourly weather fields requested by the reference (fetch.py:52) and their
    * concise names (transform.py:155-167). Order matters for CSV parity. */
  val WeatherRenames: Seq[(String, String)] = Seq(
    "temperature_2m" -> "temp",
    "precipitation" -> "rain",
    "relative_humidity_2m" -> "rh",
    "windspeed_10m" -> "wind",
    "apparent_temperature" -> "feels_like",
    "weathercode" -> "wcode",
    "dew_point_2m" -> "dew_point",
    "winddirection_10m" -> "wind_dir")

  val AirRenames: Seq[(String, String)] = Seq("pm2_5" -> "pm25", "pm10" -> "pm10")

  /** The processed hourly table as [[hourly]] writes it (FIXTURES.md §1.3).
    * Readers of the processed zone declare it rather than infer it: parquet
    * schema inference costs a Spark job on every read. */
  val HourlySchema: StructType = StructType.fromDDL(
    "time TIMESTAMP, temp DOUBLE, rain DOUBLE, rh DOUBLE, wind DOUBLE, " +
      "feels_like DOUBLE, wcode DOUBLE, dew_point DOUBLE, wind_dir DOUBLE, " +
      "pm25 DOUBLE, pm10 DOUBLE, date DATE")

  /** The processed daily table: [[daily]] (FIXTURES.md §1.4 plus the sun
    * times) with [[withAlertFlags]]. Declared for the same reason. */
  val DailySchema: StructType = StructType.fromDDL(
    "date DATE, temp_min DOUBLE, temp_max DOUBLE, total_rain DOUBLE, " +
      "pm25_avg DOUBLE, pm10_avg DOUBLE, pm25_category STRING, sunrise STRING, " +
      "sunset STRING, is_hot_day BOOLEAN, is_heavy_rain BOOLEAN, " +
      "is_unhealthy_pm25 BOOLEAN")

  /** P1 — columnar->row pivot with per-field null padding
    * (transform.py:18-29): the `hourly.time` array is the spine; any field
    * that is missing or whose array length differs from the spine becomes an
    * all-null column, without touching sibling fields. Implemented as a
    * single `arrays_zip` + one `explode` (one Generate node, no join), after
    * guarding each field array as a whole.
    */
  def hourlyFrame(raw: DataFrame, fields: Seq[(String, String)]): DataFrame = {
    val hourlyType = raw.schema.find(_.name == "hourly").map(_.dataType) match {
      case Some(s: StructType) => s
      case _ => new StructType()
    }
    def arrOrNull(f: String): Column =
      if (hourlyType.fieldNames.contains(f)) col(s"hourly.$f") else
        lit(null).cast(ArrayType(StringType))

    val time = coalesce(arrOrNull("time").cast("array<string>"),
      lit(Array.empty[String]))
    val guarded = fields.map { case (f, out) =>
      val arr = arrOrNull(f)
      // Length guard is per-field (transform.py:24-28): one ragged field
      // nulls only itself. The pad must be an equal-length array OF nulls,
      // not a null array — arrays_zip yields null (zero rows after explode)
      // if any input array is null. Elements stay strings here; numeric
      // coercion is a separate step (P6), like pd.to_numeric(errors="coerce").
      when(size(arr.cast("array<string>")) === size(time), arr.cast("array<string>"))
        .otherwise(array_repeat(lit(null).cast(StringType), size(time))).as(out)
    }
    val zipped = raw.select(
      explode(arrays_zip((time.as("time") +: guarded): _*)).as("h"))
    zipped.select((col("h.time").as("time") +: fields.map { case (_, out) =>
      col(s"h.$out").as(out)
    }): _*)
  }

  /** J1 + P6 + P7: full-outer merge of the weather and air hourly frames on
    * the raw time string, sorted by time (transform.py:77,169), numeric
    * coercion, timestamp parse and date derivation.
    *
    * One city's merge runs in one partition. Both sides come from a single
    * payload (one multiLine JSON document, at most 16 days x 24 h = 384
    * hourly rows at Open-Meteo's cap), so [[hourly]] hands them over
    * coalesced to one partition, which satisfies the join's clustering
    * without a shuffle. A full-outer join reports `UnknownPartitioning`,
    * so its output is coalesced to one partition again: the time sort here
    * and the daily group-by and date sort downstream then need no
    * `Exchange` either. */
  def mergeHourly(weather: DataFrame, air: DataFrame, numericCols: Seq[String]): DataFrame = {
    val merged = weather.join(air, Seq("time"), "full_outer").coalesce(1)
    val coerced = numericCols.foldLeft(merged)((df, c) =>
      df.withColumn(c, col(c).cast("double")))
    coerced
      .withColumn("time", col("time").cast("timestamp"))
      .withColumn("date", to_date(col("time")))
      .orderBy("time")
  }

  /** Optional daily-block sun times: the Open-Meteo `daily` struct
    * {time[], sunrise[], sunset[]} pivoted to (date, sunrise, sunset) rows.
    * The reference frontend consumes these per daily card (app.js:323-324,
    * 788-792) but its backend never requests the fields (web.py:478-485), so
    * the whole path is null-tolerant: an absent block yields zero rows, and a
    * ragged or missing field array nulls only itself (the hourlyFrame
    * discipline). Values stay raw ISO strings — that is what the frontend's
    * `new Date(...)` parses. */
  def sunTimes(raw: DataFrame): DataFrame = {
    val dailyType = raw.schema.find(_.name == "daily").map(_.dataType) match {
      case Some(s: StructType) => s
      case _ => new StructType()
    }
    def arrOrNull(f: String): Column =
      if (dailyType.fieldNames.contains(f)) col(s"daily.$f") else
        lit(null).cast(ArrayType(StringType))
    val time = coalesce(arrOrNull("time").cast("array<string>"),
      lit(Array.empty[String]))
    val guarded = Seq("sunrise", "sunset").map { f =>
      val arr = arrOrNull(f)
      when(size(arr.cast("array<string>")) === size(time), arr.cast("array<string>"))
        .otherwise(array_repeat(lit(null).cast(StringType), size(time))).as(f)
    }
    raw.select(explode(arrays_zip((time.as("time") +: guarded): _*)).as("d"))
      .select(to_date(col("d.time")).as("date"),
        col("d.sunrise").as("sunrise"), col("d.sunset").as("sunset"))
  }

  /** transform.run parity: raw weather + raw air -> daily rollup.
    * Columns: date, temp_min, temp_max, total_rain, pm25_avg, pm10_avg,
    * pm25_category, plus nullable sunrise/sunset when the raw payload carries
    * the optional daily block (transform.py:51-117; golden values
    * FIXTURES.md §1.5).
    *
    * The reference builds its daily path from a second merge over only the
    * temperature and rain fields (transform.py:67-70). Here it is derived
    * from the one merged [[hourly]] table: the ragged-field guard nulls only
    * the field it fails, and a row with an unparseable time has a null date,
    * so the extra fields change no daily row. Like [[hourly]], the whole
    * plan runs in one partition with no `Exchange`. */
  def daily(rawWeather: DataFrame, rawAir: DataFrame): DataFrame =
    dailyOf(hourly(rawWeather, rawAir), rawWeather)

  /** One city's daily table from its merged hourly table: the A1 rollup,
    * then the optional sun times. The hourly input is one payload's rows
    * (see [[mergeHourly]]), coalesced to one partition so the group-by and
    * the date sorts need no shuffle even when it arrives without
    * `SinglePartition` (a checkpointed frame does not keep it). */
  def dailyOf(hourly: DataFrame, rawWeather: DataFrame): DataFrame =
    // the sun times are one payload's days (at most 16 rows) in one
    // partition too, so a merge join needs no exchange and no job of its
    // own, where a broadcast would collect them in a separate job; the
    // left join keeps sunrise/sunset nullable end-to-end
    dailyFromHourly(hourly.coalesce(1))
      .join(sunTimes(rawWeather.coalesce(1)).hint("merge"), Seq("date"), "left_outer")
      .orderBy("date")

  /** A1/A3/A4/F2 over an hourly table: group by date; min/max temp, rain sum
    * (all-null group -> 0.0 like pandas sum + fillna, transform.py:103),
    * pm means, half-even 2dp rounding (pandas .round -> bround), category. */
  def dailyFromHourly(hourly: DataFrame): DataFrame = {
    hourly
      .filter(col("date").isNotNull) // transform.py:86
      .groupBy("date")
      .agg(
        min("temp").as("temp_min"),
        max("temp").as("temp_max"),
        coalesce(sum("rain"), lit(0.0)).as("total_rain"),
        avg("pm25").as("pm25_avg"),
        avg("pm10").as("pm10_avg"))
      .select(
        col("date"),
        bround(col("temp_min"), 2).as("temp_min"),
        bround(col("temp_max"), 2).as("temp_max"),
        bround(col("total_rain"), 2).as("total_rain"),
        bround(col("pm25_avg"), 2).as("pm25_avg"),
        bround(col("pm10_avg"), 2).as("pm10_avg"))
      .withColumn("pm25_category", WeatherFunctions.pm25Category(col("pm25_avg")))
      .orderBy("date")
  }

  /** transform.run_hourly parity: full 8-field weather block + air, merged,
    * coerced, rows with unparseable time dropped (transform.py:139-195).
    * Column order: time temp rain rh wind feels_like wcode dew_point wind_dir
    * pm25 pm10 date. Each raw frame is one payload, coalesced to one
    * partition so the merge runs without a shuffle (see [[mergeHourly]]). */
  def hourly(rawWeather: DataFrame, rawAir: DataFrame): DataFrame = {
    val hw = hourlyFrame(rawWeather.coalesce(1), WeatherRenames)
    val ha = hourlyFrame(rawAir.coalesce(1), AirRenames)
    val numeric = WeatherRenames.map(_._2) ++ AirRenames.map(_._2)
    mergeHourly(hw, ha, numeric)
      .filter(col("time").isNotNull) // transform.py:189
      .select("time", "temp", "rain", "rh", "wind", "feels_like", "wcode",
        "dew_point", "wind_dir", "pm25", "pm10", "date")
  }

  /** Daily alert flags (SURVEY §2.6 gap: consumed by the reference frontend,
    * never produced by its backend — emitted here as first-class columns). */
  def withAlertFlags(daily: DataFrame): DataFrame =
    daily
      .withColumn("is_hot_day", WeatherFunctions.isHotDay(col("temp_max")))
      .withColumn("is_heavy_rain", WeatherFunctions.isHeavyRain(col("total_rain")))
      .withColumn("is_unhealthy_pm25", WeatherFunctions.isUnhealthyPm25(col("pm25_avg")))
}
