package graft.weather

import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Config, GraftSession}
import graft.sources.{GeocodeSource, Ingest}

/** The reference's CLI surface (cli.py:20-109: fetch | transform | report |
  * all), network-free: `fetch` stages sample payloads into the raw zone with
  * the snapshot+latest dual-write; `transform` materializes the processed
  * zone (parquet primary, CSV compat); `report` renders the summary HTML.
  *
  * `records` is the web layer's cache-or-compute read path (T1,
  * web.py:344-363): serve the materialized processed zone if present, else
  * run the pipeline first; `refresh=true` always re-runs.
  *
  * Every `transform` publishes the JSON records of the two tables it wrote
  * into one JVM-wide snapshot map, keyed by the table's normalised absolute
  * parquet path and stamped with its `_SUCCESS` file (file key + mtime).
  * The map holds one entry per processed table path, and an entry is one
  * city's rows: at most 16 days x 24 h = 384 hourly records and 16 daily
  * ones. The records are `toJSON` of the frames the sinks were written
  * from, which equal `toJSON` of the written parquet only because
  * `GraftSession` pins the session time zone to UTC (timestamps render the
  * same on both sides).
  */
object WeatherCli {

  private val TsFmt = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")

  /** S4 — resolve a city against a geocode dimension, fail-soft: the
    * reference's fetch.run geocodes first (fetch.py:88 → utils.py:329-345);
    * offline the dim is the built-in city table (or a caller-supplied stub,
    * the test_fetch.py:21-38 pattern). None → caller falls back to the slug
    * identity, keeping the pipeline runnable for unknown cities. */
  def resolve(spark: SparkSession, city: String,
              dim: Option[org.apache.spark.sql.DataFrame] = None): Option[GeocodeSource.Geo] =
    GeocodeSource.firstMatch(
      dim.getOrElse(GeocodeSource.builtinDim(spark)), city)

  /** fetch --offline parity (fetch.py:85-139): read `<slug>_{weather,air}
    * .json` from the samples dir (falling back to the embedded minimal
    * fixtures so the pipeline always has data) through the S3 retry/backoff
    * ingest interface, then snapshot+latest write into the raw zone.
    * Returns (weatherLatest, airLatest). */
  def fetch(cfg: Config, sampleDir: Option[String] = None): (String, String) = {
    val slug = WeatherSources.slug(cfg.city)
    val sdir = sampleDir.getOrElse(cfg.samplesDir)
    def payload(kind: String, fallback: String): String =
      Ingest.retry() { _ =>
        val p = Paths.get(sdir, s"${slug}_$kind.json")
        if (Files.exists(p)) Files.readString(p) else fallback
      }
    val ts = LocalDateTime.now().format(TsFmt)
    val (_, wLatest) = WeatherSources.writeRawSnapshot(cfg.rawDir, slug, "weather",
      payload("weather", graft.queries.DocQueries.FixtureWeatherJson), ts)
    val (_, aLatest) = WeatherSources.writeRawSnapshot(cfg.rawDir, slug, "air",
      payload("air", graft.queries.DocQueries.FixtureAirJson), ts)
    (wLatest, aLatest)
  }

  /** transform parity (transform.py:51-117,120-195): raw latest -> daily and
    * hourly tables, written as parquet (primary) and CSV (compat). Returns
    * the daily frame.
    *
    * The city's plan is built once: one merged hourly frame, and the daily
    * table derived from it. A city is one payload (at most 16 days x 24 h
    * = 384 hourly rows), so the plan runs in one partition and needs no
    * `Exchange` (see [[WeatherTransform.mergeHourly]]). Both tables are
    * materialised once with `localCheckpoint`, which leaves no cache handle
    * to release, and each of the four sinks is then one job over them
    * rather than a re-run of the raw scan, join, sorts and aggregate. The
    * actions that materialise the two checkpoints are the `toJSON` collects
    * whose records are published, after the writes, as the snapshot
    * [[records]] serves. */
  def transform(spark: SparkSession, cfg: Config): DataFrame = {
    val slug = WeatherSources.slug(cfg.city)
    val rawW = WeatherSources.readRaw(spark, s"${cfg.rawDir}/${slug}_weather.json")
    val rawA = WeatherSources.readRaw(spark, s"${cfg.rawDir}/${slug}_air.json")
    val hourly = WeatherTransform.hourly(rawW, rawA).localCheckpoint(eager = false)
    val hourlyRows = hourly.toJSON.collect().toIndexedSeq
    val daily = WeatherTransform.withAlertFlags(
      WeatherTransform.dailyOf(hourly, rawW)).localCheckpoint(eager = false)
    val dailyRows = daily.toJSON.collect().toIndexedSeq
    WeatherSources.writeProcessed(daily, cfg.processedDir, s"${slug}_daily")
    WeatherSources.writeProcessed(hourly, cfg.processedDir, s"${slug}_hourly")
    WeatherSources.writeCsvCompat(daily, s"${cfg.processedDir}/${slug}_daily_csv")
    WeatherSources.writeCsvCompat(hourly, s"${cfg.processedDir}/${slug}_hourly_csv")
    publish(processedPath(cfg, "daily"), dailyRows)
    publish(processedPath(cfg, "hourly"), hourlyRows)
    daily
  }

  /** report parity (report.py:69-177): summary + the three Vega-Lite charts
    * over the processed daily table -> HTML file. Returns the report path. */
  def report(spark: SparkSession, cfg: Config): Option[String] = {
    val slug = WeatherSources.slug(cfg.city)
    val daily = readProcessed(spark, cfg, "daily")
    WeatherReport.summary(daily).map { s =>
      val charts = WeatherViz.chartsToHtml(WeatherViz.vegaLiteSpecs(daily))
      Files.createDirectories(Paths.get(cfg.reportsDir))
      val out = Paths.get(cfg.reportsDir, s"$slug.html")
      Files.writeString(out, WeatherReport.renderHtml(cfg.city, s, charts))
      out.toString
    }
  }

  /** Path of a city's processed `daily` or `hourly` parquet table. */
  def processedPath(cfg: Config, table: String): String =
    s"${cfg.processedDir}/${WeatherSources.slug(cfg.city)}_$table.parquet"

  /** A processed table read with its declared schema, so the read infers
    * nothing from the parquet footers (that would be a Spark job per read). */
  def readProcessed(spark: SparkSession, cfg: Config, table: String): DataFrame = {
    val schema = if (table == "daily") WeatherTransform.DailySchema
      else WeatherTransform.HourlySchema
    spark.read.schema(schema).parquet(processedPath(cfg, table))
  }

  /** T1 — cache-or-compute (web.py:344-363): a city's processed `daily` or
    * `hourly` rows as JSON records, the /data/daily and /data/hourly read
    * path.
    *
    * A hit stats the table's `_SUCCESS` and, when its stamp is the
    * snapshot's, returns the snapshot's rows: no lock, no Spark job, no file
    * read. Anything else (no snapshot, a table rewritten by another process,
    * `_SUCCESS` missing mid-rewrite, `refresh`) takes the city's
    * single-flight lock and checks again; then it either computes (fetch →
    * [[transform]], which publishes) when asked to refresh or when the
    * table does not exist, or loads the written table, publishing the rows
    * only if the stamp did not move while they were read. */
  def records(spark: SparkSession, cfg: Config, table: String,
              refresh: Boolean = false): IndexedSeq[String] = {
    val path = processedPath(cfg, table)
    val key = normalised(path)
    def current: Option[IndexedSeq[String]] = Option(snapshots.get(key))
      .filter(snap => stamp(path).contains(snap.stamp)).map(_.rows)
    (if (refresh) None else current).getOrElse {
      val lock = cityLocks.computeIfAbsent(
        normalised(s"${cfg.processedDir}/${WeatherSources.slug(cfg.city)}"),
        _ => new ReentrantLock())
      lock.lock()
      try {
        if (refresh || stamp(path).isEmpty) {
          fetch(cfg)
          transform(spark, cfg)
        }
        current.getOrElse {
          val before = stamp(path)
          val rows = readProcessed(spark, cfg, table).toJSON.collect().toIndexedSeq
          before.filter(stamp(path).contains).foreach(s => snapshots.put(key, Snapshot(s, rows)))
          rows
        }
      } finally lock.unlock()
    }
  }

  /** S12 — JSON records payload {city, count, data} (web.py:376-377). */
  def recordsJson(rows: Seq[String], city: String): String =
    s"""{"city": ${WeatherServer.jstr(city)}, "count": ${rows.length}, "data": [${rows.mkString(",")}]}"""

  /** Which write of a processed table a snapshot holds: the file key and
    * mtime of the table's `_SUCCESS`, which a rewrite deletes and recreates. */
  private final case class Stamp(fileKey: AnyRef, mtime: FileTime)
  private final case class Snapshot(stamp: Stamp, rows: IndexedSeq[String])

  private val snapshots = new ConcurrentHashMap[String, Snapshot]()
  private val cityLocks = new ConcurrentHashMap[String, ReentrantLock]()

  private def normalised(path: String): String =
    Paths.get(path).toAbsolutePath.normalize.toString

  /** The stamp of a processed table's last completed write; None while the
    * table is absent or being rewritten. */
  private def stamp(path: String): Option[Stamp] =
    try {
      val a = Files.readAttributes(Paths.get(path, "_SUCCESS"), classOf[BasicFileAttributes])
      Some(Stamp(a.fileKey, a.lastModifiedTime))
    } catch { case _: NoSuchFileException => None }

  private def publish(path: String, rows: IndexedSeq[String]): Unit =
    stamp(path).foreach(s => snapshots.put(normalised(path), Snapshot(s, rows)))

  def main(args: Array[String]): Unit = {
    val cmd = args.headOption.getOrElse("all")
    val cfg = Config.fromEnv()
    lazy val spark = GraftSession.local("graft-cli")
    cmd match {
      case "fetch" =>
        val (w, a) = fetch(cfg)
        println(s"Selesai ambil data. Latest: $w , $a")
      case "transform" =>
        val n = transform(spark, cfg).count()
        println(s"Transform selesai: $n baris daily untuk ${cfg.city}")
      case "report" =>
        println(report(spark, cfg).fold("Tidak ada data untuk laporan")(p => s"Laporan: $p"))
      case "all" =>
        fetch(cfg); transform(spark, cfg)
        println(report(spark, cfg).fold("Tidak ada data untuk laporan")(p => s"Laporan: $p"))
      case other =>
        System.err.println(s"Perintah tidak dikenal: $other (fetch|transform|report|all)")
        sys.exit(1)
    }
  }
}
