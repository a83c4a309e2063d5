package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Config
import graft.queries.WeatherQueries
import graft.weather.{WeatherCli, WeatherServer, WeatherSources, WeatherTransform}

/** `weather`: the paper's pipeline. Phase 1 runs `WeatherCli` fetch →
  * transform → report for every generated city (closed loop, one caller);
  * phase 2 serves those cities from `WeatherServer` under an open loop of
  * seeded Poisson arrivals with at most `nproc` requests in flight;
  * traced runs add phase 3, the weather gates of the query inventory over a
  * generated `events` table, run as `Bench` runs them, so the `queries`
  * layer is measured on this workload.
  */
final class WeatherWorkload(seed: Long, seconds: Int, cores: Int, expected: Path,
                            traceOut: Path) extends Main.Workload {
  import WeatherWorkload._

  val cities: Seq[City] = WeatherWorkload.cities(seed)
  private val fixture = City(FixtureCity, days = 2, hours = 3, temps = Map.empty, payloads = None)
  private val all = cities :+ fixture
  private val names = all.map(_.name)

  def setup(spark: SparkSession, dir: Path): Unit = {
    // the processed zone's own samples dir, so a served refresh re-fetches
    // the same payloads
    val samples = Files.createDirectories(dir.resolve("data").resolve("samples"))
    cities.foreach { c =>
      val (w, a) = c.payloads.get
      Files.writeString(samples.resolve(s"${WeatherSources.slug(c.name)}_weather.json"), w)
      Files.writeString(samples.resolve(s"${WeatherSources.slug(c.name)}_air.json"), a)
    }
    // warm run: the whole pipeline once for the fixture city, in its own zone
    val warm = Config(city = FixtureCity, dataDir = dir.resolve("warm").toString)
    WeatherCli.fetch(warm, Some(samples.toString))
    WeatherCli.transform(spark, warm)
    WeatherCli.report(spark, warm)
  }

  /** The geocode dimension the server searches: every served city. */
  private def dimension(spark: SparkSession): DataFrame = {
    import spark.implicits._
    all.zipWithIndex.map { case (c, i) => (c.name, -8.0 + i * 0.1, 106.0 + i * 0.2, "Asia/Jakarta") }
      .toDF("name", "lat", "lon", "tz")
  }

  private def cfg(dir: Path, city: String) =
    Config(city = city, dataDir = dir.resolve("data").toString)

  def measure(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = {
    val samples = dir.resolve("data").resolve("samples").toString
    // ---- phase 1: fetch -> transform -> report per city ----
    val t0 = System.nanoTime()
    Trace.span("weather.etl") {
      all.foreach { c =>
        val conf = cfg(dir, c.name)
        out.op(s"fetch ${c.name}")(Trace.span("weather.fetch")(WeatherCli.fetch(conf, Some(samples))))()
        out.op(s"transform ${c.name}")(Trace.span("weather.transform_cli")(WeatherCli.transform(spark, conf)))()
        out.op(s"report ${c.name}")(Trace.span("weather.report")(WeatherCli.report(spark, conf)))(_.nonEmpty)
      }
    }
    val etlS = (System.nanoTime() - t0) / 1e9
    out.named("etl_wall_s") = (etlS, "s")
    out.endToEnd("batch_wall_s") = (etlS, "s")
    checkProcessed(spark, dir, out)
    val processed = dir.resolve("data").resolve("processed")
    val (bytes, files) = dataFiles(processed)
    val rawBytes = all.map(c => payloadBytes(c)).sum
    out.named("etl_write_amp") = (bytes.toDouble / rawBytes, "ratio")
    out.layer("weather.write_mb") = (bytes / 1e6, "MB")
    out.layer("weather.write_files") = (files.toDouble, "count")

    // ---- phase 2: open-loop serving, from a collected heap ----
    System.gc()
    val server = new WeatherServer(spark, Config(dataDir = dir.resolve("data").toString),
      dim = Some(dimension(spark)))
    val port = server.start()
    try {
      warmHttp(port, out)
      serve(port, out)
      if (Trace.enabled) {
        out.layer("server.http_ms") = (healthMs(port), "ms")
        tracedRoutes(server, out)
      }
    } finally server.stop()

    // ---- phase 3 (traced runs): the weather gates, for the queries layer ----
    if (Trace.enabled) {
      GatesWorkload.Tables.write(spark, dir.resolve("tables"), Set("events"))
      GatesWorkload.runGates(spark, dir.resolve("tables").toString,
        new Random(seed).shuffle(WeatherQueries.all.map(_._1)), expected, traceOut, out)
    }
  }

  // ------------------------------ phase 2 ------------------------------

  /** Rows the in-process route calls of a traced run returned. */
  private var routeRowsReturned = 0L

  /** Exactly `Rate * seconds` reads, each kind at its exact share of
    * [[Mix]], placed as a Poisson process conditioned on that count (sorted
    * uniform times), and [[Refreshes]] refreshes spread evenly over the
    * window, so two never overlap and none falls at its edges. */
  private def schedule(): Seq[Req] = {
    val rnd = new Random(seed * 31 + 7)
    val reads = (Rate * seconds).round.toInt.max(Mix.size)
    val counts = Mix.map { case (k, share) => k -> (share * reads).round.toInt.max(1) }
    val kinds = rnd.shuffle(counts.flatMap { case (k, c) => Seq.fill(c)(k) }.padTo(reads, "daily")
      .take(reads))
    val readDues = kinds.map(k => (rnd.nextDouble() * seconds, k))
    val refreshDues = (0 until Refreshes).map(i => ((i + 0.5) * seconds / Refreshes, "refresh"))
    (readDues ++ refreshDues).sortBy(_._1).zipWithIndex.map { case ((due, kind), i) =>
      val city = all(rnd.nextInt(all.size))
      val dueNs = (due * 1e9).toLong
      def q(s: String) = URLEncoder.encode(s, UTF_8)
      kind match {
        case "daily" => Req(i, kind, s"/data/daily?city=${q(city.name)}", city.days, dueNs)
        case "hourly" => Req(i, kind, s"/data/hourly?city=${q(city.name)}", city.hours, dueNs)
        case "compare" =>
          val picked = rnd.shuffle(all).take(2 + rnd.nextInt(3))
          Req(i, kind, s"/compare?cities=${q(picked.map(_.name).mkString(","))}",
            picked.map(_.days).sum, dueNs)
        case "search" =>
          val prefix = city.name.take(6 + rnd.nextInt(3))
          val hits = names.count(_.toLowerCase.startsWith(prefix.toLowerCase)).min(5)
          Req(i, kind, s"/search?q=${q(prefix)}", hits, dueNs)
        case "refresh" =>
          Req(i, kind, s"/data/daily?city=${q(city.name)}&refresh=true", city.days, dueNs)
      }
    }
  }

  /** One untimed request per read kind on the fresh server: the first
    * call of a route pays for class loading, code generation and
    * connection set-up. */
  private def warmHttp(port: Int, out: Main.Outcome): Unit = {
    def q(s: String) = URLEncoder.encode(s, UTF_8)
    val other = cities.head
    Seq(s"/data/daily?city=${q(FixtureCity)}" -> fixture.days,
      s"/data/hourly?city=${q(FixtureCity)}" -> fixture.hours,
      s"/compare?cities=${q(s"${other.name},$FixtureCity")}" -> (other.days + fixture.days),
      s"/search?q=Kota" -> names.count(_.startsWith("Kota")).min(5))
      .foreach { case (path, n) =>
        out.op(s"warm-up $path")(served(get(port, Req(-1, "warm-up", path, n, 0))))(countOf(_) == n)
      }
  }

  private def serve(port: Int, out: Main.Outcome): Unit = {
    val reqs = schedule()
    val latencies = new ConcurrentLinkedQueue[(String, Long, Double)]()
    val lateness = new ConcurrentLinkedQueue[Double]()
    val inFlight = new Semaphore(cores)
    val pool = Executors.newFixedThreadPool(cores)
    val start = System.nanoTime()
    try {
      reqs.foreach { r =>
        val wait = start + r.due - System.nanoTime()
        if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
        inFlight.acquire()
        lateness.add((System.nanoTime() - start - r.due) / 1e6)
        pool.execute { () =>
          try {
            out.op(s"${r.kind} ${r.path}")(served(get(port, r)))(body => countOf(body) == r.expected)
              .foreach { _ =>
                latencies.add((r.kind, r.due, (System.nanoTime() - start - r.due) / 1e6))
              }
          } finally inFlight.release()
        }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(150, TimeUnit.SECONDS)
    }
    val all = latencies.asScala.toSeq.sortBy(_._2)
    val ms = all.map(_._3)
    Files.createDirectories(traceOut)
    Files.writeString(traceOut.resolve("serve_latencies.tsv"),
      all.map { case (k, due, v) => f"${due / 1e6}%.1f\t$k\t$v%.3f" }.mkString("", "\n", "\n"))
    def kind(k: String) = all.collect { case (`k`, _, v) => v }
    System.err.println(f"[perfbench] weather served ${ms.size} of ${reqs.size} requests " +
      f"(${kind("refresh").size} refreshes) in ${(System.nanoTime() - start) / 1e9}%.1f s")
    // a read is "during a refresh" when its interval from due time to
    // answer overlaps a refresh's; those reads queue behind the rewrite,
    // and how many of them a run has is set by where its arrivals fall, so
    // the bounded metric is the median of the other reads
    val refreshes = all.collect { case ("refresh", due, v) => (due / 1e6, due / 1e6 + v) }
    val (during, outside) = all.filter(_._1 != "refresh").partition { case (_, due, v) =>
      refreshes.exists { case (from, to) => due / 1e6 < to && due / 1e6 + v > from }
    }
    out.endToEnd("op_latency_ms") = (Stats.median(outside.map(_._3)), "ms")
    out.named("serve_read_p50_ms") = (Stats.median(outside.map(_._3)), "ms")
    out.named("serve_read_during_refresh_p50_ms") = (Stats.median(during.map(_._3)), "ms")
    out.named("serve_read_during_refresh") = (during.size.toDouble, "count")
    out.named("serve_p50_ms") = (Stats.median(ms), "ms")
    // at ~36 requests about 9 lie beyond p75 and 2 beyond p95, too few
    // for p95 to be steady
    out.named("serve_p75_ms") = (Stats.quantile(ms, 0.75), "ms")
    out.named("serve_p95_ms") = (Stats.quantile(ms, 0.95), "ms")
    out.named("serve_samples") = (ms.size.toDouble, "count")
    out.named("serve_compare_p50_ms") = (Stats.median(kind("compare")), "ms")
    out.named("serve_refresh_p50_ms") = (Stats.median(kind("refresh")), "ms")
    out.named("generator_late_p50_ms") = (Stats.median(lateness.asScala.toSeq), "ms")
    out.named("generator_late_max_ms") = (lateness.asScala.maxOption.getOrElse(0.0), "ms")
    out.layer("server.queue_ms") = (Stats.median(lateness.asScala.toSeq), "ms")
  }

  /** A `/compare` answer is a 200 even when some of its cities failed to
    * load; it lists them under `failed`. Such a partial answer is a failed
    * operation, not a wrong one. */
  private def served(body: String): String = {
    val failedCities = "\"failed\": \\[([^\\]]+)\\]".r.findFirstMatchIn(body)
    failedCities.foreach(m => throw new RuntimeException(s"compare reported failed cities: ${m.group(1).take(200)}"))
    body
  }

  private def get(port: Int, r: Req): String = {
    val conn = URI.create(s"http://127.0.0.1:$port${r.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(60000)
    conn.setReadTimeout(120000)
    val status = conn.getResponseCode
    val stream = if (status < 400) conn.getInputStream else conn.getErrorStream
    val body = try new String(stream.readAllBytes(), UTF_8) finally stream.close()
    if (status != 200) throw new RuntimeException(s"HTTP $status: ${body.take(200)}")
    body
  }

  /** Median round trip of `/health` on the running `WeatherServer`; the
    * route touches no Spark, so this is the cost of the HTTP layer itself. */
  private def healthMs(port: Int): Double =
    Stats.median((1 to 10).map { i =>
      val t = System.nanoTime()
      get(port, Req(-i, "health", "/health", 0, 0))
      (System.nanoTime() - t) / 1e6
    })

  /** Traced runs only: every read route called in-process
    * [[RouteCalls]] times (a refresh once) inside a span named after it,
    * after the served window, so each call's Spark jobs are charged to its
    * route. */
  private def tracedRoutes(server: WeatherServer, out: Main.Outcome): Unit = {
    val rnd = new Random(seed * 17 + 3)
    val calls = Seq("daily", "hourly", "compare", "search").flatMap(k => Seq.fill(RouteCalls)(k)) :+ "refresh"
    calls.zipWithIndex.foreach { case (kind, i) =>
      val city = all(rnd.nextInt(all.size))
      val (path, params, expected) = kind match {
        case "daily" => ("/data/daily", Map("city" -> city.name), city.days)
        case "hourly" => ("/data/hourly", Map("city" -> city.name), city.hours)
        case "compare" =>
          val picked = rnd.shuffle(all).take(2 + rnd.nextInt(3))
          ("/compare", Map("cities" -> picked.map(_.name).mkString(",")), picked.map(_.days).sum)
        case "search" =>
          val prefix = city.name.take(6 + rnd.nextInt(3))
          ("/search", Map("q" -> prefix), names.count(_.toLowerCase.startsWith(prefix.toLowerCase)).min(5))
        case "refresh" => ("/data/daily", Map("city" -> city.name, "refresh" -> "true"), city.days)
      }
      out.op(s"route $kind $params")(Trace.span(s"server.${kind}_route", i + 1L)(
        served(server.route(path, params))))(body => countOf(body) == expected)
        .foreach(_ => routeRowsReturned += expected)
    }
  }

  // ------------------------------ checks ------------------------------

  /** Daily rows per city: one per distinct payload date, temperature
    * extremes as generated; the fixture city matches the golden rows. */
  private def checkProcessed(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = {
    val processed = dir.resolve("data").resolve("processed")
    cities.foreach { c =>
      out.check(s"daily rows and temperature extremes of ${c.name}") {
        val rows = spark.read.parquet(processed.resolve(s"${WeatherSources.slug(c.name)}_daily.parquet").toString)
          .select("date", "temp_min", "temp_max").collect()
        rows.length == c.days && rows.forall { r =>
          val (lo, hi) = c.temps(r.getDate(0).toString)
          r.getDouble(1) == lo && r.getDouble(2) == hi
        }
      }
    }
    out.check("golden daily rows of the fixture payloads") {
      spark.read.parquet(processed.resolve(s"${WeatherSources.slug(FixtureCity)}_daily.parquet").toString)
        .select("date", "temp_min", "temp_max", "total_rain", "pm25_avg", "pm10_avg", "pm25_category")
        .orderBy("date").collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq == Golden
    }
  }

  // ------------------------------ layers ------------------------------

  def layers(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = {
    // the transform operators forced to noop on the same raw inputs: their
    // executor cost without the processed-zone writes
    all.foreach { c =>
      val raw = dir.resolve("data").resolve("raw")
      val slug = WeatherSources.slug(c.name)
      Trace.span("weather.transform") {
        val rw = WeatherSources.readRaw(spark, raw.resolve(s"${slug}_weather.json").toString)
        val ra = WeatherSources.readRaw(spark, raw.resolve(s"${slug}_air.json").toString)
        noop(WeatherTransform.withAlertFlags(WeatherTransform.daily(rw, ra)))
        noop(WeatherTransform.hourly(rw, ra))
      }
    }
    import Layers._
    GatesWorkload.queryLayers(out)
    val etl = named("weather.transform_cli")
    val etlJobs = jobsUnder(etl)
    val readRaw = etlJobs.filter(_.function == "WeatherSources.readRaw")
    out.layer("weather.fetch_ms") = (named("weather.fetch").map(ms).sum, "ms")
    out.layer("weather.read_raw_ms") = (busyMs(readRaw), "ms")
    out.layer("weather.read_raw_jobs") = (readRaw.size.toDouble, "count")
    val transform = jobsUnder(named("weather.transform"))
      .filterNot(_.function == "WeatherSources.readRaw")
    out.layer("weather.transform_task_ms") = (transform.map(_.taskMs).sum, "ms")
    out.layer("weather.transform_cpu_ms") = (transform.map(_.cpuMs).sum, "ms")
    val writes = etlJobs.filter(j => WriteFunctions(j.function))
    out.layer("weather.write_ms") = (busyMs(writes), "ms")
    out.layer("weather.write_jobs") = (writes.size.toDouble, "count")
    val report = named("weather.report")
    out.layer("weather.report_ms") = (report.map(ms).sum, "ms")
    out.layer("weather.report_jobs") = (jobsUnder(report).size.toDouble, "count")
    val phase1 = named("weather.fetch") ++ etl ++ report
    out.layer("weather.driver_ms") = (Trace.driverMs(phase1, jobsUnder(phase1)), "ms")
    val routes = Seq("daily", "hourly", "compare", "search", "refresh").flatMap { k =>
      val ss = named(s"server.${k}_route")
      out.layer(s"server.${k}_route_ms") = (Stats.median(ss.map(ms)), "ms")
      ss
    }
    val routeJobs = jobsUnder(routes)
    out.layer("server.jobs_per_request") = (routeJobs.size.toDouble / routes.size.max(1), "count")
    out.layer("server.rows_read_per_row_returned") =
      (routeJobs.map(_.inputRecords).sum.toDouble / routeRowsReturned.max(1L), "ratio")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object WeatherWorkload {

  /** The read mix. The shares are an assumption; the repository has no
    * access logs. A visit to a city's dashboard is one `/search` (the city
    * picker), one `/data/daily` (the daily cards) and one `/data/hourly`
    * (the hourly rows and current conditions), and one visit in five also
    * opens the comparison page, one `/compare`: 5 + 5 + 5 + 1 requests per
    * five visits. */
  val Mix = Seq("search" -> 5.0 / 16, "daily" -> 5.0 / 16, "hourly" -> 5.0 / 16,
    "compare" -> 1.0 / 16)
  /** Median in-process `route` time per read kind (ms): the
    * `server.*_route_ms` of a traced run (seed 500, 4 cores). */
  val RouteMs = Map("search" -> 47.7, "daily" -> 102.1, "hourly" -> 116.9, "compare" -> 360.4)
  /** Share of one serving thread's time the reads are offered: low enough
    * that the median request is a service time rather than a queue wait,
    * which a slower host would magnify. */
  val TargetUtilisation = 0.3
  /** Open-loop read rate, requests per second: [[TargetUtilisation]] over
    * the mean read service time, treating the server as a single server
    * (its routes are short driver-bound Spark jobs). About 2.8/s. */
  val Rate: Double = TargetUtilisation / Mix.map { case (k, share) => share * RouteMs(k) / 1000 }.sum
  /** `refresh=true` requests per run, at seeded times in the window: a
    * refresh rewrites a city's processed tables and keeps every core busy
    * for about 1.6 s, so the reads that arrive meanwhile queue behind it. */
  val Refreshes = 2
  val NumCities = 6
  /** Days of hourly data per city (spanning Open-Meteo's 1–16). */
  val Days = Seq(1, 3, 6, 9, 12, 16)
  /** Per-city payload shape: a field missing, a weather field shorter than
    * `time`, pm10 shorter than `time`, or complete. */
  val Shapes = Seq("missing", "ragged", "ragged", "short-air", "complete", "complete")
  /** Read routes a traced run calls in-process per kind. */
  val RouteCalls = 5
  val FixtureCity = "Fixture"
  val WriteFunctions = Set("WeatherSources.writeProcessed", "WeatherSources.writeCsvCompat")

  /** FIXTURES.md §1.5, as the processed table renders it. */
  val Golden = Seq(
    "2025-01-01|25.0|26.5|0.1|15.0|27.5|Sedang",
    "2025-01-02|24.0|24.0|2.4|40.0|60.0|Tidak sehat (sensitif)")

  final case class Req(id: Long, kind: String, path: String, expected: Int, due: Long)

  /** A generated city: its payloads (none for the fixture city, which
    * falls back to the embedded fixtures) and what its tables must hold. */
  final case class City(name: String, days: Int, hours: Int,
                        temps: Map[String, (Double, Double)],
                        payloads: Option[(String, String)])

  val WeatherFields = Seq("temperature_2m", "precipitation", "relative_humidity_2m",
    "windspeed_10m", "apparent_temperature", "weathercode", "dew_point_2m",
    "winddirection_10m")

  private val Syllables = Seq("ba", "ma", "su", "ra", "ke", "lo", "ti", "pa",
    "ja", "ng", "di", "wa", "se", "mu", "ko", "ga")

  /** Open-Meteo-shaped payloads: 1–16 days of hourly data, all 8 weather
    * fields plus pm2_5/pm10, with a seeded share of ragged arrays (a field
    * shorter than `time`) and missing fields (FIXTURES §1.9). Temperature
    * and the time spine stay intact so the checks can predict the rows. */
  def cities(seed: Long): Seq[City] = {
    val rnd = new Random(seed)
    val used = scala.collection.mutable.HashSet.empty[String]
    // day counts and field shapes in exact numbers, dealt to cities by seed
    val dayCounts = rnd.shuffle(Days)
    val shapes = rnd.shuffle(Shapes)
    (0 until NumCities).map { i =>
      var name = ""
      while (name.isEmpty || used(name)) name = "Kota " +
        (1 to 2 + rnd.nextInt(2)).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString.capitalize
      used += name
      val days = dayCounts(i)
      val start = java.time.LocalDate.of(2025, 1, 1).plusDays(rnd.nextInt(300).toLong)
      val times = (0 until days * 24).map(h =>
        start.plusDays(h / 24L).toString + f"T${h % 24}%02d:00")
      def series(lo: Double, hi: Double) =
        times.map(_ => math.round((lo + rnd.nextDouble() * (hi - lo)) * 10) / 10.0)
      val temp = series(19, 36)
      val values = Map(
        "temperature_2m" -> temp, "precipitation" -> series(0, 4),
        "relative_humidity_2m" -> series(40, 100), "windspeed_10m" -> series(0, 30),
        "apparent_temperature" -> series(19, 40),
        "weathercode" -> times.map(_ => Seq(0, 1, 2, 3, 45, 61, 63, 80, 95)(rnd.nextInt(9)).toDouble),
        "dew_point_2m" -> series(10, 26), "winddirection_10m" -> series(0, 359))
      // ragged / missing fields, never temperature
      val victim = WeatherFields.tail(rnd.nextInt(WeatherFields.size - 1))
      val fields = WeatherFields.flatMap { f =>
        val v = values(f)
        if (f == victim && shapes(i) == "missing") None
        else if (f == victim && shapes(i) == "ragged") Some(f -> v.dropRight(1 + rnd.nextInt(5)))
        else Some(f -> v)
      }
      val pm25 = series(3, 160)
      val pm10 = if (shapes(i) == "short-air") series(8, 200).drop(2) else series(8, 200)
      def block(kvs: Seq[(String, Seq[Double])]) =
        (("\"time\": " + times.map("\"" + _ + "\"").mkString("[", ", ", "]")) +:
          kvs.map { case (k, v) => s"\"$k\": ${v.mkString("[", ", ", "]")}" })
          .mkString("{\"hourly\": {", ", ", "}}")
      val temps = times.zip(temp).groupBy(_._1.take(10)).map { case (d, xs) =>
        d -> (xs.map(_._2).min, xs.map(_._2).max) }
      City(name, days, days * 24, temps,
        Some(block(fields) -> block(Seq("pm2_5" -> pm25, "pm10" -> pm10))))
    }
  }

  def payloadBytes(c: City): Long = c.payloads match {
    case Some((w, a)) => (w.getBytes(UTF_8).length + a.getBytes(UTF_8).length).toLong
    case None => (graft.queries.DocQueries.FixtureWeatherJson.getBytes(UTF_8).length +
      graft.queries.DocQueries.FixtureAirJson.getBytes(UTF_8).length).toLong
  }

  /** Bytes and count of the parquet and CSV data files under `dir`. */
  def dataFiles(dir: Path): (Long, Int) = {
    val files = Files.walk(dir).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && n.startsWith("part-") && !n.endsWith(".crc")
    }.toSeq
    (files.map(Files.size).sum, files.size)
  }

  /** `"count": N` of a served payload (the first one: daily, hourly,
    * search and the compare total all lead with it). */
  def countOf(body: String): Int =
    "\"count\": (\\d+)".r.findFirstMatchIn(body).map(_.group(1).toInt).getOrElse(-1)

}
