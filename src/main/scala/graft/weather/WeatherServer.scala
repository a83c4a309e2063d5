package graft.weather

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ExecutorService, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.core.io.JsonStringEncoder
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Config
import graft.sources.{GeocodeSource, RegionSource}

/** The reference's web serving layer (web.py:154-570), as a THIN boundary
  * over the engine: every endpoint's dataflow is the already-gated engine
  * operator (cache-or-compute T1, compare DAG, geocode top-k S5, polymorphic
  * regions S6, funfact cache S13/T3) — the server only parses the query
  * string, calls the operator, and serializes the bounded per-request result.
  * Built on the JDK's `com.sun.net.httpserver` (public Java SE API since 18;
  * `jdk.httpserver` module in 17) so no dependency is added.
  *
  * Endpoints mirrored: /health (web.py:252-254), /search (334-341),
  * /data/daily (366-377), /data/hourly (380-394), /compare (512-570),
  * /api/provinces (177-180), /api/regencies/{code} (183-187),
  * /city/funfact/{city} (219-244). T5 — the no-cache header middleware
  * (web.py:166-174) applies to `/api/`-prefixed paths exactly as the
  * reference's.
  *
  * Seams (all injected, so tests and offline runs need no network):
  *  - `dim`: geocode dimension (defaults to the built-in city table);
  *  - `loadCity`: the /compare per-city loader, returning the city's daily
  *    JSON records (defaults to the T1 cache-or-compute chain with a `city`
  *    field appended; web.py's fetch_city_data);
  *  - `provincesPayload` / `regenciesPayload`: raw region JSON suppliers
  *    (default Failure → the reference's fail-soft empty results);
  *  - `funFactSupplier`: the fact generator behind the cache.
  *
  * The per-request `collect`s are the serving boundary, not data-path
  * collects: each is a top-k row set or a region list.
  *
  * /data/daily, /data/hourly and /compare read through
  * [[WeatherCli.records]], which serves the rows the transform published
  * for the city: a hit is a stat of the table's `_SUCCESS` whose stamp
  * matches the snapshot's, and runs no Spark job, reads no file and takes
  * no lock. A refresh rewrites the processed tables in place
  * (`mode(Overwrite)`) under the city's single-flight lock; a read that
  * finds the stamp changed or `_SUCCESS` missing waits on that lock and
  * checks again, and a table rewritten by another process is loaded once
  * and republished. /compare loads each city on its own.
  */
class WeatherServer(
    spark: SparkSession,
    cfg: Config,
    dim: Option[DataFrame] = None,
    loadCity: Option[(String, Int) => Seq[String]] = None,
    provincesPayload: () => Try[String] = () => Failure(new Exception("offline")),
    regenciesPayload: String => Try[String] = _ => Failure(new Exception("offline")),
    funFactSupplier: String => Option[String] = _ => None,
    port: Int = 0) {

  import WeatherServer._

  private val geoDim = dim.getOrElse(GeocodeSource.builtinDim(spark))
  private val background = Executors.newSingleThreadExecutor()
  private val cityLoader: (String, Int) => Seq[String] =
    loadCity.getOrElse { (city, days) =>
      withCity(WeatherCli.records(spark, cfg.copy(city = city, days = days), "daily"), city)
    }
  @volatile private var server: Option[(HttpServer, ExecutorService)] = None

  // ---- endpoint payloads (pure JSON-string producers; HTTP-free, spec'd
  // directly in CliSpec and exercised over real HTTP in SourcesSpec) ----

  /** /health (web.py:252-254). */
  def healthJson: String = """{"status": "ok"}"""

  /** /search (web.py:334-341): 400 on blank q; fail-soft [] on lookup
    * trouble (web.py:133-136 catches and returns empty). */
  def searchJson(q: String, count: Int): String = {
    if (q.trim.isEmpty) throw HttpError(400, "Parameter q kosong")
    val rows = Try(
      GeocodeSource.searchTopK(geoDim, q.trim, count)
        .select(col("name"), col("lat").as("latitude"),
          col("lon").as("longitude"), col("tz").as("timezone"))
        .toJSON.collect()).getOrElse(Array.empty[String])
    s"""{"query": ${jstr(q)}, "count": ${rows.length}, "results": [${rows.mkString(",")}]}"""
  }

  /** /data/daily (web.py:366-377): T1 cache-or-compute + records payload. */
  def dailyJson(city: String, refresh: Boolean): String = WeatherCli.recordsJson(
    WeatherCli.records(spark, cfg.copy(city = city), "daily", refresh), city)

  /** /data/hourly (web.py:380-394). */
  def hourlyJson(city: String, refresh: Boolean): String = WeatherCli.recordsJson(
    WeatherCli.records(spark, cfg.copy(city = city), "hourly", refresh), city)

  /** /compare (web.py:512-570): per-city tolerant loads, >=2 requested
    * cities (400), >=2 successes (500 with per-city failures), flattened
    * union for backward compatibility. */
  def compareJson(cities: String, days: Int): String = {
    val cityList = cities.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (cityList.size < 2)
      throw HttpError(400, "Butuh minimal dua kota untuk perbandingan.")
    if (days < 1 || days > 16)
      throw HttpError(400, "days harus 1-16")
    val loaded = cityList.map(city => (city, Try(cityLoader(city, days))))
    val results = loaded.map {
      case (city, Success(recs)) =>
        s"""{"name": ${jstr(city)}, "daily": [${recs.mkString(",")}], "error": null}"""
      case (city, Failure(e)) =>
        s"""{"name": ${jstr(city)}, "daily": [], "error": ${jstr(e.getMessage)}}"""
    }
    val failed = loaded.collect { case (city, Failure(e)) =>
      s"""{"city": ${jstr(city)}, "status": 500, "detail": ${jstr(e.getMessage)}}"""
    }
    val ok = loaded.collect { case (_, Success(recs)) => recs }
    if (ok.size < 2)
      throw HttpError(500, "Not enough successful city data for comparison")
    // flattened rows: union of the per-city record arrays, in request order
    // (pd.concat of the per-city frames, web.py:558-561); records here
    // reuse the already-loaded per-city arrays so the union costs nothing.
    val merged = ok.flatten
    s"""{"cities": [${results.mkString(",")}], "count": ${merged.length}, """ +
      s""""days": $days, "data": [${merged.mkString(",")}], """ +
      s""""failed": [${failed.mkString(",")}]}"""
  }

  /** /api/provinces (web.py:177-180): polymorphic S6 normalize over the
    * injected payload; fail-soft [] (web.py:79-84). */
  def provincesJson: String = regionResults(
    provincesPayload().map(p => RegionSource.normalize(payloadDf(p))))

  /** /api/regencies/{code} (web.py:183-187). */
  def regenciesJson(code: String): String = regionResults(
    regenciesPayload(code).map(p =>
      RegionSource.normalizeRegencies(payloadDf(p), code)))

  private def payloadDf(payload: String): DataFrame = {
    import spark.implicits._
    Seq(payload).toDF("payload")
  }

  private def regionResults(items: Try[DataFrame]): String = {
    val rows = items.flatMap(df => Try(df.toJSON.collect()))
      .getOrElse(Array.empty[String])
    s"""{"results": [${rows.mkString(",")}]}"""
  }

  /** /city/funfact/{city} (web.py:219-244): fast mode answers from cache and
    * refreshes in the background (T3); otherwise cache-or-generate,
    * `fresh=true` forcing a new variant. 500 when nothing can be served
    * (the reference's catch-all HTTPException). */
  def funFactJson(city: String, fresh: Boolean, fast: Boolean): String = {
    val path = s"${cfg.dataDir}/funfacts.json"
    val supplier = () => funFactSupplier(city)
    val (fact, source) =
      if (fast) FunFactCache.fastGet(path, city, supplier, background)
      else (FunFactCache.get(path, city, supplier, fresh), "generated")
    fact match {
      case Some(f) =>
        s"""{"city": ${jstr(city)}, "fun_fact": ${jstr(f)}, "source": ${jstr(source)}}"""
      case None => throw HttpError(500, s"Fun fact tidak tersedia untuk $city")
    }
  }

  // ---- HTTP plumbing ----

  /** Route one request path+query to its payload producer. */
  def route(path: String, params: Map[String, String]): String = path match {
    case "/health" => healthJson
    case "/search" =>
      searchJson(params.getOrElse("q", ""),
        params.get("count").flatMap(c => Try(c.toInt).toOption).getOrElse(5))
    case "/data/daily" =>
      dailyJson(required(params, "city"), flag(params, "refresh"))
    case "/data/hourly" =>
      hourlyJson(required(params, "city"), flag(params, "refresh"))
    case "/compare" =>
      compareJson(required(params, "cities"),
        params.get("days").flatMap(d => Try(d.toInt).toOption).getOrElse(7))
    case "/api/provinces" => provincesJson
    case p if p.startsWith("/api/regencies/") =>
      regenciesJson(p.stripPrefix("/api/regencies/"))
    case p if p.startsWith("/city/funfact/") =>
      funFactJson(java.net.URLDecoder.decode(
          p.stripPrefix("/city/funfact/"), StandardCharsets.UTF_8),
        flag(params, "fresh"), flag(params, "fast"))
    case other => throw HttpError(404, s"Not Found: $other")
  }

  private def required(params: Map[String, String], key: String): String =
    params.getOrElse(key, throw HttpError(400, s"Parameter $key wajib"))

  private def flag(params: Map[String, String], key: String): Boolean =
    params.get(key).exists(v => v == "true" || v == "1")

  /** Start listening; returns the bound port (0 in the constructor picks an
    * ephemeral one — the test/deployment pattern). */
  def start(): Int = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/", (exchange: HttpExchange) => handle(exchange))
    val pool = Executors.newFixedThreadPool(4, handlerThreads)
    s.setExecutor(pool)
    s.start()
    server = Some((s, pool))
    s.getAddress.getPort
  }

  /** Stop listening and shut down the handler pool, which `HttpServer.stop`
    * leaves running. */
  def stop(): Unit = {
    server.foreach { case (s, pool) =>
      s.stop(0)
      pool.shutdown()
    }
    server = None
    background.shutdown()
  }

  private def handle(exchange: HttpExchange): Unit = {
    val path = exchange.getRequestURI.getPath
    val params = parseQuery(exchange.getRequestURI.getRawQuery)
    val (status, body) =
      try (200, route(path, params))
      catch {
        case HttpError(code, detail) => (code, s"""{"detail": ${jstr(detail)}}""")
        case e: Exception => (500, s"""{"detail": ${jstr(e.getMessage)}}""")
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val headers = exchange.getResponseHeaders
    headers.set("Content-Type", "application/json")
    if (path.startsWith("/api/")) { // T5 — web.py:166-174
      headers.set("Cache-Control", "no-cache, no-store, must-revalidate")
      headers.set("Pragma", "no-cache")
      headers.set("Expires", "0")
    }
    exchange.sendResponseHeaders(status, bytes.length.toLong)
    val out = exchange.getResponseBody
    try out.write(bytes) finally out.close()
  }
}

object WeatherServer {

  /** An endpoint error carrying its HTTP status (FastAPI's HTTPException). */
  final case class HttpError(status: Int, detail: String)
    extends RuntimeException(detail)

  /** Name prefix of the started servers' handler threads. */
  val HandlerThreadPrefix = "weather-server-"

  private val handlerIds = new AtomicInteger()
  private val handlerThreads: ThreadFactory =
    r => new Thread(r, HandlerThreadPrefix + handlerIds.incrementAndGet())

  /** `records` with a trailing `"city"` field, rendered exactly as
    * `withColumn("city", lit(city)).toJSON` renders it (Jackson's escaping;
    * an all-null row renders as `{}`). */
  def withCity(records: Seq[String], city: String): Seq[String] = {
    val tag = "\"city\":\"" + new String(JsonStringEncoder.getInstance.quoteAsString(city)) + "\""
    records.map(r => if (r == "{}") s"{$tag}" else s"${r.dropRight(1)},$tag}")
  }

  /** Minimal JSON string literal with the escapes RFC 8259 requires. */
  def jstr(s: String): String = {
    val sb = new StringBuilder("\"")
    val str = if (s == null) "" else s
    str.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** application/x-www-form-urlencoded query parsing, first value wins. */
  def parseQuery(raw: String): Map[String, String] =
    Option(raw).filter(_.nonEmpty).map(_.split("&").toSeq).getOrElse(Seq.empty)
      .flatMap { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => Some(
            java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
              java.net.URLDecoder.decode(v, StandardCharsets.UTF_8))
          case Array(k) if k.nonEmpty =>
            Some(java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) -> "")
          case _ => None
        }
      }
      .foldLeft(Map.empty[String, String]) { case (m, (k, v)) =>
        if (m.contains(k)) m else m + (k -> v)
      }
}
