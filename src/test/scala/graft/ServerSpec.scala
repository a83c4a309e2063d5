package graft

import java.net.{HttpURLConnection, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.lit

import graft.core.Config
import graft.weather.WeatherServer
import graft.weather.WeatherServer.{HttpError, jstr, parseQuery}

/** The thin serving layer (web.py:154-570): the JSON producers are tested
  * HTTP-free through `route`, then the full stack over a real ephemeral-port
  * HTTP round trip with the JDK client — including the T5 no-cache headers
  * on the /api/ prefix (web.py:166-174). */
class ServerSpec extends SparkSpec {

  private def newServer(): (WeatherServer, Config) = {
    val dir = Files.createTempDirectory("graft-serve").toString
    val cfg = Config(dataDir = dir)
    (new WeatherServer(spark, cfg), cfg)
  }

  test("jstr escapes per RFC 8259; parseQuery decodes and first-value-wins") {
    assert(jstr("a\"b\\c\nd") == "\"a\\\"b\\\\c\\nd\"")
    assert(jstr("\u0001x\t") == "\"\\u0001x\\t\"")
    assert(jstr(null) == "\"\"")
    assert(parseQuery("a=1&b=x%20y&a=2&flag") ==
      Map("a" -> "1", "b" -> "x y", "flag" -> ""))
    assert(parseQuery(null) == Map.empty)
  }

  test("/health and /search: blank q is 400, prefix hits ranked, fail-soft") {
    val (srv, _) = newServer()
    assert(srv.route("/health", Map.empty) == """{"status": "ok"}""")
    val e = intercept[HttpError](srv.route("/search", Map("q" -> "  ")))
    assert(e.status == 400)
    val body = srv.route("/search", Map("q" -> "ban", "count" -> "3"))
    assert(body.contains(""""query": "ban""""))
    assert(body.contains(""""name":"Bandung""""))
    assert(body.contains(""""count": 1"""))
    // unknown prefix: zero results, still 200-shaped
    assert(srv.route("/search", Map("q" -> "zzz")).contains(""""count": 0"""))
  }

  test("/data/daily + /data/hourly run the T1 cache-or-compute chain") {
    val (srv, cfg) = newServer()
    val daily = srv.route("/data/daily", Map("city" -> "Bandung"))
    assert(daily.contains(""""city": "Bandung""""))
    assert(daily.contains("temp_min") && daily.contains("pm25_category"))
    // the processed zone now exists — a second serve reads, not recomputes
    assert(Files.exists(java.nio.file.Paths.get(
      s"${cfg.processedDir}/bandung_daily.parquet")))
    val hourly = srv.route("/data/hourly", Map("city" -> "Bandung"))
    assert(hourly.contains(""""pm25""""))
    val missing = intercept[HttpError](srv.route("/data/daily", Map.empty))
    assert(missing.status == 400)
  }

  test("reads racing a refresh of the same city all answer 200 with every row") {
    val (srv, _) = newServer()
    val port = srv.start()
    val client = HttpClient.newHttpClient()
    def get(path: String): HttpResponse[String] = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofString())
    val pool = Executors.newFixedThreadPool(4)
    try {
      assert(get("/data/daily?city=Bandung").statusCode() == 200)
      val refreshing = new AtomicBoolean(true)
      // three in-place rewrites of Bandung's processed tables...
      val refreshes = pool.submit(() =>
        try (1 to 3).map(_ => get("/data/daily?city=Bandung&refresh=true").statusCode())
        finally refreshing.set(false))
      // ...while three readers keep reading them: (status, right count, body)
      val readers = (1 to 3).map { i =>
        pool.submit(() => {
          val (path, rows) = if (i % 2 == 0) ("/data/hourly?city=Bandung", 3)
            else ("/data/daily?city=Bandung", 2)
          Iterator.continually(get(path)).takeWhile(_ => refreshing.get())
            .map(r => (r.statusCode(), r.body().contains(s""""count": $rows,"""), r.body()))
            .toList
        })
      }
      assert(refreshes.get(120, TimeUnit.SECONDS).forall(_ == 200))
      val reads = readers.flatMap(_.get(120, TimeUnit.SECONDS))
      assert(reads.nonEmpty)
      reads.foreach { case (status, rightCount, body) =>
        assert(status == 200 && rightCount, body.take(300))
      }
    } finally {
      pool.shutdownNow()
      srv.stop()
    }
  }

  test("/compare: <2 cities 400; <2 successes 500; tolerant per-city errors") {
    val dir = Files.createTempDirectory("graft-serve").toString
    val cfg = Config(dataDir = dir)
    import spark.implicits._
    val loader = (city: String, days: Int) =>
      if (city == "Kotagagal") sys.error("fetch gagal")
      else Seq((city, s"2025-01-0${days.min(9)}", 20.0 + city.length))
        .toDF("city", "date", "temp_min").toJSON.collect().toSeq
    val srv = new WeatherServer(spark, cfg, loadCity = Some(loader))
    assert(intercept[HttpError](
      srv.route("/compare", Map("cities" -> "Bandung"))).status == 400)
    assert(intercept[HttpError](srv.compareJson("Bandung,Kotagagal", 7))
      .status == 500)
    val body = srv.compareJson("Bandung,Jakarta,Kotagagal", 3)
    assert(body.contains(""""name": "Kotagagal", "daily": [], "error": "fetch gagal""""))
    assert(body.contains(""""count": 2""")) // two successful cities, one row each
    assert(body.contains(""""days": 3"""))
    assert(body.contains(""""failed": [{"city": "Kotagagal""""))
    assert(intercept[HttpError](srv.compareJson("a,b", 17)).status == 400)
  }

  test("reads of published cities launch no Spark job: daily, hourly, compare") {
    val (srv, _) = newServer()
    // the first read of each city computes it, and the transform publishes
    Seq("Bandung", "Jakarta").foreach(c => srv.route("/data/daily", Map("city" -> c)))
    var bodies = Seq.empty[String]
    val jobs = SparkSpec.launched(spark) {
      bodies = Seq(srv.route("/data/daily", Map("city" -> "Bandung")),
        srv.route("/data/hourly", Map("city" -> "Jakarta")),
        srv.route("/compare", Map("cities" -> "Bandung,Jakarta")))
    }.jobs
    assert(jobs == 0)
    assert(bodies.zip(Seq(2, 3, 4)).forall { case (b, n) => b.contains(s""""count": $n,""") },
      bodies.map(_.take(200)))
  }

  test("the /compare city tag renders as Spark renders a city column") {
    import spark.implicits._
    val df = Seq((Some("2025-01-01"), Some(26.5)), (None, None)).toDF("date", "temp_max")
    val city = "Kota \"Hujan\" \\ Ujung\nPandang é 東京 \u0001\t"
    assert(WeatherServer.withCity(df.toJSON.collect().toSeq, city) ==
      df.withColumn("city", lit(city)).toJSON.collect().toSeq)
  }

  test("/data/daily echoes a city with quotes and backslashes as valid JSON") {
    val (srv, _) = newServer()
    val city = "Kota \"Kembang\" \\ Bandung"
    val body = new ObjectMapper().readTree(srv.route("/data/daily", Map("city" -> city)))
    assert(body.get("city").asText == city)
    assert(body.get("count").asInt == 2 && body.get("data").size == 2)
  }

  test("stop() ends the server's handler threads") {
    def handlers() = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith(WeatherServer.HandlerThreadPrefix)).toSet
    val before = handlers()
    val (srv, _) = newServer()
    val port = srv.start()
    val client = HttpClient.newHttpClient()
    val started = try {
      (1 to 4).foreach(_ => client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health")).build(),
        HttpResponse.BodyHandlers.ofString()))
      handlers() -- before
    } finally srv.stop()
    assert(started.nonEmpty)
    started.foreach(_.join(10000))
    assert(started.forall(!_.isAlive), started.filter(_.isAlive).map(_.getName))
  }

  test("keep-alive round trips do not wait for a delayed ACK (TCP_NODELAY)") {
    val (srv, _) = newServer()
    val port = srv.start()
    try {
      def health(): Unit = {
        val conn = URI.create(s"http://127.0.0.1:$port/health").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val in = conn.getInputStream
        try in.readAllBytes() finally in.close()
      }
      health() // connection set-up; later requests reuse the connection
      val ms = (1 to 20).map { _ =>
        val t = System.nanoTime()
        health()
        (System.nanoTime() - t) / 1e6
      }.sorted
      assert((ms(9) + ms(10)) / 2 < 15, ms)
    } finally srv.stop()
  }

  test("/api/provinces + regencies: polymorphic payloads, fail-soft offline") {
    val dir = Files.createTempDirectory("graft-serve").toString
    val cfg = Config(dataDir = dir)
    val srv = new WeatherServer(spark, cfg,
      provincesPayload = () =>
        Success("""{"provinces": [{"province_id": "32", "nama": "Jawa Barat"}]}"""),
      regenciesPayload = code =>
        if (code == "32") Success("""[{"id": "3273", "name": "Kota Bandung"}]""")
        else Failure(new Exception("down")))
    assert(srv.route("/api/provinces", Map.empty) ==
      """{"results": [{"id":"32","name":"Jawa Barat"}]}""")
    assert(srv.route("/api/regencies/32", Map.empty) ==
      """{"results": [{"id":"3273","name":"Kota Bandung"}]}""")
    // fail-soft: supplier failure -> empty results, not an error (web.py:79-84)
    assert(srv.route("/api/regencies/99", Map.empty) == """{"results": []}""")
    // default (offline) server: provinces fail-soft too
    val (offline, _) = newServer()
    assert(offline.route("/api/provinces", Map.empty) == """{"results": []}""")
  }

  test("/city/funfact: generate, cached, fresh, fast modes (S13/T3)") {
    val dir = Files.createTempDirectory("graft-serve").toString
    val cfg = Config(dataDir = dir)
    var calls = 0
    val srv = new WeatherServer(spark, cfg,
      funFactSupplier = city => { calls += 1; Some(s"fakta-$city-$calls") })
    val first = srv.route("/city/funfact/Bandung", Map.empty)
    assert(first.contains(""""fun_fact": "fakta-Bandung-1"""") &&
      first.contains(""""source": "generated""""))
    // cached now: same fact, no new call
    assert(srv.route("/city/funfact/Bandung", Map.empty).contains("fakta-Bandung-1"))
    assert(calls == 1)
    // fresh forces a new variant
    assert(srv.route("/city/funfact/Bandung", Map("fresh" -> "true"))
      .contains("fakta-Bandung-2"))
    // fast answers from cache instantly and tags cache-fast
    val fast = srv.route("/city/funfact/Bandung", Map("fast" -> "true"))
    assert(fast.contains(""""source": "cache-fast""""))
    // no cache + no supplier -> 500 (reference's catch-all)
    val none = new WeatherServer(spark, cfg)
    assert(intercept[HttpError](
      none.route("/city/funfact/Nihil", Map.empty)).status == 500)
  }

  test("real HTTP round trip: status codes, JSON bodies, T5 no-cache headers") {
    val dir = Files.createTempDirectory("graft-serve").toString
    val cfg = Config(dataDir = dir)
    val srv = new WeatherServer(spark, cfg,
      provincesPayload = () => Success("""[{"id": "1", "name": "Aceh"}]"""))
    val port = srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(
          HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).build(),
          HttpResponse.BodyHandlers.ofString())
      val health = get("/health")
      assert(health.statusCode() == 200)
      assert(health.body() == """{"status": "ok"}""")
      assert(health.headers().firstValue("Content-Type").get() == "application/json")
      // T5: /api/* carries the no-cache triplet; non-api paths do not
      val prov = get("/api/provinces")
      assert(prov.statusCode() == 200)
      assert(prov.headers().firstValue("Cache-Control").get() ==
        "no-cache, no-store, must-revalidate")
      assert(prov.headers().firstValue("Pragma").get() == "no-cache")
      assert(prov.headers().firstValue("Expires").get() == "0")
      assert(health.headers().firstValue("Cache-Control").isEmpty)
      // error mapping over HTTP
      assert(get("/search?q=%20").statusCode() == 400)
      assert(get("/nope").statusCode() == 404)
      // a full pipeline serve over the wire
      val daily = get("/data/daily?city=Bandung")
      assert(daily.statusCode() == 200 && daily.body().contains("temp_max"))
      // query decoding: funfact path segment + flags
      val search = get("/search?q=band&count=2")
      assert(search.statusCode() == 200 && search.body().contains("Bandung"))
    } finally srv.stop()
  }
}
