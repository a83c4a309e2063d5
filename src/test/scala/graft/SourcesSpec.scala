package graft

import graft.sources.{GeocodeSource, Ingest, RegionSource}

/** Ingest-side sources: geocode dimension (S4/S5), retry/backoff (S3), and
  * the polymorphic region read (S6). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------- geocode ------------------------------------

  test("first-match geocode resolves a known city and misses soft") {
    val geo = GeocodeSource.firstMatch(GeocodeSource.builtinDim(spark), "Bandung")
    assert(geo.contains(GeocodeSource.Geo("Bandung", -6.9175, 107.6191, "Asia/Jakarta")))
    assert(GeocodeSource.firstMatch(GeocodeSource.builtinDim(spark), "Atlantis").isEmpty)
  }

  test("top-k search: exact name first, then alphabetical, blank fails soft") {
    val dim = Seq(
      ("Malang", 1.0, 2.0, "tz"), ("Makassar", 1.0, 2.0, "tz"),
      ("Mataram", 1.0, 2.0, "tz"), ("MA", 1.0, 2.0, "tz"))
      .toDF("name", "lat", "lon", "tz")
    val hits = GeocodeSource.searchTopK(dim, "ma", k = 3)
      .select("name").as[String].collect().toSeq
    assert(hits == Seq("MA", "Makassar", "Malang")) // exact first, then alpha
    assert(GeocodeSource.searchTopK(dim, "  ", k = 3).count() == 0)
  }

  // ---------------------------- retry/backoff ------------------------------

  test("ingest retry: succeeds on 3rd attempt with 0.8s x1.6 backoff") {
    var delays = Vector.empty[Long]
    var calls = 0
    val out = Ingest.retry(retries = 3, sleep = d => delays :+= d) { _ =>
      calls += 1
      if (calls < 3) throw new RuntimeException("boom")
      "ok"
    }
    assert(out == "ok" && calls == 3)
    assert(delays == Vector(800L, 1280L)) // 0.8s, then x1.6
  }

  test("ingest retry: all attempts fail -> NetworkError keeps the cause") {
    var calls = 0
    val e = intercept[Ingest.NetworkError] {
      Ingest.retry[String](retries = 3, sleep = _ => ()) { _ =>
        calls += 1; throw new RuntimeException("down")
      }
    }
    assert(calls == 3)
    assert(e.getCause.getMessage == "down")
  }

  test("ingest retry: retries < 1 rejected; fatal errors are not retried") {
    intercept[IllegalArgumentException](Ingest.retry(retries = 0, sleep = _ => ())(_ => "x"))
    var calls = 0
    intercept[InterruptedException] {
      Ingest.retry(retries = 3, sleep = _ => ()) { _ =>
        calls += 1; throw new InterruptedException("stop")
      }
    }
    assert(calls == 1) // propagated on first throw, no backoff loop
  }

  // ---------------------------- real HTTP client ---------------------------

  test("HttpFetcher against a local stub: params/UA on the wire, status errors retry, body returns") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    @volatile var seenQuery: String = null
    @volatile var seenUa: String = null
    var flakyCalls = 0
    def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/ok", (ex: HttpExchange) => {
      seenQuery = ex.getRequestURI.getRawQuery
      seenUa = ex.getRequestHeaders.getFirst("User-Agent")
      respond(ex, 200, """{"hourly":{"time":[]}}""")
    })
    server.createContext("/flaky", (ex: HttpExchange) => {
      flakyCalls += 1
      if (flakyCalls < 3) respond(ex, 503, "unavailable")
      else respond(ex, 200, """{"ok":true}""")
    })
    server.createContext("/down", (ex: HttpExchange) => respond(ex, 500, "boom"))
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val f = new Ingest.HttpFetcher()
      // params are URL-encoded onto the GET; the UA header is the engine's
      val body = f.get(s"$base/ok", Seq("hourly" -> "pm2_5,pm10", "days" -> "7"))
      assert(body == """{"hourly":{"time":[]}}""")
      assert(seenQuery == "hourly=pm2_5%2Cpm10&days=7")
      assert(seenUa == Ingest.UserAgent)
      // non-2xx flows through the SAME retry loop as transport errors:
      // two 503s then success, with the 0.8 s x1.6 schedule (sleep stubbed)
      var delays = Vector.empty[Long]
      val ok = Ingest.retry(sleep = d => delays :+= d)(_ => f.get(s"$base/flaky"))
      assert(ok == """{"ok":true}""" && flakyCalls == 3)
      assert(delays == Vector(800L, 1280L))
      // exhaustion wraps the last HttpStatusError in NetworkError
      val err = intercept[Ingest.NetworkError] {
        Ingest.retry(sleep = _ => ())(_ => f.get(s"$base/down"))
      }
      assert(err.getCause.isInstanceOf[Ingest.HttpStatusError] &&
        err.getCause.asInstanceOf[Ingest.HttpStatusError].status == 500)
      // transport-level failure (nothing listening) also becomes NetworkError
      server.stop(0)
      val dead = intercept[Ingest.NetworkError] {
        Ingest.retry(sleep = _ => ())(_ => f.get(s"$base/ok"))
      }
      assert(dead.getCause.isInstanceOf[java.io.IOException])
    } finally server.stop(0)
  }

  // ---------------------------- fan-out guard ------------------------------

  test("fanOut repartitions only scans-narrow inputs, from metadata alone") {
    import graft.core.Parallelism
    val target = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    spark.range(1000).toDF("id").repartition(target * 2)
      .write.parquet(s"$dir/many")
    val many = spark.read.parquet(s"$dir/many")
    assert(Parallelism.fanOut(many) eq many) // enough files: untouched, no shuffle
    spark.range(10).toDF("id").coalesce(1).write.parquet(s"$dir/one")
    val one = spark.read.parquet(s"$dir/one")
    val fanned = Parallelism.fanOut(one)
    assert(fanned ne one)
    assert(fanned.rdd.getNumPartitions == target)
    // in-memory input (no files): narrow frames fan out...
    assert(Parallelism.fanOut(Seq(1, 2, 3).toDF("x")).rdd.getNumPartitions == target)
    // ...but an already-wide computed relation passes through shuffle-free
    val wide = spark.range(1000).toDF("id").repartition(target)
    assert(Parallelism.fanOut(wide) eq wide)
  }

  // ---------------------------- polymorphic regions ------------------------

  test("region read normalizes list, keyed-dict, aliased, and map payloads") {
    val payloads = graft.queries.RelationalQueries.S6FixturePayloads.toDF("payload")
    val out = RegionSource.normalize(payloads).orderBy("id")
      .as[(String, String)].collect().toSeq
    assert(out == Seq(
      "11" -> "ACEH", "12" -> "SUMATERA UTARA", "13" -> "SUMATERA BARAT",
      "14" -> "RIAU", "15" -> "JAMBI"))
  }

  test("region read drops incomplete records and garbage payloads") {
    val payloads = Seq(
      """[{"id": "21"}, {"name": "orphan"}, {"id": "22", "name": "OK"}]""",
      """not json at all""",
      """{"unrelated": {"nested": true}}""").toDF("payload")
    val out = RegionSource.normalize(payloads).as[(String, String)].collect().toSeq
    assert(out == Seq("22" -> "OK"))
  }

  test("regencies variant accepts data, regencies, and code-keyed payloads") {
    val payloads = Seq(
      """{"regencies": [{"id": "3201", "name": "KAB. BOGOR"}]}""",
      """{"32": [{"id": "3202", "name": "KAB. SUKABUMI"}]}""").toDF("payload")
    val out = RegionSource.normalizeRegencies(payloads, provinceCode = "32")
      .orderBy("id").as[(String, String)].collect().toSeq
    assert(out == Seq("3201" -> "KAB. BOGOR", "3202" -> "KAB. SUKABUMI"))
  }
}
