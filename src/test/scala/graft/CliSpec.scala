package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Config
import graft.operators.SaltedJoin
import graft.weather.{WeatherCli, WeatherSources, WeatherTransform}

class CliSpec extends SparkSpec {
  import spark.implicits._
  import CliSpec._

  private def cfg() = {
    val dir = Files.createTempDirectory("graft-cli")
    dir.toFile.deleteOnExit()
    Config(city = "Bandung", dataDir = dir.toString)
  }

  test("fetch -> transform -> report runs end-to-end on embedded fixtures") {
    val c = cfg()
    val (wLatest, aLatest) = WeatherCli.fetch(c)
    assert(Files.exists(java.nio.file.Paths.get(wLatest)))
    assert(Files.exists(java.nio.file.Paths.get(aLatest)))

    val daily = WeatherCli.transform(spark, c).orderBy("date").collect()
    assert(daily.length == 2)
    assert(daily(0).getAs[Double]("temp_max") == 26.5)
    assert(daily(1).getAs[String]("pm25_category") == "Tidak sehat (sensitif)")
    assert(daily(1).getAs[Boolean]("is_unhealthy_pm25"))

    val report = WeatherCli.report(spark, c)
    assert(report.isDefined)
    val html = Files.readString(java.nio.file.Paths.get(report.get))
    assert(html.contains("Bandung") && html.contains("Rekomendasi"))
    // the chart section rides in the written report (S11 + viz layer)
    assert(html.contains("<h2>Grafik</h2>") && html.contains("vegaEmbed(\"#chart_3\""))
    assert(html.contains("vega-lite/v5.json"))
  }

  test("sunrise/sunset ride the pipeline when the sample payload carries them") {
    val c = cfg()
    // embedded fixture path (previous test) has no daily block -> nulls; here
    // a samples-dir payload WITH the block must surface per-card sun times in
    // the processed zone and the serving JSON (app.js:323-324 consumers)
    val samples = Files.createTempDirectory("graft-samples")
    Files.writeString(samples.resolve("bandung_weather.json"),
      """{"hourly": {"time": ["2025-01-01T00:00", "2025-01-01T01:00"],
        |  "temperature_2m": [25.0, 26.5], "precipitation": [0.0, 0.1]},
        | "daily": {"time": ["2025-01-01"],
        |  "sunrise": ["2025-01-01T05:58"], "sunset": ["2025-01-01T18:10"]}}""".stripMargin)
    Files.writeString(samples.resolve("bandung_air.json"),
      """{"hourly": {"time": ["2025-01-01T00:00", "2025-01-01T01:00"],
        |  "pm2_5": [10.0, 20.0], "pm10": [25.0, 30.0]}}""".stripMargin)
    WeatherCli.fetch(c, sampleDir = Some(samples.toString))
    val daily = WeatherCli.transform(spark, c).collect()
    assert(daily.length == 1)
    assert(daily(0).getAs[String]("sunrise") == "2025-01-01T05:58")
    assert(daily(0).getAs[String]("sunset") == "2025-01-01T18:10")
    val json = WeatherCli.recordsJson(WeatherCli.records(spark, c, "daily"), "Bandung")
    assert(json.contains(""""sunrise":"2025-01-01T05:58""""))
    assert(json.contains(""""sunset":"2025-01-01T18:10""""))
  }

  test("serveDaily is cache-or-compute: computes once, then serves the cache") {
    val c = cfg()
    val first = WeatherCli.records(spark, c, "daily") // no processed zone -> computes
    assert(first.length == 2)
    val parquet = java.nio.file.Paths.get(s"${c.processedDir}/bandung_daily.parquet")
    val mtime = Files.getLastModifiedTime(parquet)
    val second = WeatherCli.records(spark, c, "daily") // cache hit -> no rewrite
    assert(second.length == 2)
    assert(Files.getLastModifiedTime(parquet) == mtime)
    WeatherCli.records(spark, c, "daily", refresh = true) // forced recompute
    assert(Files.getLastModifiedTime(parquet) != mtime)
  }

  test("transform runs each city's plan once: at most 8 jobs for four sinks") {
    val c = cfg()
    WeatherCli.fetch(c)
    // two raw scans, two checkpoints (materialised by the published
    // collects), four writes
    val jobs = SparkSpec.launched(spark)(WeatherCli.transform(spark, c)).jobs
    assert(jobs <= 8, s"$jobs jobs for one city's transform")
  }

  test("transform publishes exactly the written rows, served with no Spark job") {
    val c0 = cfg()
    val samples = Files.createDirectories(Paths.get(c0.samplesDir))
    val ragged = "Kota Panjang"
    val (weather, air) = SixteenDayPayloads
    Files.writeString(samples.resolve(s"${WeatherSources.slug(ragged)}_weather.json"), weather)
    Files.writeString(samples.resolve(s"${WeatherSources.slug(ragged)}_air.json"), air)
    Seq("Bandung" -> (2, 3), ragged -> (16, 384)).foreach { case (city, (days, hours)) =>
      val c = c0.copy(city = city)
      WeatherCli.fetch(c)
      WeatherCli.transform(spark, c)
      Seq("daily" -> days, "hourly" -> hours).foreach { case (table, n) =>
        var published = IndexedSeq.empty[String]
        val jobs = SparkSpec.launched(spark) {
          published = WeatherCli.records(spark, c, table)
        }.jobs
        assert(jobs == 0, s"$city $table")
        assert(published.length == n, s"$city $table")
        assert(published == WeatherCli.readProcessed(spark, c, table).toJSON.collect().toSeq,
          s"$city $table")
      }
    }
  }

  test("a table rewritten without a publish is read from disk on the next request") {
    val c = cfg()
    WeatherCli.fetch(c)
    WeatherCli.transform(spark, c)
    assert(WeatherCli.records(spark, c, "daily").length == 2)
    // what another process's transform would leave: new rows, no snapshot
    val rewritten = WeatherCli.readProcessed(spark, c, "daily")
      .withColumn("temp_max", col("temp_max") + 100).localCheckpoint()
    WeatherSources.writeProcessed(rewritten, c.processedDir, "bandung_daily")
    val served = WeatherCli.records(spark, c, "daily")
    assert(served == rewritten.toJSON.collect().toSeq)
    assert(served.exists(_.contains(""""temp_max":126.5""")))
    // loaded once, then served from the republished snapshot
    assert(SparkSpec.launched(spark)(WeatherCli.records(spark, c, "daily")).jobs == 0)
  }

  test("the processed tables have exactly the declared schemas") {
    val c = cfg()
    WeatherCli.fetch(c)
    val daily = WeatherCli.transform(spark, c)
    def shape(t: StructType) = t.fields.map(f => f.name -> f.dataType).toSeq
    assert(shape(daily.schema) == shape(WeatherTransform.DailySchema))
    // what parquet inference would find is what the serving reads declare
    Seq("daily" -> WeatherTransform.DailySchema, "hourly" -> WeatherTransform.HourlySchema)
      .foreach { case (table, schema) =>
        assert(spark.read.parquet(WeatherCli.processedPath(c, table)).schema == schema, table)
      }
  }

  test("transform writes one part file per sink; CSV bytes equal the goldens (FIXTURES §1.9)") {
    val c0 = cfg()
    val samples = Files.createDirectories(Paths.get(c0.samplesDir))
    ShapePayloads.foreach { case (city, (weather, air)) =>
      val slug = WeatherSources.slug(city)
      Files.writeString(samples.resolve(s"${slug}_weather.json"), weather)
      Files.writeString(samples.resolve(s"${slug}_air.json"), air)
      val c = c0.copy(city = city)
      WeatherCli.fetch(c)
      WeatherCli.transform(spark, c)
      def part(sink: String) = {
        val parts = Files.list(Paths.get(c.processedDir, sink)).iterator().asScala
          .map(_.getFileName.toString).filter(n => n.startsWith("part-") && !n.endsWith(".crc"))
          .toSeq
        assert(parts.size == 1, s"$sink: $parts")
        Paths.get(c.processedDir, sink, parts.head)
      }
      part(s"${slug}_daily.parquet")
      part(s"${slug}_hourly.parquet")
      val (daily, hourly) = ShapeGoldens(city)
      assert(Files.readString(part(s"${slug}_daily_csv")) == daily, city)
      assert(Files.readString(part(s"${slug}_hourly_csv")) == hourly, city)
    }
  }

  test("recordsJson emits the {city, count, data} payload (S12)") {
    val df = Seq(("2025-01-01", 26.5)).toDF("date", "temp_max")
    val json = WeatherCli.recordsJson(df.toJSON.collect().toSeq, "Bandung")
    assert(json.startsWith("""{"city": "Bandung", "count": 1,"""))
    assert(json.contains(""""temp_max":26.5"""))
  }

  test("fetch resolves the city through a (stubbed) geocode dim, slug on miss") {
    // the test_fetch.py:21-38 pattern: a stub dim stands in for the API
    val stubDim = Seq(("Bandung", -6.9175, 107.6191, "Asia/Jakarta"))
      .toDF("name", "lat", "lon", "tz")
    val hit = WeatherCli.resolve(spark, "Bandung", Some(stubDim))
    assert(hit.contains(
      graft.sources.GeocodeSource.Geo("Bandung", -6.9175, 107.6191, "Asia/Jakarta")))
    // unknown city: fail-soft None -> pipeline proceeds on the slug identity
    assert(WeatherCli.resolve(spark, "Kota Antah", Some(stubDim)).isEmpty)
    assert(graft.weather.WeatherSources.slug("Kota Antah") == "kota-antah")
  }

  test("fun-fact cache: cache-or-generate, last-7 trim, legacy + corrupt reads") {
    import graft.weather.FunFactCache
    val dir = java.nio.file.Files.createTempDirectory("funfacts")
    val path = s"$dir/funfacts.json"
    var calls = 0
    def gen(s: String) = () => { calls += 1; Some(s) }
    // first call generates and persists; second serves from cache
    assert(FunFactCache.get(path, " Bandung ", gen("f1")).contains("f1"))
    assert(FunFactCache.get(path, "bandung", gen("f2")).contains("f1"))
    assert(calls == 1)
    // fresh=true regenerates; variants accumulate, trimmed to the last 7
    (2 to 9).foreach(i =>
      FunFactCache.get(path, "bandung", gen(s"f$i"), fresh = true))
    val facts = FunFactCache.load(path)("bandung")
    assert(facts.size == 7 && facts.head == "f3" && facts.last == "f9")
    assert(FunFactCache.cached(path, "Bandung").contains("f9"))
    // supplier failure falls back to cache; unknown city stays None
    assert(FunFactCache.get(path, "bandung", () => None, fresh = true).contains("f9"))
    assert(FunFactCache.get(path, "nowhere", () => None).isEmpty)
    // legacy single-fact entries and corrupt files read tolerantly
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"solo": {"fact": "old-shape", "ts": 1}}""")
    assert(FunFactCache.cached(path, "solo").contains("old-shape"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), "{not json")
    assert(FunFactCache.load(path).isEmpty)
  }

  test("fun-fact fast mode: instant cache hit + background refresh (T3)") {
    import graft.weather.FunFactCache
    val path = s"${java.nio.file.Files.createTempDirectory("funfacts")}/ff.json"
    var calls = 0
    val gen = () => { calls += 1; Some(s"gen$calls") }
    // deterministic "background": run inline so the refresh is observable
    val inline: java.util.concurrent.Executor = _.run()
    // queueing executor: proves the fast answer is computed BEFORE the
    // refresh runs (the reference's background_tasks semantics)
    val queued = new java.util.concurrent.ConcurrentLinkedQueue[Runnable]()
    val deferred: java.util.concurrent.Executor = r => { queued.add(r): Unit }

    // cold cache: synchronous generate, tagged "generated", nothing scheduled
    val (f0, s0) = FunFactCache.fastGet(path, "Bandung", gen, deferred)
    assert(f0.contains("gen1") && s0 == "generated" && queued.isEmpty)
    // warm cache: answered from cache BEFORE any refresh work happens...
    val (f1, s1) = FunFactCache.fastGet(path, "bandung", gen, deferred)
    assert(f1.contains("gen1") && s1 == "cache-fast")
    assert(calls == 1 && queued.size == 1)
    // ...and the queued task regenerates a fresh variant into the cache
    queued.poll().run()
    assert(calls == 2)
    assert(FunFactCache.cached(path, "bandung").contains("gen2"))
    // inline executor: same observable end state in one call
    val (f2, s2) = FunFactCache.fastGet(path, "bandung", gen, inline)
    assert(f2.contains("gen2") && s2 == "cache-fast")
    assert(FunFactCache.cached(path, "bandung").contains("gen3"))
    // a failing background supplier must not disturb the cache
    val (f3, _) = FunFactCache.fastGet(path, "bandung", () => None, inline)
    assert(f3.contains("gen3"))
    assert(FunFactCache.cached(path, "bandung").contains("gen3"))
  }

  test("salted join returns exactly the plain join, spread over salts") {
    val big = Seq((1, "a"), (1, "b"), (1, "c"), (2, "d")).toDF("k", "v")
    val small = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "w")
    val salted = SaltedJoin.inner(big, small, Seq("k"), factor = 4)
      .orderBy("k", "v").collect()
    val plain = big.join(small, Seq("k")).orderBy("k", "v").collect()
    assert(salted.toSeq == plain.toSeq)
    assert(!salted.head.schema.fieldNames.contains("__salt"))
  }

  private def sweepCache(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def assertNoResidue(): Unit = {
    assert(spark.sharedState.cacheManager.isEmpty, "curate left cached frames")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"curate left ${spark.sparkContext.getPersistentRDDs.size} persistent RDD(s)")
  }

  /** Run `curate` on a swept session and return its summary and the Spark
    * jobs it launched; nothing it cached may outlive it. */
  private def curated(curate: => CorpusCli.Summary): (CorpusCli.Summary, Int) = {
    sweepCache()
    var s: CorpusCli.Summary = null
    val jobs = SparkSpec.launched(spark) { s = curate }.jobs
    assertNoResidue()
    (s, jobs)
  }

  /** A curate's outputs in the form the goldens pin. */
  private def outputsOf(out: String): Delivered = {
    def sha256(bytes: Array[Byte]) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString
    val audit = spark.read.parquet(s"$out/audit").collect()
      .map(r => (r.getLong(0), String.valueOf(r.get(1)), r.getString(2))).sortBy(_._1)
      .map { case (id, source, verdict) => s"$id\t$source\t$verdict\n" }.mkString
    val shards = Files.list(Paths.get(out, "corpus")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("shard=")).map { dir =>
        val parts = Files.list(dir).iterator().asScala.toSeq.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("part-") && !n.endsWith(".crc")
        }
        assert(parts.size == 1, s"$dir: $parts")
        dir.getFileName.toString.stripPrefix("shard=").toInt -> sha256(Files.readAllBytes(parts.head))
      }.toMap
    val manifest = spark.read.parquet(s"$out/manifest").orderBy("shard").collect()
      .map(_.toString).toSeq
    Delivered(sha256(audit.getBytes("UTF-8")), shards, manifest)
  }

  test("CorpusCli.curate delivers a validated sharded corpus with a full audit") {
    val out = Files.createTempDirectory("graft-corpus").toString
    val budget = 2000L
    val (s, jobs) = curated(CorpusCli.curate(spark, "/root/testdata/sf0.001", out,
      shards = 4, budgetTokensPerSource = budget, minQuality = 0.4))
    // 56 when every sink re-ran the whole chain: without near-dup or decon
    // stages the chain is a handful of small shuffles, so the gain here is
    // the per-row text work run once, not the job count
    assert(jobs <= 57, s"$jobs jobs for the default curate")
    assert(s.shardsOk, "manifest validation must pass on a fresh export")
    // the audit, the shard bytes and the manifest equal the parent's
    assert(outputsOf(out) == DefaultGolden)
    // the audit covers EVERY input document exactly once
    assert(s.byVerdict.values.sum == s.nDocs)
    val audit = spark.read.parquet(s"$out/audit")
    assert(audit.count() == s.nDocs &&
      audit.select("doc_id").distinct().count() == s.nDocs)
    // the exported corpus is exactly the kept set
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_tokens",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("quality",
        org.apache.spark.sql.types.DoubleType)))
    val corpus = graft.sources.Export.readJsonlSharded(spark, s"$out/corpus", schema)
    assert(corpus.count() == s.nKept && s.nKept > 0 && s.nKept < s.nDocs)
    // per-source token budget respected (cap contract: cum - toks < budget)
    val maxDoc = corpus.agg(max("n_tokens")).collect()(0).getLong(0)
    corpus.groupBy("source").agg(sum("n_tokens").as("t")).collect()
      .foreach(r => assert(r.getLong(1) <= budget + maxDoc,
        s"source ${r.getString(0)} over budget: ${r.getLong(1)}"))
    // kept ids in the audit are exactly the exported ids
    val keptAudit = audit.filter(col("verdict") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAudit == corpus.select("doc_id").collect().map(_.getLong(0)).toSet)
    // --codec gzip: same kept set delivered as .jsonl.gz shards, manifest
    // records the codec + compressed bytes, and the read-back + full byte
    // validation (decompressed AND on-disk) still passes
    val outGz = Files.createTempDirectory("graft-corpus-gz").toString
    val (sGz, _) = curated(CorpusCli.curate(spark, "/root/testdata/sf0.001", outGz,
      shards = 4, budgetTokensPerSource = budget, minQuality = 0.4,
      codec = Some("gzip")))
    assert(sGz.shardsOk && sGz.nKept == s.nKept)
    assert(outputsOf(outGz) == GzipGolden)
    val mGz = spark.read.parquet(s"$outGz/manifest").collect()
    assert(mGz.forall(r => r.getAs[String]("codec") == "gzip" &&
      r.getAs[Long]("n_bytes_compressed") < r.getAs[Long]("n_bytes")))
    assert(new java.io.File(s"$outGz/corpus").listFiles()
      .filter(_.getName.startsWith("shard=")).forall(
        _.listFiles().exists(_.getName.endsWith(".txt.gz"))))
    val gzCorpus = graft.sources.Export.readJsonlSharded(
      spark, s"$outGz/corpus", schema)
    assert(gzCorpus.select("doc_id").collect().map(_.getLong(0)).toSet ==
      keptAudit)
  }

  test("CorpusCli --trained-langid routes with the NB model instead of markers") {
    val out = Files.createTempDirectory("graft-corpus-tl").toString
    val s = CorpusCli.curate(spark, "/root/testdata/sf0.001", out,
      shards = 2, budgetTokensPerSource = 5000L, minQuality = 0.0,
      trainedLangId = true)
    assert(s.shardsOk && s.nKept > 0)
    assert(s.byVerdict.values.sum == s.nDocs)
    // the synthetic corpus's lang labels are text-independent, so the
    // trained router's Bayes optimum is the majority class 'en' — every
    // doc routes en and the lang screen drops NOTHING (the heuristic
    // screen in the default-config test above does drop docs). The spec's
    // point is the WIRING: the audit must carry no lang verdicts here.
    assert(!s.byVerdict.contains("lang"), s.byVerdict.toString)
    // an export that throws (here on an unknown codec, after the verdicts
    // are materialised and the audit written) still releases every cached
    // frame, the trained router's token fold included
    sweepCache()
    intercept[IllegalArgumentException](CorpusCli.curate(spark,
      "/root/testdata/sf0.001", Files.createTempDirectory("graft-corpus-tl-x").toString,
      shards = 2, budgetTokensPerSource = 5000L, minQuality = 0.0,
      trainedLangId = true, codec = Some("lz4")))
    assertNoResidue()
  }

  test("CorpusCli --neardup and --decon-bench drop planted near-dups and benchmark leaks") {
    val spark2 = spark
    import spark2.implicits._
    // plant: for each of 5 docs, a near-copy (same text + short tail, new
    // id above the originals) -> near-dup clusters of 2; the ORIGINAL has
    // equal quality and the lower id, so it is the kept exemplar
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val maxId = base.agg(max("doc_id")).head().getLong(0)
    val copies = base.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + maxId + 1)
      .withColumn("text", concat(col("text"), lit(" extra tail words")))
    val inDir = Files.createTempDirectory("graft-nd-in").toString
    base.unionByName(copies)
      .write.mode("overwrite").parquet(s"$inDir/documents.parquet")
    // pass 1 (no decon): learn which docs the screen+dedup chain keeps
    val out0 = Files.createTempDirectory("graft-nd-out0").toString
    CorpusCli.curate(spark, inDir, out0,
      shards = 4, budgetTokensPerSource = 100000L, minQuality = 0.0,
      nearDup = true)
    assert(outputsOf(out0) == NearDupGolden)
    val kept0 = spark.read.parquet(s"$out0/audit")
      .filter(col("verdict") === "kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // benchmark: the exact texts of 3 docs pass 1 KEPT — with decon on,
    // exactly these must flip kept -> contaminated (nothing upstream of
    // the decon stage changes between the runs)
    val benchIds = kept0.toSeq.sorted.take(3).toSet
    assert(benchIds.size == 3, s"pass 1 must keep >= 3 docs, kept ${kept0.size}")
    val benchDir = Files.createTempDirectory("graft-nd-bench").toString
    base.unionByName(copies).filter(col("doc_id").isin(benchIds.toSeq: _*))
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(benchDir)
    val out = Files.createTempDirectory("graft-nd-out").toString
    val (s, jobs) = curated(CorpusCli.curate(spark, inDir, out,
      shards = 4, budgetTokensPerSource = 100000L, minQuality = 0.0,
      nearDup = true, deconBenchDir = Some(benchDir)))
    // 146 when every sink re-ran the whole chain, LSH and decon included
    assert(jobs <= 100, s"$jobs jobs for the --neardup --decon-bench curate")
    assert(s.shardsOk && s.byVerdict.values.sum == s.nDocs)
    assert(outputsOf(out) == NearDupDeconGolden)
    val audit = spark.read.parquet(s"$out/audit")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // a planted pair that passed the screens cannot BOTH survive near-dup
    // clustering (its cluster may also contain natural corpus near-dups,
    // so which member — or a third doc — wins the best-quality keeper slot
    // is the operator's business; the audit-level invariant is that the
    // pair loses at least one member)
    (0L until 5L).foreach { id =>
      val pair = Seq(audit(id), audit(id + maxId + 1))
      if (!pair.exists(Set("quality", "lang")))
        assert(pair.count(_ == "near_duplicate") >= 1,
          s"pair of $id audited as $pair — at least one must drop as near-dup")
    }
    assert(audit.values.count(_ == "near_duplicate") >= 1)
    // the STRONG guarantee, implementation-independent: the delivered
    // corpus contains NO near-dup pair at the CLI's own threshold
    val keptIds = audit.filter(_._2 == "kept").keys.toSeq.toDF("doc_id")
    val residual = graft.operators.Dedup.minhashLshPairs(
      base.unionByName(copies).join(keptIds, Seq("doc_id"), "left_semi"),
      "doc_id", "text", k = 32, rowsPerBand = 4, threshold = 0.5)
    assert(residual.count() == 0, "delivered corpus still holds near-dups")
    // decon flips EXACTLY the benchmark docs from kept to contaminated
    // (everything upstream of the decon stage is identical between runs,
    // so no other verdict may move)
    val contaminated = audit.filter(_._2 == "contaminated").keys.toSet
    assert(contaminated == benchIds,
      s"expected exactly $benchIds contaminated, got $contaminated")
    assert(audit.filter(_._2 == "kept").keys.toSet == kept0 -- benchIds)
    // the delivered corpus contains no audited-drop ids
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    val delivered = graft.sources.Export
      .readJsonlSharded(spark, s"$out/corpus", schema)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(delivered == audit.filter(_._2 == "kept").keys.toSet)
  }

  test("IngestCli: builds indexes once, ingests files exactly once, rerun-safe") {
    val s2 = spark
    import s2.implicits._
    val corpusDir = Files.createTempDirectory("graft-ing-corpus").toString
    Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "one two three four five six seven"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val inDir = Files.createTempDirectory("graft-ing-in").toString
    val stateDir = Files.createTempDirectory("graft-ing-state").toString + "/st"
    def writeJsonl(name: String, rows: Seq[(Long, String)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inDir, name),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    writeJsonl("b1.jsonl", Seq(
      (1001L, "alpha beta gamma delta epsilon zeta"),        // exact corpus dup
      (1002L, "alpha beta gamma delta epsilon zeta extra"),  // near-dup of 100
      (1003L, "totally fresh unrelated content words here")))
    val r1 = IngestCli.run(spark, corpusDir, inDir, stateDir)
    assert(r1.nDocs == 2 && r1.nCorpus == 2,
      s"exact dup must drop, survivors append: $r1")
    assert(r1.nLabels == 4) // 2 corpus + 2 survivors
    // the near-dup survivor clustered under its corpus component
    val labels = spark.read.parquet(s"$stateDir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1002L) == 100L && labels(1003L) == 1003L)
    // rerun with NOTHING new: the checkpoint makes it a no-op
    val r2 = IngestCli.run(spark, corpusDir, inDir, stateDir)
    assert(r2 == r1, s"rerun must be exactly-once: $r2 vs $r1")
    // a new file lands; only it is processed
    writeJsonl("b2.jsonl", Seq(
      (1004L, "another brand new document entirely distinct")))
    val r3 = IngestCli.run(spark, corpusDir, inDir, stateDir)
    assert(r3.nDocs == 3 && r3.nLabels == 5, s"increment only: $r3")
    val ids = spark.read.parquet(s"$stateDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1002L, 1003L, 1004L))
  }

  test("IngestCli --wet ingests crawl segments exactly once through the same chain") {
    val s2 = spark
    import s2.implicits._
    import graft.sources.Warc
    val corpusDir = Files.createTempDirectory("graft-wet-corpus").toString
    Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "one two three four five six seven"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val wetDir = Files.createTempDirectory("graft-wet-in").toString
    val stateDir = Files.createTempDirectory("graft-wet-state").toString + "/st"
    def drop(src: String, docs: Seq[(Long, String)]): Unit =
      Warc.writeWetFiles(Warc.wetExport(
        docs.toDF("doc_id", "text").withColumn("source", lit(src))), wetDir)
    drop("seg_a", Seq(
      (1001L, "alpha beta gamma delta epsilon zeta"),       // exact corpus dup
      (1002L, "alpha beta gamma delta epsilon zeta extra"), // near-dup of 100
      (1003L, "totally fresh unrelated content words here")))
    val r1 = IngestCli.runWet(spark, corpusDir, wetDir, stateDir)
    assert(r1.nDocs == 2 && r1.nCorpus == 2,
      s"exact dup must drop, survivors append: $r1")
    assert(r1.nLabels == 4) // 2 corpus + 2 survivors
    val labels = spark.read.parquet(s"$stateDir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1002L) == 100L && labels(1003L) == 1003L)
    // rerun with NO new segments: staging is presence-guarded and the
    // checkpoint already holds the staged file — exactly-once end to end
    val r2 = IngestCli.runWet(spark, corpusDir, wetDir, stateDir)
    assert(r2 == r1, s"rerun must be exactly-once: $r2 vs $r1")
    // a second segment lands; only it is processed
    drop("seg_b", Seq(
      (1004L, "another brand new document entirely distinct")))
    val r3 = IngestCli.runWet(spark, corpusDir, wetDir, stateDir)
    assert(r3.nDocs == 3 && r3.nLabels == 5, s"increment only: $r3")
    val ids = spark.read.parquet(s"$stateDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1002L, 1003L, 1004L))
  }

  test("IngestCli --wds ingests WebDataset shards exactly once through the same chain") {
    val s2 = spark
    import s2.implicits._
    import graft.sources.Tar
    val corpusDir = Files.createTempDirectory("graft-wds-corpus").toString
    Seq((100L, "alpha beta gamma delta epsilon zeta"),
        (101L, "one two three four five six seven"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpusDir/documents.parquet")
    val wdsDir = Files.createTempDirectory("graft-wds-in").toString
    val stateDir = Files.createTempDirectory("graft-wds-state").toString + "/st"
    var shardNo = 0L
    def drop(docs: Seq[(Long, String)], gz: Boolean = false): Unit = {
      // one shard per drop: samples carry a text member and a binary
      // member (the media payload the text-dedup chain must NOT touch)
      val tar = Tar.wdsFileBytes(docs.map { case (id, t) =>
        (id, t, s"media-of-$id".getBytes("UTF-8")) })
      val bytes = if (gz) graft.sources.Warc.gzipMember(tar) else tar
      shardNo += 1
      Tar.writeWdsFiles(Seq((shardNo, bytes)).toDF("shard", "payload"), wdsDir)
    }
    drop(Seq(
      (1001L, "alpha beta gamma delta epsilon zeta"),       // exact corpus dup
      (1002L, "alpha beta gamma delta epsilon zeta extra"), // near-dup of 100
      (1003L, "totally fresh unrelated content words here")))
    val r1 = IngestCli.runWds(spark, corpusDir, wdsDir, stateDir)
    assert(r1.nDocs == 2 && r1.nCorpus == 2,
      s"exact dup must drop, survivors append: $r1")
    assert(r1.nLabels == 4) // 2 corpus + 2 survivors
    val labels = spark.read.parquet(s"$stateDir/labels")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1002L) == 100L && labels(1003L) == 1003L)
    // rerun with NO new shards: presence-guarded staging + checkpoint
    val r2 = IngestCli.runWds(spark, corpusDir, wdsDir, stateDir)
    assert(r2 == r1, s"rerun must be exactly-once: $r2 vs $r1")
    // a second shard lands; only it is processed
    drop(Seq((1004L, "another brand new document entirely distinct")))
    val r3 = IngestCli.runWds(spark, corpusDir, wdsDir, stateDir)
    assert(r3.nDocs == 3 && r3.nLabels == 5, s"increment only: $r3")
    val ids = spark.read.parquet(s"$stateDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1002L, 1003L, 1004L))
    // a GZIPPED shard lands (.tar.gz — the compressed delivery form):
    // same arrival unit, transparently inflated
    drop(Seq((1005L, "gzipped shard document with fresh words indeed")),
      gz = true)
    val r4 = IngestCli.runWds(spark, corpusDir, wdsDir, stateDir)
    assert(r4.nDocs == 4 && r4.nLabels == 6, s"gz shard increment: $r4")
    val ids4 = spark.read.parquet(s"$stateDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids4 == Set(1002L, 1003L, 1004L, 1005L))
  }

  test("IngestCli --diff reconciles snapshots through the increment chain; end state = fresh build") {
    val s2 = spark
    import s2.implicits._
    def writeCorpus(dir: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def T(i: Long) =
      s"unique$i alpha$i beta$i gamma$i delta$i epsilon$i"
    val oldDir = Files.createTempDirectory("graft-diff-old").toString
    val newDir = Files.createTempDirectory("graft-diff-new").toString
    val new2Dir = Files.createTempDirectory("graft-diff-new2").toString
    val stateDir = Files.createTempDirectory("graft-diff-st").toString + "/st"
    val freshState = Files.createTempDirectory("graft-diff-fr").toString + "/st"
    val emptyIn = Files.createTempDirectory("graft-diff-empty").toString
    val oldRows = (1L to 12L).map(i => (i, T(i)))
    writeCorpus(oldDir, oldRows)
    // new snapshot: remove 3 & 7, change 5 in place, add 21 & 22 (all
    // content pairwise disjoint — the clean case where the diff path must
    // converge to exactly what a fresh build over the new snapshot holds)
    val newRows = oldRows.filterNot(r => Set(3L, 7L).contains(r._1))
      .map { case (i, t) =>
        if (i == 5L) (i, "changed five entirely fresh words body") else (i, t) } ++
      Seq((21L, "brand new document twenty one payload"),
        (22L, "brand new document twenty two payload"))
    writeCorpus(newDir, newRows)
    val d1 = IngestCli.runDiff(spark, oldDir, newDir, stateDir)
    // the re-ingested slice is exactly added+changed; counts track the
    // new snapshot
    assert(IngestCli.currentDocs(spark, stateDir)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 21L, 22L))
    assert(d1.nDocs == 3 && d1.nLabels == 12 && d1.nCorpus == 12, s"$d1")
    // rerun of the SAME reconciliation: the batch marker makes it a no-op
    val d2 = IngestCli.runDiff(spark, oldDir, newDir, stateDir)
    assert(d2 == d1, s"rerun must be a no-op: $d2 vs $d1")
    assert(spark.read.parquet(s"$stateDir/docs").count() == 3L)
    // end state == a FRESH state build over the new snapshot, artifact by
    // artifact, once the tombstone mask is compacted in
    IngestCli.run(spark, newDir, emptyIn, freshState)
    IngestCli.compactState(spark, stateDir)
    def hashSet(st: String) = spark.read.parquet(s"$st/index/hashes")
      .select("content_hash").as[String].collect().toSet
    assert(hashSet(stateDir) == hashSet(freshState))
    def setsMap(st: String) = spark.read.parquet(s"$st/index/sets")
      .select(col("id_corpus"), array_sort(col("toks_corpus")).as("t"))
      .as[(Long, Seq[String])].collect().toMap
    assert(setsMap(stateDir) == setsMap(freshState))
    def bandRows(st: String) = {
      val df = spark.read.parquet(s"$st/index/bands")
      val cols = df.columns.sorted.map(col).toIndexedSeq
      df.select(cols: _*).collect().map(_.toSeq).toSet
    }
    assert(bandRows(stateDir) == bandRows(freshState))
    def labelRows(st: String) = spark.read.parquet(s"$st/labels")
      .select("id", "comp").as[(Long, Long)].collect().toSet
    assert(labelRows(stateDir) == labelRows(freshState))
    // chained second diff: remove 21, change 22, add an exact dup of a
    // retained doc (must drop) and a token-reordered near-dup of doc 2
    // (must survive AND cluster under doc 2's component)
    val new2Rows = newRows.filterNot(_._1 == 21L)
      .map { case (i, t) =>
        if (i == 22L) (i, "changed twenty two second generation") else (i, t) } ++
      Seq((23L, T(1)),
        (24L, s"epsilon2 unique2 alpha2 beta2 gamma2 delta2 unique2"))
    writeCorpus(new2Dir, new2Rows)
    val d3 = IngestCli.runDiff(spark, newDir, new2Dir, stateDir)
    assert(IngestCli.currentDocs(spark, stateDir)
      .select("doc_id").as[Long].collect().toSet == Set(5L, 22L, 24L))
    // 12 live contents: 10 retained + 22's new generation + 24 (23's
    // content duplicates doc 1's and the hash index is value-unique)
    assert(d3.nDocs == 3 && d3.nLabels == 12 && d3.nCorpus == 12, s"$d3")
    val labels2 = spark.read.parquet(s"$stateDir/labels")
      .select("id", "comp").as[(Long, Long)].collect().toMap
    assert(labels2(24L) == 2L, "near-dup must fold into its corpus component")
    assert(!labels2.contains(23L), "exact dup must not enter the labeling")
    assert(!labels2.contains(21L) && !labels2.contains(3L))
  }

  test("CorpusCli --from-html extracts first and lands on the plain-text result") {
    // stage an input whose text column is raw markup wrapping the same words
    val htmlDir = Files.createTempDirectory("graft-corpus-html").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .withColumn("text", concat(
        lit("<html><head><script>nav();</script></head><body><p>"),
        col("text"), lit("</p></body></html>")))
      .write.mode("overwrite").parquet(s"$htmlDir/documents.parquet")
    val outH = Files.createTempDirectory("graft-corpus-h").toString
    val outP = Files.createTempDirectory("graft-corpus-p").toString
    val fromHtml = CorpusCli.curate(spark, htmlDir, outH,
      shards = 4, budgetTokensPerSource = 2000L, fromHtml = true)
    val plain = CorpusCli.curate(spark, "/root/testdata/sf0.001", outP,
      shards = 4, budgetTokensPerSource = 2000L)
    // extraction recovers the wrapped text exactly, so every downstream
    // verdict — and the delivered corpus — is identical
    assert(fromHtml.byVerdict == plain.byVerdict && fromHtml.shardsOk)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def texts(o: String) = graft.sources.Export
      .readJsonlSharded(spark, s"$o/corpus", schema)
      .select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(outH) == texts(outP))
  }
}

object CliSpec {

  /** What one curate delivered: the SHA-256 of its audit rows sorted by
    * doc_id (one `doc_id<TAB>source<TAB>verdict` line each), the SHA-256 of
    * each shard's part file, and the manifest rows. */
  final case class Delivered(audit: String, shards: Map[Int, String], manifest: Seq[String])

  /** The goldens, captured from the chain-per-sink curate that preceded the
    * two materialisations: the outputs must not change with the plan. */
  val DefaultGolden = Delivered(
    "d89131b5905e5b5d4d96b5244733f1b7842b31d8d8606805a8a003510ed79b10",
    Map(0 -> "c038666f07abb46904d4294b36db3ef5ebf2b6940fff1c1ba3f1c925905b23f4",
      1 -> "5405840c49858444ebb8924992f9b6a0ed35929cb9120ac40bfe512145f46483",
      2 -> "2655ef3e1fec72c614eb717059df6e438ec4df65844d413be65bd11c4fa2a942",
      3 -> "4364bca940bac86508476ef50a403d9d68c95396a9b28ab7ba7006664539741c"),
    Seq("[0,93,36724,none,36724]", "[1,95,39565,none,39565]",
      "[2,114,45428,none,45428]", "[3,90,37501,none,37501]"))
  val GzipGolden = Delivered(
    DefaultGolden.audit,
    Map(0 -> "f9b085e2f9f540d29e6bed79fa6553ca4394442590daa1b2192227b33349061c",
      1 -> "12dc93f7dd4608339013c89b80e5f2b10e9c2f2f5eb19343fc1d7f70803a3797",
      2 -> "db619fe95de587d201d00b7adaa75621812b5e1da8a687e42727ee6169d605e4",
      3 -> "7c5c4cd223b761a2288805b950104fed3fdce0336ee6ce754fed55ab707803e3"),
    Seq("[0,93,36724,gzip,7432]", "[1,95,39565,gzip,7817]",
      "[2,114,45428,gzip,9038]", "[3,90,37501,gzip,7623]"))
  val NearDupGolden = Delivered(
    "6486212d940b0205f5e579c106a8e317669772ff93bee0311b15200e8332de40",
    Map(0 -> "fb1c8e14d5a4cf1b42028f07ca8545acf268d189b33ba839d0d6868060f088f7",
      1 -> "418000dd61728b30009971e2d142a6b4a546bd2376f602dbcf32d46e081ab0ec",
      2 -> "009cfb3148aeba63c7ca45ba03bbb7f36f60753df148fac9f8cded5c584af969",
      3 -> "efaababa3fd75f71ca8ae6f772430abb1aac68d1912640aaf17e737ccfd2c2cd"),
    Seq("[0,2,294,none,294]", "[1,2,254,none,254]", "[2,6,983,none,983]",
      "[3,1,133,none,133]"))
  // the three benchmark docs leave shard 0 empty, so it has no directory
  val NearDupDeconGolden = Delivered(
    "eb0f3e80566368029b01f865e9ada8611f01287a3e973034d18540b374a1bd35",
    Map(1 -> "418000dd61728b30009971e2d142a6b4a546bd2376f602dbcf32d46e081ab0ec",
      2 -> "366642710f3f2c6131d7dab68a43e213459efa154f1f1042892bb49749dd7824",
      3 -> "efaababa3fd75f71ca8ae6f772430abb1aac68d1912640aaf17e737ccfd2c2cd"),
    Seq("[1,2,254,none,254]", "[2,5,788,none,788]", "[3,1,133,none,133]"))

  private val Times = Seq("2025-03-01T00:00", "2025-03-01T12:00", "2025-03-02T06:00")
  private val Weather = Seq(
    "temperature_2m" -> "[24.5, 31.25, 22.0]", "precipitation" -> "[0.0, 1.25, 3.5]",
    "relative_humidity_2m" -> "[88.0, 61.0, 93.0]", "windspeed_10m" -> "[3.2, 11.8, 0.0]",
    "apparent_temperature" -> "[26.1, 35.4, 23.0]", "weathercode" -> "[1.0, 80.0, 61.0]",
    "dew_point_2m" -> "[22.4, 22.9, 20.8]", "winddirection_10m" -> "[90.0, 225.0, 180.0]")
  private val Air = Seq("pm2_5" -> "[12.0, 40.5, 8.25]", "pm10" -> "[20.0, 55.0, 15.5]")
  private val Sun =
    """"daily": {"time": ["2025-03-01", "2025-03-02"],
      | "sunrise": ["2025-03-01T05:52", "2025-03-02T05:52"],
      | "sunset": ["2025-03-01T18:03", "2025-03-02T18:02"]}""".stripMargin

  private def payload(fields: Seq[(String, String)], extra: Option[String] = None): String = {
    val hourly = ("time" -> Times.map("\"" + _ + "\"").mkString("[", ", ", "]")) +: fields
    (s""""hourly": {${hourly.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}""" +:
      extra.toSeq).mkString("{", ", ", "}")
  }

  private def replaced(fields: Seq[(String, String)], field: String, values: String) =
    fields.map { case (k, v) => k -> (if (k == field) values else v) }

  /** One two-day payload per FIXTURES §1.9 shape: a weather field missing, a
    * ragged (short) weather field, a short `pm10`, complete, and complete
    * with the optional daily sun block. */
  val ShapePayloads: Seq[(String, (String, String))] = Seq(
    "Kota Hilang" -> (payload(Weather.filterNot(_._1 == "windspeed_10m")), payload(Air)),
    "Kota Rombeng" -> (payload(replaced(Weather, "precipitation", "[0.0, 1.25]")), payload(Air)),
    "Kota Debu" -> (payload(Weather), payload(replaced(Air, "pm10", "[20.0]"))),
    "Kota Lengkap" -> (payload(Weather), payload(Air)),
    "Kota Surya" -> (payload(Weather, Some(Sun)), payload(Air)))

  /** A 16-day payload (384 hours) with a ragged `relative_humidity_2m`
    * and a short `pm10` (FIXTURES §1.9). */
  val SixteenDayPayloads: (String, String) = {
    val hours = 16 * 24
    val times = (0 until hours).map { h =>
      val hour = java.time.LocalDate.of(2025, 5, 1).plusDays(h / 24L).toString + f"T${h % 24}%02d:00"
      "\"" + hour + "\""
    }
    def series(n: Int, f: Int => Double) = (0 until n).map(f).mkString("[", ", ", "]")
    def block(fields: (String, String)*) =
      (("time" -> times.mkString("[", ", ", "]")) +: fields)
        .map { case (k, v) => s""""$k": $v""" }.mkString("""{"hourly": {""", ", ", "}}")
    (block("temperature_2m" -> series(hours, h => 20 + (h * 7 % 130) / 10.0),
        "precipitation" -> series(hours, h => (h % 9) * 0.25),
        "relative_humidity_2m" -> series(hours - 5, h => 50 + h % 50)),
      block("pm2_5" -> series(hours, h => 5 + h % 120), "pm10" -> series(hours - 2, h => 9 + h % 150)))
  }

  /** The daily and hourly CSV sinks of each shape, byte for byte, captured
    * from the per-sink plans that preceded the one-partition transform: the
    * processed zone must not change with the plan. */
  val ShapeGoldens: Map[String, (String, String)] = Map(
    "Kota Hilang" -> (
      """date,temp_min,temp_max,total_rain,pm25_avg,pm10_avg,pm25_category,sunrise,sunset,is_hot_day,is_heavy_rain,is_unhealthy_pm25
        |2025-03-01,24.5,31.25,1.25,26.25,37.5,Sedang,,,false,false,false
        |2025-03-02,22.0,22.0,3.5,8.25,15.5,Baik,,,false,false,false
        |""".stripMargin,
      """time,temp,rain,rh,wind,feels_like,wcode,dew_point,wind_dir,pm25,pm10,date
        |2025-03-01T00:00:00.000Z,24.5,0.0,88.0,,26.1,1.0,22.4,90.0,12.0,20.0,2025-03-01
        |2025-03-01T12:00:00.000Z,31.25,1.25,61.0,,35.4,80.0,22.9,225.0,40.5,55.0,2025-03-01
        |2025-03-02T06:00:00.000Z,22.0,3.5,93.0,,23.0,61.0,20.8,180.0,8.25,15.5,2025-03-02
        |""".stripMargin),
    "Kota Rombeng" -> (
      """date,temp_min,temp_max,total_rain,pm25_avg,pm10_avg,pm25_category,sunrise,sunset,is_hot_day,is_heavy_rain,is_unhealthy_pm25
        |2025-03-01,24.5,31.25,0.0,26.25,37.5,Sedang,,,false,false,false
        |2025-03-02,22.0,22.0,0.0,8.25,15.5,Baik,,,false,false,false
        |""".stripMargin,
      """time,temp,rain,rh,wind,feels_like,wcode,dew_point,wind_dir,pm25,pm10,date
        |2025-03-01T00:00:00.000Z,24.5,,88.0,3.2,26.1,1.0,22.4,90.0,12.0,20.0,2025-03-01
        |2025-03-01T12:00:00.000Z,31.25,,61.0,11.8,35.4,80.0,22.9,225.0,40.5,55.0,2025-03-01
        |2025-03-02T06:00:00.000Z,22.0,,93.0,0.0,23.0,61.0,20.8,180.0,8.25,15.5,2025-03-02
        |""".stripMargin),
    "Kota Debu" -> (
      """date,temp_min,temp_max,total_rain,pm25_avg,pm10_avg,pm25_category,sunrise,sunset,is_hot_day,is_heavy_rain,is_unhealthy_pm25
        |2025-03-01,24.5,31.25,1.25,26.25,,Sedang,,,false,false,false
        |2025-03-02,22.0,22.0,3.5,8.25,,Baik,,,false,false,false
        |""".stripMargin,
      """time,temp,rain,rh,wind,feels_like,wcode,dew_point,wind_dir,pm25,pm10,date
        |2025-03-01T00:00:00.000Z,24.5,0.0,88.0,3.2,26.1,1.0,22.4,90.0,12.0,,2025-03-01
        |2025-03-01T12:00:00.000Z,31.25,1.25,61.0,11.8,35.4,80.0,22.9,225.0,40.5,,2025-03-01
        |2025-03-02T06:00:00.000Z,22.0,3.5,93.0,0.0,23.0,61.0,20.8,180.0,8.25,,2025-03-02
        |""".stripMargin),
    "Kota Lengkap" -> (
      """date,temp_min,temp_max,total_rain,pm25_avg,pm10_avg,pm25_category,sunrise,sunset,is_hot_day,is_heavy_rain,is_unhealthy_pm25
        |2025-03-01,24.5,31.25,1.25,26.25,37.5,Sedang,,,false,false,false
        |2025-03-02,22.0,22.0,3.5,8.25,15.5,Baik,,,false,false,false
        |""".stripMargin,
      """time,temp,rain,rh,wind,feels_like,wcode,dew_point,wind_dir,pm25,pm10,date
        |2025-03-01T00:00:00.000Z,24.5,0.0,88.0,3.2,26.1,1.0,22.4,90.0,12.0,20.0,2025-03-01
        |2025-03-01T12:00:00.000Z,31.25,1.25,61.0,11.8,35.4,80.0,22.9,225.0,40.5,55.0,2025-03-01
        |2025-03-02T06:00:00.000Z,22.0,3.5,93.0,0.0,23.0,61.0,20.8,180.0,8.25,15.5,2025-03-02
        |""".stripMargin),
    "Kota Surya" -> (
      """date,temp_min,temp_max,total_rain,pm25_avg,pm10_avg,pm25_category,sunrise,sunset,is_hot_day,is_heavy_rain,is_unhealthy_pm25
        |2025-03-01,24.5,31.25,1.25,26.25,37.5,Sedang,2025-03-01T05:52,2025-03-01T18:03,false,false,false
        |2025-03-02,22.0,22.0,3.5,8.25,15.5,Baik,2025-03-02T05:52,2025-03-02T18:02,false,false,false
        |""".stripMargin,
      """time,temp,rain,rh,wind,feels_like,wcode,dew_point,wind_dir,pm25,pm10,date
        |2025-03-01T00:00:00.000Z,24.5,0.0,88.0,3.2,26.1,1.0,22.4,90.0,12.0,20.0,2025-03-01
        |2025-03-01T12:00:00.000Z,31.25,1.25,61.0,11.8,35.4,80.0,22.9,225.0,40.5,55.0,2025-03-01
        |2025-03-02T06:00:00.000Z,22.0,3.5,93.0,0.0,23.0,61.0,20.8,180.0,8.25,15.5,2025-03-02
        |""".stripMargin))
}
