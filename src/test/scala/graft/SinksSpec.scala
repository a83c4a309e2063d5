package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

import graft.weather.WeatherSources

/** Round-trips for the source/sink surface (SURVEY §2.1: S7-S10). */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  test("S8: raw snapshot + latest dual-write, latest tracks newest snapshot") {
    val dir = tmpDir("raw").toString
    WeatherSources.writeRawSnapshot(dir, "bandung", "weather", """{"v":1}""", "20250101T000000")
    val (snap2, latest) =
      WeatherSources.writeRawSnapshot(dir, "bandung", "weather", """{"v":2}""", "20250102T000000")
    assert(Files.readString(java.nio.file.Paths.get(latest)) == """{"v":2}""")
    assert(snap2.contains("bandung_weather_20250102T000000.json"))
    // both snapshots retained (append-only history)
    assert(new java.io.File(dir).list().count(_.startsWith("bandung_weather_2")) == 2)
  }

  test("S7: missing raw file falls back to the fail-soft empty shape") {
    val df = WeatherSources.readRaw(spark, "/nonexistent/never.json")
    assert(df.select(size(col("hourly.time"))).as[Int].head() == 0)
  }

  test("S9+S10: parquet and CSV sinks round-trip the daily frame") {
    val daily = Seq(
      ("2025-01-01", 25.0, 26.5, 0.1),
      ("2025-01-02", 24.0, 24.0, 2.4))
      .toDF("date", "temp_min", "temp_max", "total_rain")
      .withColumn("date", to_date(col("date")))
    val dir = tmpDir("proc").toString
    WeatherSources.writeProcessed(daily, dir, "daily")
    val back = spark.read.parquet(s"$dir/daily.parquet")
    assert(back.count() == 2 && back.columns.toSeq == daily.columns.toSeq)

    val csvPath = s"$dir/daily_csv"
    WeatherSources.writeCsvCompat(daily, csvPath)
    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(csvPath)
    assert(csv.count() == 2 && csv.columns.toSeq == daily.columns.toSeq)
    assert(csv.select(sum("total_rain")).as[Double].head() == 2.5)
  }

  test("S9: city-partitioned processed zone prunes to one directory per city") {
    val daily = Seq(("a", 1.0), ("b", 2.0)).toDF("city", "v")
    val dir = tmpDir("part").toString
    WeatherSources.writeProcessed(daily, dir, "daily", partitionByCity = true)
    assert(new java.io.File(s"$dir/daily.parquet").list().exists(_.startsWith("city=a")))
    val pruned = spark.read.parquet(s"$dir/daily.parquet").filter(col("city") === "a")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 1)
    // partition filter applied at the source, not post-scan
    assert(scan.contains("PartitionFilters: [") && scan.contains("city"))
  }

  test("JSONL sharded export: stable shards, ordered rows, byte-identical re-export") {
    import graft.sources.Export
    import org.apache.spark.sql.functions.{col, input_file_name}
    val docs = (1L to 37L).map(i => (i, s"doc $i text", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out1 = tmpDir("jsonl1").toString
    val manifest = Export.jsonlSharded(docs, col("doc_id"), shards = 4, out1)
      .collect()
    // manifest accounts for every row; shards are the hash buckets
    assert(manifest.map(_.getAs[Long]("n_rows")).sum == 37L)
    val back = spark.read.text(out1)
      .select(col("value"), input_file_name().as("f"))
    assert(back.count() == 37L)
    // every line parses back to the original row set
    val parsed = spark.read.json(back.select("value").as[String])
      .select("doc_id", "text", "source")
    assert(parsed.collect().map(r => r.getLong(0)).sorted.toSeq == (1L to 37L))
    // deterministic delivery: a second export writes byte-identical shards
    val out2 = tmpDir("jsonl2").toString
    Export.jsonlSharded(docs, col("doc_id"), shards = 4, out2)
    def shardBytes(dir: String): Map[String, String] =
      spark.read.text(dir).select(input_file_name().as("f"), col("value"))
        .collect().groupBy(r => r.getString(0).replaceAll(".*shard=", "shard=")
          .replaceAll("/[^/]*$", ""))
        .view.mapValues(_.map(_.getString(1)).mkString("\n")).toMap
    assert(shardBytes(out1) == shardBytes(out2))
  }

  test("JSONL loader round-trips rows with shard recovery; manifest validation catches loss") {
    import graft.sources.Export
    import org.apache.spark.sql.functions.col
    val docs = (1L to 37L).map(i => (i, s"doc $i text", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out = tmpDir("jsonl3").toString
    val manifest = Export.jsonlSharded(docs, col("doc_id"), shards = 4, out)
    val back = Export.readJsonlSharded(spark, out, docs.schema)
    // full round trip including the partition-recovered shard column
    assert(back.select("doc_id", "text", "source").collect().toSet ==
      docs.collect().toSet)
    val v = Export.validateShardsBytes(spark, out, docs.schema, manifest, "doc_id")
    assert(v.collect().forall(_.getAs[Boolean]("ok")))
    // simulate delivery loss: a copy of the export with one line dropped
    // from one shard (fresh directory — no stale file-status cache)
    val out2 = tmpDir("jsonl4").toString
    var badShard = -1L
    new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
      .foreach { sd =>
        val dst = new java.io.File(out2, sd.getName)
        dst.mkdirs()
        sd.listFiles().filter(_.getName.startsWith("part-")).foreach { part =>
          val lines = java.nio.file.Files.readAllLines(part.toPath)
          val kept =
            if (badShard < 0 && lines.size() > 1) {
              badShard = sd.getName.stripPrefix("shard=").toLong
              lines.subList(1, lines.size())
            } else lines
          java.nio.file.Files.write(
            new java.io.File(dst, part.getName).toPath, kept)
        }
      }
    val v2 = Export.validateShardsBytes(spark, out2, docs.schema, manifest, "doc_id")
      .collect().map(r => r.getAs[Long]("shard") -> r.getAs[Boolean]("ok")).toMap
    assert(badShard >= 0 && !v2(badShard) && v2.count(!_._2) == 1,
      s"exactly the tampered shard ($badShard) must fail: $v2")
  }

  test("validateShardsBytes catches same-line-count corruption that row counts cannot") {
    import graft.sources.Export
    import org.apache.spark.sql.functions.col
    val docs = (1L to 37L).map(i => (i, s"doc $i text", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out = tmpDir("jsonl5").toString
    val manifest = Export.jsonlSharded(docs, col("doc_id"), shards = 4, out)
      .persist()
    manifest.count()
    // pristine export: all three checks green
    val v0 = Export.validateShardsBytes(spark, out, docs.schema, manifest, "doc_id")
    assert(v0.collect().forall(r =>
      r.getAs[Boolean]("ok") && r.getAs[Long]("n_bad") == 0L))
    // tamper two ways that BOTH preserve per-shard line counts:
    //  - shard A: corrupt one line in place, SAME length (JSON no longer
    //    parses -> doc_id null) — only n_bad can see it
    //  - shard B: truncate one line by a byte (still valid-length line set?
    //    no — broken JSON AND short bytes) — bytes and n_bad both see it
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    def firstPart(d: java.io.File) =
      d.listFiles().filter(_.getName.startsWith("part-")).head
    val pa = firstPart(dirs(0)).toPath
    val la = java.nio.file.Files.readAllLines(pa)
    la.set(0, "x" * la.get(0).length) // same length, unparseable
    java.nio.file.Files.write(pa, la)
    val pb = firstPart(dirs(1)).toPath
    val lb = java.nio.file.Files.readAllLines(pb)
    lb.set(0, lb.get(0).dropRight(1)) // one byte short, line count intact
    java.nio.file.Files.write(pb, lb)
    // drop the local-FS checksum sidecars: the tamper simulates a corrupt
    // DELIVERY (no crc files on the loader side), not a torn local write
    dirs.take(2).foreach(_.listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete()))
    spark.catalog.refreshByPath(out)
    val shardA = dirs(0).getName.stripPrefix("shard=").toLong
    val shardB = dirs(1).getName.stripPrefix("shard=").toLong
    val v = Export.validateShardsBytes(spark, out, docs.schema, manifest, "doc_id")
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    // row counts alone are blind to both
    assert(v.values.forall(r =>
      r.getAs[Long]("expected_rows") == r.getAs[Long]("actual_rows")),
      "row counts must NOT catch same-line-count corruption (that's the hole)")
    assert(!v(shardA).getAs[Boolean]("ok") && v(shardA).getAs[Long]("n_bad") == 1L)
    assert(v(shardA).getAs[Long]("expected_bytes") ==
      v(shardA).getAs[Long]("actual_bytes"), "in-place corruption keeps bytes")
    assert(!v(shardB).getAs[Boolean]("ok") &&
      v(shardB).getAs[Long]("actual_bytes") ==
        v(shardB).getAs[Long]("expected_bytes") - 1L)
    assert(v.values.count(!_.getAs[Boolean]("ok")) == 2)
    manifest.unpersist()
  }

  test("compressed JSONL shards: gzip round-trip, deterministic re-export, tamper detection") {
    import graft.sources.Export
    import org.apache.spark.sql.functions.col
    // repetitive text so even the small spec shards compress below raw
    val docs = (1L to 37L).map(i =>
      (i, Seq.fill(40)(s"tok$i").mkString(" "), s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val out1 = tmpDir("jsonlgz1").toString
    val manifest = Export.jsonlSharded(docs, col("doc_id"), shards = 4,
      out1, codec = Some("gzip")).persist()
    val mrows = manifest.collect()
    // manifest records the codec and BOTH byte totals; the files are .gz
    assert(mrows.forall(_.getAs[String]("codec") == "gzip"))
    assert(mrows.map(_.getAs[Long]("n_rows")).sum == 37L)
    assert(mrows.forall(r => r.getAs[Long]("n_bytes_compressed") > 0L &&
      r.getAs[Long]("n_bytes_compressed") < r.getAs[Long]("n_bytes")),
      "gzip shards must be smaller than their raw content")
    val parts = new java.io.File(out1).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
      .map(d => d.listFiles().filter(_.getName.endsWith(".txt.gz")).head)
    assert(parts.length == 4, "one .txt.gz part per shard")
    // loader round trip decompresses transparently (extension-based) and
    // recovers the shard column; the FULL byte validation is green —
    // decompressed content vs raw accounting AND on-disk vs compressed
    val back = Export.readJsonlSharded(spark, out1, docs.schema)
    assert(back.select("doc_id", "text", "source").collect().toSet ==
      docs.collect().toSet)
    val v0 = Export.validateShardsBytes(spark, out1, docs.schema, manifest,
      "doc_id")
    assert(v0.collect().forall(_.getAs[Boolean]("ok")))
    // deterministic delivery holds for the COMPRESSED bytes: Hadoop's gzip
    // header carries no timestamp, so a re-export is byte-identical per
    // shard file
    val out2 = tmpDir("jsonlgz2").toString
    Export.jsonlSharded(docs, col("doc_id"), shards = 4, out2,
      codec = Some("gzip"))
    def gzBytes(dir: String): Map[String, Seq[Byte]] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard="))
        .map(d => d.getName ->
          java.nio.file.Files.readAllBytes(d.listFiles()
            .filter(_.getName.endsWith(".txt.gz")).head.toPath).toSeq)
        .toMap
    assert(gzBytes(out1) == gzBytes(out2))
    // tamper INSIDE the compression: re-gzip one shard with one line
    // corrupted in place (same decompressed length, same line count) —
    // row counts and byte totals stay green, n_bad catches it
    val pa = parts(0).toPath
    val in = new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(pa))
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    in.close()
    val tampered = ("x" * lines.head.length) :: lines.tail
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(tampered.map(_ + "\n").mkString.getBytes("UTF-8"))
    gz.close()
    java.nio.file.Files.write(pa, bo.toByteArray)
    new java.io.File(parts(0).getParent).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    spark.catalog.refreshByPath(out1)
    val shardA = parts(0).getParentFile.getName.stripPrefix("shard=").toLong
    val v1 = Export.validateShardsBytes(spark, out1, docs.schema, manifest,
        "doc_id")
      .collect().map(r => r.getAs[Long]("shard") -> r).toMap
    assert(!v1(shardA).getAs[Boolean]("ok") &&
      v1(shardA).getAs[Long]("n_bad") == 1L)
    assert(v1(shardA).getAs[Long]("actual_bytes") ==
      v1(shardA).getAs[Long]("expected_bytes"),
      "in-place corruption preserves the decompressed totals")
    assert(v1.values.count(!_.getAs[Boolean]("ok")) == 1)
    manifest.unpersist()
    // zstd rides the same option when the Hadoop native codec is present;
    // environments without it still fail fast through the codec allowlist
    if (org.apache.hadoop.io.compress.ZStandardCodec.isNativeCodeLoaded()) {
      val outZ = tmpDir("jsonlzst").toString
      val mz = Export.jsonlSharded(docs, col("doc_id"), shards = 4, outZ,
        codec = Some("zstd"))
      assert(mz.collect().forall(_.getAs[String]("codec") == "zstd"))
      assert(Export.readJsonlSharded(spark, outZ, docs.schema).count() == 37L)
    }
    val bad = intercept[IllegalArgumentException] {
      Export.jsonlSharded(docs, col("doc_id"), shards = 4,
        tmpDir("jsonlbad").toString, codec = Some("lz9"))
    }
    assert(bad.getMessage.contains("unsupported jsonl codec"))
  }
}
