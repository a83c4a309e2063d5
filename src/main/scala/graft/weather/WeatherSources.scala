package graft.weather

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.functions.Slugify

/** Sources and sinks around the weather pipeline (SURVEY §2.1).
  *
  * Raw zone layout mirrors the reference's snapshot + "latest" dual-write
  * (fetch.py:101-105,129-132): every ingest appends a timestamped snapshot and
  * refreshes a stable `latest` alias, giving an append-only history that a
  * Structured Streaming file source can tail (graft.streaming).
  */
object WeatherSources {

  /** S7 — offline/tolerant raw JSON scan. multiLine because Open-Meteo
    * payloads are single JSON documents, not JSONL. Missing files fall back
    * to an empty frame with the fail-soft shape of web.py:440 (`hourly.time`
    * = []), so downstream joins yield nulls instead of erroring. */
  def readRaw(spark: SparkSession, path: String): DataFrame = {
    if (Files.exists(Paths.get(path)))
      spark.read.option("multiLine", "true").json(path)
    else emptyRaw(spark)
  }

  def emptyRaw(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.read.option("multiLine", "true")
      .json(Seq("""{"hourly": {"time": []}}""").toDS())
  }

  /** Parse a raw payload already held as a string (embedded fixtures, HTTP
    * bodies handed over by the ingest client). */
  def rawFromJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.read.option("multiLine", "true").json(Seq(json).toDS())
  }

  /** S8 — snapshot + latest dual-write of a raw payload (driver-side, the
    * payload is one small JSON document per city per fetch). */
  def writeRawSnapshot(rawDir: String, slug: String, kind: String,
                       payload: String, ts: String): (String, String) = {
    val dir = Paths.get(rawDir)
    Files.createDirectories(dir)
    val snap = dir.resolve(s"${slug}_${kind}_$ts.json")
    val latest = dir.resolve(s"${slug}_$kind.json")
    Files.writeString(snap, payload)
    Files.copy(snap, latest, StandardCopyOption.REPLACE_EXISTING)
    (snap.toString, latest.toString)
  }

  /** S9 — processed-zone sinks. Parquet is the primary format (columnar,
    * splittable, predicate-pushdown-able at scale); CSV kept for reference
    * compatibility (transform.py:112-115). Partitioning by city keeps every
    * per-city query pruned to one directory at 100 TB. */
  def writeProcessed(df: DataFrame, dir: String, name: String,
                     partitionByCity: Boolean = false): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionByCity && df.columns.contains("city")) w.partitionBy("city") else w)
      .parquet(s"$dir/$name.parquet")
  }

  def writeCsvCompat(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  def slug(city: String): String = Slugify.slugify(city)
}
