package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Sampling

/** Training-data delivery: sharded JSONL export — the format most training
  * loaders stream — with a manifest the loader can schedule from.
  */
object Export {

  /** Export `df` as `shards` JSONL shard directories under `path`
    * (`shard=N/part-*.txt`, one JSON object per line) and return the
    * manifest (shard, n_rows, n_bytes) the loader consumes.
    *
    * Delivery contract:
    *  - shard assignment is the stable md5 hash bucket of `idCol` — a row
    *    lands in the same shard on every run, engine, and cluster size
    *    (resuming or re-exporting never reshuffles the corpus across
    *    shards);
    *  - rows WITHIN a shard are ordered by `idCol`, so shard bytes are
    *    deterministic end to end (re-export produces identical files —
    *    checked in `SinksSpec`);
    *  - `repartition` on the shard key keeps each shard's rows in one
    *    write task (one part file per shard, no tiny-file spray), while
    *    shards themselves spread across the cluster — the parallel unit is
    *    the shard, the standard layout for a streaming loader.
    *
    * The manifest is computed from the same frame that was written (count
    * + byte partial-aggs, no second read of the output), plus one
    * driver-side listing of the written part files — bounded by the shard
    * count (one part file per shard by construction) — for the on-disk
    * (compressed) byte column.
    *
    * `codec` (None | "gzip" | "zstd"): training-loader delivery is
    * overwhelmingly `.jsonl.{gz,zst}` — the codec option writes each shard
    * through Spark's built-in Hadoop compression codec
    * (`part-*.txt.gz`/`.zst`), and [[readJsonlSharded]] /
    * [[validateShardsBytes]] decompress transparently by extension, so the
    * loader contract (manifest schedule, per-shard streaming) is
    * unchanged. The manifest's `n_bytes` stays the RAW content accounting
    * (line + newline — the codec-independent invariant re-reads are
    * validated against); `n_bytes_compressed` is what the files occupy on
    * disk (equal to `n_bytes` when codec is None). Re-export determinism
    * holds compressed too: shard content is ordered, and Hadoop's gzip
    * header carries no timestamp — byte-identical files per shard
    * (checked in `SinksSpec`). */
  def jsonlSharded(df: DataFrame, idCol: Column, shards: Int, path: String,
                   salt: String = "", codec: Option[String] = None): DataFrame = {
    require(shards > 0, "shards must be positive")
    require(codec.forall(Seq("gzip", "zstd").contains),
      s"unsupported jsonl codec ${codec.get} (gzip | zstd)")
    val json = to_json(struct(df.columns.map(col): _*))
    val staged = df
      .withColumn("__shard", Sampling.hashBucket(idCol.cast("string"), shards, salt))
      .withColumn("__json", json)
    val writer = staged
      .repartition(shards, col("__shard"))
      .sortWithinPartitions(col("__shard"), idCol)
      .select(col("__shard").as("shard"), col("__json").as("value"))
      .write.partitionBy("shard").mode("overwrite")
    codec.fold(writer)(c => writer.option("compression", c)).text(path)
    val spark = df.sparkSession
    import spark.implicits._
    val disk = diskBytesByShard(spark, path)
      .toSeq.toDF("shard", "n_bytes_compressed")
    staged.groupBy(col("__shard").as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("__json")).cast("long") + lit(1L)).as("n_bytes"))
      .join(disk, Seq("shard"), "left")
      .select(col("shard"), col("n_rows"), col("n_bytes"),
        lit(codec.getOrElse("none")).as("codec"),
        coalesce(col("n_bytes_compressed"), lit(0L)).as("n_bytes_compressed"))
      .orderBy("shard")
  }

  /** On-disk bytes per shard directory — a driver listing bounded by the
    * shard count, never data-sized. */
  private def diskBytesByShard(spark: org.apache.spark.sql.SparkSession,
                               path: String): Map[Long, Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.globStatus(new org.apache.hadoop.fs.Path(path, "shard=*/part-*"))
      .toSeq
      .map(st => (st.getPath.getParent.getName.stripPrefix("shard=").toLong,
        st.getLen))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Loader side of [[jsonlSharded]]: read the shard directories back into
    * rows of `schema` plus the `shard` column (recovered from the
    * `shard=N/` partition layout by the text source — no re-hashing).
    * Corrupt lines surface as all-null rows under PERMISSIVE parsing — and
    * still occupy one line each, so row counts CANNOT see them; run
    * [[validateShardsBytes]] (which also checks the manifest's byte totals
    * and counts null required fields) before training on a re-read
    * export. */
  def readJsonlSharded(spark: org.apache.spark.sql.SparkSession, path: String,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.text(path)
      .select(col("shard").cast("long").as("shard"),
        from_json(col("value"), schema).as("row"))
      .select(col("shard"), col("row.*"))

  /** FULL pre-flight — the validation row counts alone cannot give: a
    * PERMISSIVE-corrupt JSON line still occupies one line, so per-shard
    * counts match while the all-null row trains silently, and a truncated
    * file can even keep its line count. This variant re-reads
    * the export RAW (one text scan, no second pass) and checks, per shard:
    *
    *  - row count vs the manifest's `n_rows`;
    *  - CONTENT total vs the manifest's `n_bytes` (line length + newline,
    *    exactly [[jsonlSharded]]'s accounting — catches truncation and
    *    padding that preserve line counts);
    *  - `n_bad`: lines whose `requiredCol` parses to null under `schema`
    *    (catches in-place corruption that preserves length — a corrupt
    *    line parses to all-nulls, and a training row needs its id).
    *
    * Output: (shard, expected_rows, actual_rows, expected_bytes,
    * actual_bytes, n_bad, ok) — full-outer against the manifest so missing
    * and unexpected shards both surface; `ok` requires all three checks.
    *
    * COMPRESSED exports validate for free on the content side: the text
    * scan decompresses by extension, so `actual_bytes` is the DECOMPRESSED
    * content total against the manifest's codec-independent `n_bytes`.
    * When the manifest carries the `n_bytes_compressed` column
    * (codec-aware [[jsonlSharded]]), the on-disk bytes are ALSO checked —
    * a re-compressed tampered shard whose decompressed length happens to
    * match still changes its compressed length's recorded value. */
  def validateShardsBytes(spark: org.apache.spark.sql.SparkSession, path: String,
                          schema: org.apache.spark.sql.types.StructType,
                          manifest: DataFrame, requiredCol: String): DataFrame = {
    val raw = spark.read.text(path)
      .select(col("shard").cast("long").as("shard"),
        (length(col("value")).cast("long") + lit(1L)).as("__bytes"),
        from_json(col("value"), schema).getField(requiredCol).isNull.as("__bad"))
    val actual = raw.groupBy("shard")
      .agg(count(lit(1)).as("actual_rows"),
        sum(col("__bytes")).as("actual_bytes"),
        sum(when(col("__bad"), lit(1L)).otherwise(lit(0L))).as("n_bad"))
    val checkDisk = manifest.columns.contains("n_bytes_compressed")
    val mf =
      if (checkDisk) {
        import spark.implicits._
        val disk = diskBytesByShard(spark, path)
          .toSeq.toDF("shard", "disk_bytes")
        manifest.select(col("shard").cast("long").as("shard"),
            col("n_rows").as("expected_rows"),
            col("n_bytes").as("expected_bytes"),
            col("n_bytes_compressed").as("expected_disk_bytes"))
          .join(disk, Seq("shard"), "full_outer")
      } else
        manifest.select(col("shard").cast("long").as("shard"),
          col("n_rows").as("expected_rows"),
          col("n_bytes").as("expected_bytes"),
          lit(0L).as("expected_disk_bytes"), lit(0L).as("disk_bytes"))
    mf.join(actual, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("expected_rows"), lit(0L)).as("expected_rows"),
        coalesce(col("actual_rows"), lit(0L)).as("actual_rows"),
        coalesce(col("expected_bytes"), lit(0L)).as("expected_bytes"),
        coalesce(col("actual_bytes"), lit(0L)).as("actual_bytes"),
        coalesce(col("n_bad"), lit(0L)).as("n_bad"),
        (coalesce(col("expected_disk_bytes"), lit(0L)) ===
          coalesce(col("disk_bytes"), lit(0L))).as("__disk_ok"))
      .withColumn("ok",
        col("expected_rows") === col("actual_rows") &&
          col("expected_bytes") === col("actual_bytes") &&
          col("n_bad") === 0L && col("__disk_ok"))
      .drop("__disk_ok")
      .orderBy("shard")
  }
}
