package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup
import graft.streaming.StreamingOps

/** One-command STREAMING ingest — the live twin of [[CorpusCli]] and the
  * runnable form of [[StreamingOps.ingestDedupPipeline]]: documents landing
  * as JSONL files in `--in` are deduplicated against the ingested corpus
  * (exact content hash, then stored-LSH near-dup edges folded into the
  * persistent component labeling) and appended to the state zone.
  *
  * ```
  * sbt "runMain graft.IngestCli --corpus /root/testdata/sf0.001 \
  *      --in /tmp/arrivals --state /tmp/ingest_state"
  * ```
  *
  * First run BUILDS the corpus index artifacts under `--state` (content
  * hashes, LSH band index, token sets — the batch builders' persisted
  * shapes) and seeds `labels` with the corpus ids as their own components
  * (the corpus is assumed already deduplicated — run [[CorpusCli]] first).
  * Every run then processes the files currently in `--in` with
  * `Trigger.AvailableNow` and EXITS — rerun when new files land; the
  * checkpoint guarantees a file is ingested exactly once, so the command
  * is safe to cron. Survivors append to `state/docs`; the labeling
  * temp-swaps per batch ([[StreamingOps.ingestDedupPipeline]]'s contract).
  * Prints one JSON summary line (docs/labels counts after the run).
  */
object IngestCli {

  val ArrivalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  final case class Summary(nDocs: Long, nLabels: Long, nCorpus: Long)

  /** Build-or-load the corpus index artifacts under `stateDir`. */
  private def ensureIndexes(spark: SparkSession, corpusDir: String,
                            stateDir: String, k: Int, rowsPerBand: Int): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/index/hashes")))
      return
    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    corpus.select(md5(col("text")).as("content_hash")).distinct()
      .write.mode("overwrite").parquet(s"$stateDir/index/hashes")
    Dedup.minhashBands(
        Dedup.minhashSig(corpus, "doc_id", "text", k), k, rowsPerBand)
      .withColumnRenamed("doc_id", "id_corpus")
      .write.mode("overwrite").parquet(s"$stateDir/index/bands")
    corpus.select(col("doc_id").as("id_corpus"),
        graft.functions.TextFunctions.tokenSet(col("text")).as("toks_corpus"))
      .write.mode("overwrite").parquet(s"$stateDir/index/sets")
    corpus.select(col("doc_id").as("id"), col("doc_id").as("comp"),
        lit(true).as("is_keeper"))
      .write.mode("overwrite").parquet(s"$stateDir/labels")
  }

  def run(spark: SparkSession, corpusDir: String, inDir: String,
          stateDir: String, k: Int = 16, rowsPerBand: Int = 4,
          threshold: Double = 0.5): Summary =
    runArrivals(spark, corpusDir, inDir, stateDir,
      s"$stateDir/checkpoint", k, rowsPerBand, threshold)

  /** The shared arrivals runner — [[run]] and [[runWet]] differ only in
    * where the JSONL batch files come from, and each source path gets its
    * OWN checkpoint (a streaming checkpoint is bound to one source). */
  private def runArrivals(spark: SparkSession, corpusDir: String,
                          inDir: String, stateDir: String, checkpoint: String,
                          k: Int, rowsPerBand: Int,
                          threshold: Double): Summary = {
    ensureIndexes(spark, corpusDir, stateDir, k, rowsPerBand)
    val hashes = spark.read.parquet(s"$stateDir/index/hashes")
    val bands = spark.read.parquet(s"$stateDir/index/bands")
    val sets = spark.read.parquet(s"$stateDir/index/sets")
    val arrivals = spark.readStream.schema(ArrivalSchema).json(inDir)
    val q = StreamingOps.ingestDedupPipeline(arrivals, hashes, bands, sets,
        stateDir, "doc_id", "text", k, rowsPerBand, threshold)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    def countOf(dir: String): Long =
      if (fs.exists(new org.apache.hadoop.fs.Path(dir)))
        spark.read.parquet(dir).count()
      else 0L
    Summary(
      nDocs = countOf(s"$stateDir/docs"),
      nLabels = countOf(s"$stateDir/labels"),
      nCorpus = hashes.count())
  }

  // ==================== WET-segment arrivals ====================

  /** Crawl-drop ingest: documents arrive as WET SEGMENT FILES (the Common
    * Crawl delivery contract — `.wet[.gz]` landing in `wetDir`), not
    * JSONL. Each NOT-YET-STAGED segment is parsed once (the
    * [[graft.sources.Warc]] container kernels -> conversion records;
    * doc_id = the numeric URI tail when present, else the 64-bit hash of
    * the URI) and staged as ONE JSONL file under `state/wet_arrivals/`
    * named after the segment, published by rename so the stream source
    * only ever lists complete files; the staged directory then rides the
    * UNCHANGED [[run]] pipeline (its file-source checkpoint ingests each
    * staged file exactly once, and staging is presence-guarded so reruns
    * re-stage nothing — segment-granular exactly-once end to end). Per-run
    * cost scales with the NEW segment bytes: parse is a partition-local
    * generator, staging is one job per new segment, and the increment
    * chain is the same stored-index probe every arrival pays. */
  def runWet(spark: SparkSession, corpusDir: String, wetDir: String,
             stateDir: String, k: Int = 16, rowsPerBand: Int = 4,
             threshold: Double = 0.5): Summary = {
    import graft.sources.Warc
    ensureIndexes(spark, corpusDir, stateDir, k, rowsPerBand)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), conf)
    val stagedDir = s"$stateDir/wet_arrivals"
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagedDir))
    val inFs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(wetDir), conf)
    val fresh = inFs.listStatus(new org.apache.hadoop.fs.Path(wetDir)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".wet") || p.getName.endsWith(".wet.gz"))
      .filter(p => !fs.exists(
        new org.apache.hadoop.fs.Path(stagedDir, p.getName + ".jsonl")))
    fresh.foreach { p =>
      val tmp = s"$stagedDir/__staging_${p.getName}"
      Warc.wetRecords(Warc.readWetFiles(spark, Seq(p.toString)))
        .filter(col("is_valid"))
        .select(to_json(struct(
          coalesce(
            element_at(split(col("target_uri"), "/"), -1).cast("long"),
            xxhash64(col("target_uri"))).as("doc_id"),
          col("text"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"no part file staged for $p"))
      require(fs.rename(part,
        new org.apache.hadoop.fs.Path(stagedDir, p.getName + ".jsonl")),
        s"staging rename failed for $p")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    runArrivals(spark, corpusDir, stagedDir, stateDir,
      s"$stateDir/wet_checkpoint", k, rowsPerBand, threshold)
  }

  // ==================== WebDataset-shard arrivals ====================

  /** Multimodal-drop ingest: documents arrive as WebDataset TAR SHARDS
    * (`.tar` or `.tar.gz` landing in `wdsDir` — the delivery contract of
    * multimodal corpora; the gzip layer is transparent in
    * [[graft.sources.Tar.parseTar]]), not JSONL. The text member of each sample is the dedup
    * surface (the binary member rides the corpus zone untouched; byte
    * dedup of media is the [[graft.operators.Multimodal]] hash family's
    * job). Same segment-granular exactly-once machinery as [[runWet]]:
    * each NOT-YET-STAGED shard parses once ([[graft.sources.Tar]]
    * kernels), stages as ONE JSONL file published by rename, and the
    * staged directory rides the UNCHANGED [[run]] pipeline behind its own
    * checkpoint. Per-run cost scales with NEW shard bytes. */
  def runWds(spark: SparkSession, corpusDir: String, wdsDir: String,
             stateDir: String, k: Int = 16, rowsPerBand: Int = 4,
             threshold: Double = 0.5): Summary = {
    import graft.sources.Tar
    ensureIndexes(spark, corpusDir, stateDir, k, rowsPerBand)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), conf)
    val stagedDir = s"$stateDir/wds_arrivals"
    fs.mkdirs(new org.apache.hadoop.fs.Path(stagedDir))
    val inFs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(wdsDir), conf)
    val fresh = inFs.listStatus(new org.apache.hadoop.fs.Path(wdsDir)).toSeq
      .map(_.getPath)
      .filter(p => p.getName.endsWith(".tar") ||
        p.getName.endsWith(".tar.gz"))
      .filter(p => !fs.exists(
        new org.apache.hadoop.fs.Path(stagedDir, p.getName + ".jsonl")))
    fresh.foreach { p =>
      val tmp = s"$stagedDir/__staging_${p.getName}"
      Tar.wdsSamples(Tar.readWdsFiles(spark, Seq(p.toString)))
        .filter(col("is_valid") && col("text").isNotNull)
        .select(to_json(struct(
          col("key").as("doc_id"), col("text"))).as("value"))
        .coalesce(1).write.mode("overwrite").text(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).find(_.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(
          s"no part file staged for $p"))
      require(fs.rename(part,
        new org.apache.hadoop.fs.Path(stagedDir, p.getName + ".jsonl")),
        s"staging rename failed for $p")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    runArrivals(spark, corpusDir, stagedDir, stateDir,
      s"$stateDir/wds_checkpoint", k, rowsPerBand, threshold)
  }

  // ==================== diff-driven incremental ingest ====================

  /** The stored-index view after tombstones — MERGE-ON-READ deletes, the
    * only delete shape whose per-batch cost scales with the DIFF at corpus
    * scale: a removed/changed doc's index rows are not rewritten out of
    * the corpus-sized artifacts per batch (that is a full-corpus IO pass);
    * they are masked by a churn-bounded tombstone list the probes
    * anti-join, and [[compactState]] folds the mask in on an explicit
    * maintenance schedule (the usual split between logical delete and
    * physical rewrite). */
  private def tombstoned(spark: SparkSession, stateDir: String,
                         dir: String, joinCol: String): DataFrame = {
    val base = spark.read.parquet(s"$stateDir/$dir")
    val tPath = s"$stateDir/index/tombstones"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(tPath))) base
    else base.join(
      spark.read.parquet(tPath).select(col("doc_id").as(joinCol)),
      Seq(joinCol), "left_anti")
  }

  /** The live document zone (streamed survivors minus tombstoned ids) —
    * what a training export reads. */
  def currentDocs(spark: SparkSession, stateDir: String): DataFrame =
    tombstoned(spark, stateDir, "docs", "doc_id")

  private def swapWrite(spark: SparkSession, dir: String,
                        df: DataFrame): Unit = {
    val tmp = s"${dir}__updating"
    df.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(dir)
    fs.delete(dst, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
      s"swap rename into $dir failed")
    spark.catalog.refreshByPath(dir)
  }

  /** DIFF-DRIVEN incremental ingest: reconcile the state zone from the
    * corpus snapshot it was built on (`oldDir`) to a new snapshot
    * (`newDir`) without recomputing anything corpus-sized in the common
    * case.
    *
    *  1. [[graft.operators.Diagnostics.corpusDiff]] classifies ids — ONE
    *     full-outer join on (id, md5); content never shuffles.
    *  2. `removed` ids (the dominant churn: takedowns, robots changes)
    *     TOMBSTONE out — a churn-bounded (id, content_hash) mask the index
    *     views anti-join; no corpus artifact is rewritten. `changed` ids
    *     and tombstoned ids being RE-ADDED need their OLD rows physically
    *     gone before the same id re-enters (an id-keyed mask cannot tell
    *     two generations of one id apart), so those — and only those —
    *     pay a scoped purge pass (scan → broadcast anti-join → swap, no
    *     shuffle) over bands/sets/hashes/docs. At 100 TB, model content
    *     changes upstream as remove + add-under-new-id to stay strictly
    *     diff-scaled. `labels` purge rides the labeling's own per-batch
    *     temp-swap either way (id-sized rows, the streaming contract).
    *  3. the `added` + `changed` slice stages as ONE JSONL arrivals batch
    *     and runs the UNCHANGED increment chain
    *     ([[StreamingOps.ingestDedupPipeline]]: exact-hash screen →
    *     stored-LSH edges → componentsIncrement → docs append + label
    *     swap) against the tombstone-filtered index views.
    *  4. the batch survivors' OWN index rows (hash, bands, token set)
    *     append — diff-sized — so the state tracks the new snapshot and
    *     the next diff chains off it.
    *
    * A batch marker (fingerprint of the applied non-unchanged diff rows)
    * makes reruns of the SAME reconciliation a no-op — the batch-level
    * twin of the streaming checkpoint; end state ≡ a fresh state build
    * over the new snapshot (asserted in CliSpec). */
  def runDiff(spark: SparkSession, oldDir: String, newDir: String,
              stateDir: String, k: Int = 16, rowsPerBand: Int = 4,
              threshold: Double = 0.5): Summary = {
    ensureIndexes(spark, oldDir, stateDir, k, rowsPerBand)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    def summary() = Summary(
      nDocs = currentDocs(spark, stateDir).count(),
      nLabels = spark.read.parquet(s"$stateDir/labels").count(),
      nCorpus = tombstonedHashes(spark, stateDir).count())
    val oldDocs = spark.read.parquet(s"$oldDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val newDocs = spark.read.parquet(s"$newDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val diff = graft.operators.Diagnostics.corpusDiff(
        oldDocs, newDocs, "doc_id", "text")
      .filter(col("status") =!= "unchanged")
      .persist()

    // rerun guard: a diff batch applies exactly once (the batch-level twin
    // of the file-stream checkpoint). The marker fingerprints the applied
    // (id, status) rows — order-independent exact sums, diff-bounded work
    val fp = diff
      .agg(count(lit(1)).cast("long").as("n"),
        coalesce(sum(crc32(concat_ws(":", col("doc_id"), col("status")))),
          lit(0L)).as("s"))
      .head
    val marker = s"$stateDir/diff_applied/${fp.getLong(0)}_${fp.getLong(1)}"
    if (exists(marker) || fp.getLong(0) == 0L) {
      diff.unpersist(blocking = false)
      return summary()
    }

    val removedIds = diff.filter(col("status") === "removed").select("doc_id")
    val changedIds = diff.filter(col("status") === "changed").select("doc_id")
    val sliceIds = diff.filter(col("status").isin("added", "changed"))
      .select("doc_id")

    // ---- 2a. removed -> tombstones (append-shaped swap of two
    //          churn-bounded lists; a re-added id leaves the mask)
    val tIds = s"$stateDir/index/tombstones"
    val tHashes = s"$stateDir/index/tombstone_hashes"
    val prevT = if (exists(tIds)) spark.read.parquet(tIds)
      else spark.emptyDataFrame.select(lit(0L).as("doc_id")).limit(0)
    val readdedIds = prevT.join(sliceIds, Seq("doc_id"), "left_semi")
      .persist()
    readdedIds.count()
    swapWrite(spark, tIds,
      prevT.join(sliceIds, Seq("doc_id"), "left_anti")
        .unionByName(removedIds).distinct())
    val removedHashes = oldDocs.join(removedIds, Seq("doc_id"), "left_semi")
      .select(md5(col("text")).as("content_hash"))
    val prevTh = if (exists(tHashes)) spark.read.parquet(tHashes)
      else spark.emptyDataFrame
        .select(lit("").as("content_hash")).limit(0)
    // a re-added id whose content matches what was removed must leave the
    // VALUE mask too, or its re-ingested hash would stay invisible to the
    // exact screen forever (re-adds with fresh content anti-join nothing)
    val readdedNewHashes = newDocs
      .join(readdedIds, Seq("doc_id"), "left_semi")
      .select(md5(col("text")).as("content_hash"))
    swapWrite(spark, tHashes,
      prevTh.join(readdedNewHashes, Seq("content_hash"), "left_anti")
        .unionByName(removedHashes).distinct())

    // ---- 2b. changed / re-added -> scoped PHYSICAL purge of their old
    //          generation (only pass that touches corpus-sized artifacts;
    //          skipped entirely when the batch is removal-only)
    val regenIds = changedIds.unionByName(readdedIds).distinct().persist()
    if (!regenIds.isEmpty) {
      val byCorpusId = regenIds.select(col("doc_id").as("id_corpus"))
      swapWrite(spark, s"$stateDir/index/bands",
        spark.read.parquet(s"$stateDir/index/bands")
          .join(byCorpusId, Seq("id_corpus"), "left_anti"))
      swapWrite(spark, s"$stateDir/index/sets",
        spark.read.parquet(s"$stateDir/index/sets")
          .join(byCorpusId, Seq("id_corpus"), "left_anti"))
      // changed ids' old generation lives in oldDocs; a re-added id's is
      // older than the snapshot pair — if its content is coming back
      // verbatim the stale physical row matches its NEW hash, so purge by
      // that value (fresh-content re-adds purge nothing)
      val oldGenHashes = oldDocs
        .join(changedIds, Seq("doc_id"), "left_semi")
        .select(md5(col("text")).as("content_hash"))
        .unionByName(readdedNewHashes)
      swapWrite(spark, s"$stateDir/index/hashes",
        spark.read.parquet(s"$stateDir/index/hashes")
          .join(oldGenHashes, Seq("content_hash"), "left_anti"))
      if (exists(s"$stateDir/docs"))
        swapWrite(spark, s"$stateDir/docs",
          spark.read.parquet(s"$stateDir/docs")
            .join(regenIds, Seq("doc_id"), "left_anti"))
    }
    swapWrite(spark, s"$stateDir/labels",
      spark.read.parquet(s"$stateDir/labels")
        .join(removedIds.unionByName(regenIds)
          .select(col("doc_id").as("id")), Seq("id"), "left_anti"))
    regenIds.unpersist(blocking = false)
    readdedIds.unpersist(blocking = false)

    // ---- 3. stage the incoming slice and run the unchanged chain over
    //         tombstone-filtered index views
    val batch = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$stateDir/diff_arrivals/batch=*"))).fold(0)(_.length)
    val arrivalsDir = s"$stateDir/diff_arrivals/batch=$batch"
    newDocs.join(sliceIds, Seq("doc_id"), "left_semi")
      .select(to_json(struct(col("doc_id"), col("text"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(arrivalsDir)
    val hashes = tombstonedHashes(spark, stateDir)
    val bands = tombstoned(spark, stateDir, "index/bands", "id_corpus")
    val sets = tombstoned(spark, stateDir, "index/sets", "id_corpus")
    val arrivals = spark.readStream.schema(ArrivalSchema).json(arrivalsDir)
    val q = StreamingOps.ingestDedupPipeline(arrivals, hashes, bands, sets,
        stateDir, "doc_id", "text", k, rowsPerBand, threshold)
      .option("checkpointLocation", s"$arrivalsDir.checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // ---- 4. append the batch survivors' index rows — diff-sized — so the
    //         next diff probes against the new snapshot
    if (exists(s"$stateDir/docs")) {
      val surv = spark.read.parquet(s"$stateDir/docs")
        .join(sliceIds, Seq("doc_id"), "left_semi")
        .persist()
      if (!surv.isEmpty) {
        surv.select(md5(col("text")).as("content_hash")).distinct()
          .write.mode("append").parquet(s"$stateDir/index/hashes")
        Dedup.minhashBands(
            Dedup.minhashSig(surv, "doc_id", "text", k), k, rowsPerBand)
          .withColumnRenamed("doc_id", "id_corpus")
          .write.mode("append").parquet(s"$stateDir/index/bands")
        surv.select(col("doc_id").as("id_corpus"),
            graft.functions.TextFunctions.tokenSet(col("text")).as("toks_corpus"))
          .write.mode("append").parquet(s"$stateDir/index/sets")
      }
      surv.unpersist(blocking = false)
    }
    diff.unpersist(blocking = false)
    fs.mkdirs(new org.apache.hadoop.fs.Path(marker))
    summary()
  }

  /** Hash index minus tombstoned content hashes (value-keyed — the hash
    * index carries no ids by design). */
  private def tombstonedHashes(spark: SparkSession,
                               stateDir: String): DataFrame = {
    val base = spark.read.parquet(s"$stateDir/index/hashes")
    val tPath = s"$stateDir/index/tombstone_hashes"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(tPath))) base
    else base.join(spark.read.parquet(tPath), Seq("content_hash"), "left_anti")
  }

  /** Fold the tombstone mask into the physical artifacts — the explicit
    * corpus-sized maintenance pass (scan → anti-join filter → swap, no
    * shuffle beyond the anti-joins' broadcast of the churn-bounded
    * tombstone list), after which the tombstone files reset. Run on a
    * maintenance schedule, not per batch. */
  def compactState(spark: SparkSession, stateDir: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(stateDir), spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    if (!exists(s"$stateDir/index/tombstones")) return
    swapWrite(spark, s"$stateDir/index/hashes",
      tombstonedHashes(spark, stateDir))
    swapWrite(spark, s"$stateDir/index/bands",
      tombstoned(spark, stateDir, "index/bands", "id_corpus"))
    swapWrite(spark, s"$stateDir/index/sets",
      tombstoned(spark, stateDir, "index/sets", "id_corpus"))
    if (exists(s"$stateDir/docs"))
      swapWrite(spark, s"$stateDir/docs", currentDocs(spark, stateDir))
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/index/tombstones"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$stateDir/index/tombstone_hashes"), true)
  }

  def main(args: Array[String]): Unit = {
    def arg(name: String, default: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(default)
    val spark = core.GraftSession.local("ingest-cli")
    try {
      // --diff <oldDir> <newDir>: reconcile the state zone between two
      // corpus snapshots through the increment chain instead of streaming
      // an arrivals directory; --compact folds tombstones afterwards
      val diffAt = args.indexOf("--diff")
      val wetAt = args.indexOf("--wet")
      val wdsAt = args.indexOf("--wds")
      val s =
        if (wdsAt >= 0 && args.length >= wdsAt + 2)
          // --wds <dir>: multimodal-drop mode — WebDataset tar shards are
          // the arrival unit instead of JSONL
          runWds(spark,
            corpusDir = arg("--corpus", "/root/testdata/sf0.001"),
            wdsDir = args(wdsAt + 1),
            stateDir = arg("--state", "/tmp/graft_ingest"),
            k = arg("--k", "16").toInt,
            rowsPerBand = arg("--rows-per-band", "4").toInt,
            threshold = arg("--threshold", "0.5").toDouble)
        else if (wetAt >= 0 && args.length >= wetAt + 2)
          // --wet <dir>: crawl-drop mode — WET segment files are the
          // arrival unit instead of JSONL
          runWet(spark,
            corpusDir = arg("--corpus", "/root/testdata/sf0.001"),
            wetDir = args(wetAt + 1),
            stateDir = arg("--state", "/tmp/graft_ingest"),
            k = arg("--k", "16").toInt,
            rowsPerBand = arg("--rows-per-band", "4").toInt,
            threshold = arg("--threshold", "0.5").toDouble)
        else if (diffAt >= 0 && args.length >= diffAt + 3) {
          val r = runDiff(spark, oldDir = args(diffAt + 1),
            newDir = args(diffAt + 2),
            stateDir = arg("--state", "/tmp/graft_ingest"),
            k = arg("--k", "16").toInt,
            rowsPerBand = arg("--rows-per-band", "4").toInt,
            threshold = arg("--threshold", "0.5").toDouble)
          if (args.contains("--compact"))
            compactState(spark, arg("--state", "/tmp/graft_ingest"))
          r
        } else run(spark,
          corpusDir = arg("--corpus", "/root/testdata/sf0.001"),
          inDir = arg("--in", "/tmp/graft_arrivals"),
          stateDir = arg("--state", "/tmp/graft_ingest"),
          k = arg("--k", "16").toInt,
          rowsPerBand = arg("--rows-per-band", "4").toInt,
          threshold = arg("--threshold", "0.5").toDouble)
      println(s"""{"n_docs":${s.nDocs},"n_labels":${s.nLabels},""" +
        s""""n_corpus_hashes":${s.nCorpus}}""")
    } finally spark.stop()
  }
}
