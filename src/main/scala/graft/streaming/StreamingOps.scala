package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Structured Streaming formulations of the engine's incremental semantics
  * (SURVEY §2.9): the reference's raw zone is append-only (snapshot dual-
  * write, fetch.py:101-105), which is exactly a streaming file source; the
  * daily rollup becomes a watermarked tumbling-window aggregation, and
  * sessionization becomes typed state on a KeyValueGroupedDataset.
  */
object StreamingOps {

  /** Raw-zone hourly schema for the streaming reader (matches the pivoted
    * hourly table; streaming JSON sources must declare their schema). */
  val HourlySchema: StructType = StructType(Seq(
    StructField("city", StringType),
    StructField("time", TimestampType),
    StructField("temp", DoubleType),
    StructField("rain", DoubleType),
    StructField("pm25", DoubleType),
    StructField("pm10", DoubleType)))

  /** T2 — tail the append-only raw zone as a stream of hourly rows. */
  def readHourlyStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(HourlySchema).json(dir)

  /** A1 as a stream: per-(city, day) rollup with a watermark for late hours.
    * Watermark bounds state: days older than the horizon are finalized and
    * evicted, so state size is O(cities x horizon) regardless of input. */
  def dailyRollup(hourly: DataFrame, watermark: String = "2 days"): DataFrame =
    hourly
      .withWatermark("time", watermark)
      .groupBy(col("city"), window(col("time"), "1 day").as("day"))
      .agg(
        min("temp").as("temp_min"),
        max("temp").as("temp_max"),
        sum("rain").as("total_rain"),
        avg("pm25").as("pm25_avg"),
        avg("pm10").as("pm10_avg"))
      .select(col("city"), col("day.start").cast("date").as("date"),
        col("temp_min"), col("temp_max"), col("total_rain"),
        col("pm25_avg"), col("pm10_avg"))

  case class Event(user_id: Long, ts: Timestamp, value: Double)

  /** Stream-element shape for [[chatIngestStream]] (and its specs): one
    * whole conversation per record. */
  case class Turn(turn_idx: Int, role: String, content: String)
  case class Conv(conv_id: Long, ts: Timestamp, turns: Seq[Turn])
  case class SessionState(start: Long, end: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, value_sum: Double)

  /** Gap-based streaming sessionization: a session closes when a later event
    * arrives past the gap, or (with ProcessingTimeTimeout, the production
    * default) when no event arrives for `gapMs` at all. Custom state via
    * flatMapGroupsWithState — the streaming twin of operators.Sessionize.
    * Tests pass NoTimeout: a processing-time timeout makes the micro-batch
    * trigger poll continuously, which busy-loops under processAllAvailable. */
  def sessionize(events: Dataset[Event], gapMs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout())
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout()
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), timeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs =>
                  cur = Some(s.copy(end = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed ::= SessionOut(user, new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** T4 — streaming current-conditions view: the latest hourly row per city,
    * continuously maintained (the streaming twin of AsOfJoin.nearestTo's
    * "conditions closest to now"). max_by keeps exactly one row of state per
    * city; Complete output re-emits the small per-city table each batch. */
  def currentConditions(hourly: DataFrame): DataFrame =
    hourly
      .groupBy(col("city"))
      .agg(max_by(
        struct(col("time"), col("temp"), col("rain"), col("pm25"), col("pm10")),
        col("time")).as("latest"))
      .select(col("city"), col("latest.time").as("time"),
        col("latest.temp").as("temp"), col("latest.rain").as("rain"),
        col("latest.pm25").as("pm25"), col("latest.pm10").as("pm10"))

  /** Streaming exact dedup — the incremental twin of `Dedup.exact`, the shape
    * an always-on ingest pipeline needs (batch dedup requires re-reading the
    * corpus; this keeps one state row per content hash inside the watermark
    * horizon and emits only first-seen documents). `dropDuplicates` keyed on
    * the content hash; the event-time watermark bounds state so it is
    * O(distinct hashes per horizon), not O(corpus).
    * `dropDuplicatesWithinWatermark` dedups on the hash ALONE while still
    * evicting state past the watermark — plain `dropDuplicates` would need
    * the event-time column in the key (wrong semantics) or keep state
    * forever. */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String = "1 day"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming INCREMENTAL exact dedup against a STATIC corpus index — the
    * streaming twin of [[graft.operators.Dedup.exactIncrement]]: a document
    * survives when its content hash matches no corpus document AND it is
    * the first occurrence within the stream's watermark horizon.
    * `corpusHashes` is a static `content_hash` frame (in a deployed
    * pipeline the stored index column of the ingested corpus).
    *
    * The corpus probe runs BEFORE the stateful dedup, so corpus-matched
    * documents never enter the state store — state stays O(distinct NEW
    * hashes per horizon). The stream-static anti-join re-resolves the
    * static side per micro-batch, so a periodically-compacted index parquet
    * is picked up without a restart; per-batch cost scales with the batch,
    * and the index side is never collected to the driver. */
  def dedupStreamIncrement(docs: DataFrame, corpusHashes: DataFrame,
                           tsCol: String, textCol: String,
                           watermark: String = "1 day"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .join(corpusHashes, Seq("content_hash"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming URL-keyed dedup at INGEST time — the streaming twin of
    * [[graft.operators.Curation.dedupByUrl]]'s keeper semantics: an
    * arriving fetch survives when its [[graft.operators.Curation.canonicalizeUrl]]
    * key matches no already-ingested corpus URL (`corpusUrls`: a static
    * `canonical_url` frame, in deployment the stored index column of the
    * crawl store) AND it is the first fetch of that URL inside the
    * watermark horizon. Same shape as [[dedupStreamIncrement]]: the
    * canonicalization is scan-stage regex, the corpus probe is a
    * stream-static anti-join that runs BEFORE the stateful dedup (refetches
    * of known URLs never enter the state store), and state stays
    * O(distinct new URLs per horizon). */
  def urlDedupStream(docs: DataFrame, corpusUrls: DataFrame,
                     tsCol: String, urlCol: String,
                     watermark: String = "1 day"): DataFrame =
    docs
      .withColumn("canonical_url",
        graft.operators.Curation.canonicalizeUrl(col(urlCol)))
      .join(corpusUrls, Seq("canonical_url"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("canonical_url")

  /** Streaming FUZZY-KEY matches against a stored corpus key frame — the
    * streaming twin of [[graft.operators.FuzzyJoin.join]] for typo-tolerant
    * ingest screening (an arriving title/key within edit distance
    * `maxDist` of an already-ingested one is a fuzzy duplicate). ENTIRELY
    * STATELESS: each arriving row explodes to its 2·maxDist+1 admissible
    * key lengths (the sound length band — dist <= t forces the lengths
    * within t) and equi-joins the static corpus side on length, so the
    * per-batch cost is batch-sized, the corpus is never broadcast or
    * collected, and a recompacted key parquet is picked up without restart.
    * Candidates confirm with the codegen'd levenshtein in the same stage.
    * Emits (id_new, key_new, id_corpus, key_corpus, dist); callers
    * anti-join or quarantine downstream. */
  def fuzzyKeyStreamMatches(docs: DataFrame, corpusKeys: DataFrame,
                            idCol: String, keyCol: String,
                            maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val probes = docs
      .select(col(idCol).as("id_new"), col(keyCol).as("key_new"))
      .withColumn("len_band",
        explode(sequence(length(col("key_new")) - maxDist,
          length(col("key_new")) + maxDist)))
    val store = corpusKeys.select(col("id_corpus"), col("key_corpus"),
      length(col("key_corpus")).as("len_corpus"))
    probes.join(store, col("len_band") === col("len_corpus"))
      .withColumn("dist", levenshtein(col("key_new"), col("key_corpus")))
      .filter(col("dist") <= maxDist)
      .select(col("id_new"), col("key_new"), col("id_corpus"),
        col("key_corpus"), col("dist").cast("bigint").as("dist"))
  }

  /** Streaming INCREMENTAL MinHash-LSH near-dup MATCHES against a STORED
    * corpus index — the streaming twin of
    * [[graft.operators.Dedup.minhashLshIncrementIndexed]]: each arriving
    * document's LSH bands probe the persisted band index
    * (`corpusBands`: id_corpus, band, band_hash) and band collisions verify
    * with exact token-set Jaccard against `corpusSets`
    * (id_corpus, toks_corpus). Emits the verified pairs
    * (id_new, id_corpus, jaccard >= threshold) plus the stream's own
    * columns; callers drop matched ids or route them to a quarantine sink.
    *
    * ENTIRELY STATELESS: signatures are per-row array folds
    * ([[graft.operators.Dedup.withMinhashSigCols]] — the groupBy formulation
    * batch uses would be a stateful aggregation here), banding is a
    * bounded explode (k/rowsPerBand rows per doc), and both probes are
    * stream-static equi-joins, re-resolved per micro-batch — so per-batch
    * cost scales with the batch, a periodically-compacted index parquet is
    * picked up without restart, and the corpus side is never collected or
    * broadcast. A pair colliding in multiple bands emits once per colliding
    * band: the batch twin's candidate `.distinct()` is a shuffle the
    * stateless stream omits; set-semantics callers dedupe downstream (the
    * parity spec compares distinct pair sets). */
  def nearDupStreamMatches(docs: DataFrame, corpusBands: DataFrame,
                           corpusSets: DataFrame,
                           idCol: String, textCol: String,
                           k: Int, rowsPerBand: Int, threshold: Double,
                           tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    val sig = Dedup.withMinhashSigCols(
      docs.select(col(idCol).as("id_new"),
        tokens(col(textCol)).as("toks_new"), col(textCol)),
      col(textCol), k, tokens).drop(textCol)
    val banded = sig
      .select(col("id_new"), col("toks_new"),
        explode(Dedup.bandStructs(k, rowsPerBand)).as("e"))
      .select(col("id_new"), col("toks_new"), col("e.band"), col("e.band_hash"))
    banded
      .join(corpusBands, Seq("band", "band_hash"))
      .join(corpusSets, Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        (size(array_intersect(col("toks_new"), col("toks_corpus"))).cast("double") /
          size(array_union(col("toks_new"), col("toks_corpus")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming INCREMENTAL near-dup SURVIVORS — the LSH twin of
    * [[dedupStreamIncrement]]: a document survives when (a) no stored-index
    * corpus document verifies as its near-dup and (b) no earlier stream
    * document within the watermark horizon carries its exact minhash
    * signature. Composition, in probe-before-state order:
    *
    *  1. per-row signature + banding (stateless — see
    *     [[nearDupStreamMatches]]);
    *  2. within-stream signature dedup: `dropDuplicatesWithinWatermark` on
    *     the full-signature hash — identical-signature docs are the
    *     degenerate (all-rows-agree) LSH match, the only near-dup relation
    *     decidable with O(1) state per doc; sub-identical stream-internal
    *     pairs are batch jobs' business ([[graft.operators.Dedup.minhashLshPairs]]
    *     over the landed corpus), not the ingest path's;
    *  3. corpus probe: LEFT OUTER stream-static joins against the stored
    *     band index + token sets, `matched` = any band row verifying
    *     Jaccard >= threshold;
    *  4. the exists-collapse back to one row per doc: an event-time-window
    *     aggregation (all of a doc's band rows share its timestamp, so
    *     (window, id, ts, text) groups exactly one doc) — append mode
    *     emits a doc once the watermark passes its window, and state holds
    *     only the horizon's pending docs.
    *
    * State is bounded by the watermark at both stateful steps (signature
    * hashes in step 2, pending per-doc aggregates in step 4) — never by the
    * corpus, which lives behind the re-resolved static joins. Emission
    * latency is the watermark delay: the price of exact
    * survivor-set-equals-batch semantics in append mode. */
  def nearDupStreamIncrement(docs: DataFrame, corpusBands: DataFrame,
                             corpusSets: DataFrame,
                             tsCol: String, idCol: String, textCol: String,
                             k: Int, rowsPerBand: Int, threshold: Double,
                             watermark: String = "1 day",
                             tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    val sigCols = (0 until k).map(i => col(s"h$i"))
    val deduped = Dedup.withMinhashSigCols(
        docs.select(col(idCol), col(tsCol), col(textCol),
          tokens(col(textCol)).as("__toks")),
        col(textCol), k, tokens)
      .withColumn("__sig_hash", md5(concat_ws(",", sigCols.map(_.cast("string")): _*)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__sig_hash")
    val probed = deduped
      .select(col(idCol), col(tsCol), col(textCol), col("__toks"),
        explode(Dedup.bandStructs(k, rowsPerBand)).as("e"))
      .select(col(idCol), col(tsCol), col(textCol), col("__toks"),
        col("e.band"), col("e.band_hash"))
      .join(corpusBands, Seq("band", "band_hash"), "left_outer")
      .join(corpusSets, Seq("id_corpus"), "left_outer")
      // the null test must be explicit: on unmatched left-outer rows
      // toks_corpus is null, and legacy size(null) = -1 would make the
      // jaccard ratio (-1)/(-1) = 1.0 — silently flagging EVERY document
      // as a corpus match
      .withColumn("__matched", when(col("toks_corpus").isNull, lit(false))
        .otherwise(
          (size(array_intersect(col("__toks"), col("toks_corpus"))).cast("double") /
            size(array_union(col("__toks"), col("toks_corpus")))) >= threshold))
    // group by (event-time window, id) only: keeping the raw ts in the key
    // would leave TWO watermarked columns in the output (the window plus the
    // still-tagged ts attribute), which stateful downstream ops reject; the
    // aggregate outputs below are fresh attributes with no event-time tag
    probed
      .groupBy(window(col(tsCol), "1 second"), col(idCol))
      .agg(max(col(tsCol)).as("__ts"),
        any_value(col(textCol)).as("__text"),
        max(col("__matched")).as("__matched"))
      .filter(!col("__matched"))
      .select(col(idCol), col("__ts").as(tsCol), col("__text").as(textCol))
  }

  /** Streaming ANN index ingest — the live twin of
    * [[graft.operators.Similarity.appendIvf]], completing the
    * build-once/ingest-forever lifecycle: each micro-batch of
    * (vec_id, embedding) rows is assigned under the index's FROZEN
    * centroids (the quantizer never retrains on ingest — retraining would
    * re-cell the whole corpus) and appended to the cell-partitioned layout
    * at `dir`, touching only the cells the batch lands in. Per-batch cost
    * scales with the batch; searchers pick up appended rows on their next
    * `loadIvf`. foreachBatch is the right seam because the sink is a
    * partitioned-append parquet write driven by a batch assignment join —
    * not a row-at-a-time sink — and appendIvf is idempotent per batch
    * content, not per delivery: a replayed micro-batch appends duplicate
    * rows, so exactly-once deployments dedup on vec_id at read or compact
    * periodically (noted, not hidden). */
  def ivfIngest(docs: DataFrame, index: graft.operators.Similarity.IvfIndex,
                dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Similarity.appendIvf(index, batch.toDF(), dir)
      }

  /** Streaming LINK-STATE maintenance — the live twin of
    * [[graft.operators.LinkGraph.mergeWeightedEdges]]: each micro-batch of
    * raw (src, dst) outlink edges (a crawl wave's fetch results) aggregates
    * map-side to batch-level (src, dst, weight) deltas and APPENDS them to
    * the state log at `dir`. Because edge counts add, [[loadLinkState]]'s
    * fold of the log equals `weightedEdges` over every edge ever streamed —
    * so re-ranking from the loaded state is bit-equal to batch PageRank on
    * the union (stream ≡ batch, pinned in StreamingSpec), the
    * `q_web_pagerank_increment` contract at a live seam.
    *
    * Per-batch cost is batch-bounded (one partial-agg groupBy + a parquet
    * append touching no existing files); the fold at rank time is
    * state-log-bounded, and a periodic compaction (rewrite the folded
    * state, the [[graft.operators.Similarity.compactIvf]] shape) keeps the
    * log short on long horizons. Same at-least-once caveat as
    * [[ivfIngest]]: a replayed micro-batch appends duplicate deltas —
    * exactly-once deployments fence on batchId or compact with dedup. */
  def linkStateIngest(edges: DataFrame,
                      dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edges.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.operators.LinkGraph.weightedEdges(batch.toDF())
            .write.mode("append").parquet(dir)
      }

  /** Fold the [[linkStateIngest]] delta log into the current weighted-edge
    * state — the frame [[graft.operators.LinkGraph.pageRankWeighted]]
    * re-ranks from. */
  def loadLinkState(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy("src", "dst").agg(sum("weight").cast("long").as("weight"))

  /** Rewrite the delta log as its fold — one row per (src, dst) — via a
    * temp-dir swap (an overwrite cannot read its own input; same
    * delete-then-rename window and recovery contract as
    * [[graft.operators.Similarity.compactIvf]]: if the process dies between
    * delete and rename, the compacted state survives complete in the temp
    * dir and the swap is re-runnable). Run on the cadence appends dictate;
    * [[loadLinkState]] output is identical before and after (pinned in
    * StreamingSpec), only the log length changes. */
  def compactLinkState(spark: SparkSession, dir: String): Unit = {
    val tmp = s"$dir/__compacting"
    loadLinkState(spark, dir).repartition(col("src"))
      .write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(dir)
    val src = new org.apache.hadoop.fs.Path(tmp)
    // swap: replace the log's data files with the fold, keeping the dir
    fs.listStatus(dst).filter(_.getPath.getName != "__compacting")
      .foreach(st => fs.delete(st.getPath, true))
    fs.listStatus(src)
      .foreach(st => fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(dst, st.getPath.getName)))
    fs.delete(src, true): Unit
  }

  /** Streaming SEMANTIC decontamination — the live twin of
    * [[graft.operators.Decontaminate.semanticFlags]]: each micro-batch's
    * embeddings are scored against the STATIC benchmark embedding frame
    * (bounded and broadcast, re-resolved per batch so a refreshed benchmark
    * parquet is picked up without restart), and each document emits its
    * nearest-benchmark flag row once the watermark passes its event-time
    * window. The scoring join is stateless; the only state is the per-doc
    * collapse aggregate within the watermark horizon (the
    * [[nearDupStreamIncrement]] shape — a doc's |bench| scored rows share
    * its timestamp, so (window, id) groups exactly one doc; the aggregate's
    * outputs are fresh attributes with no event-time tag). Ties on cosine
    * break to the smallest bench id, matching the batch operator. Output:
    * (idCol, tsCol, nearest_bench_id, max_cosine, is_contaminated);
    * callers filter or quarantine on the flag. */
  def semanticDecontStream(docs: DataFrame, bench: DataFrame,
                           tsCol: String, idCol: String, vecCol: String,
                           benchIdCol: String, benchVecCol: String,
                           threshold: Double,
                           watermark: String = "1 day"): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    val b = broadcast(bench.select(col(benchIdCol).as("__bid"),
      col(benchVecCol).cast("array<double>").as("__bv")))
    docs.select(col(idCol), col(tsCol), col(vecCol).cast("array<double>").as("__v"))
      .withWatermark(tsCol, watermark)
      .crossJoin(b)
      .select(col(idCol), col(tsCol),
        graft.functions.VecCosine.cosine(col("__v"), col("__bv")).as("cosine"),
        col("__bid"))
      .groupBy(window(col(tsCol), "1 second"), col(idCol))
      .agg(max(col(tsCol)).as("__ts"),
        max(struct(col("cosine"), (-col("__bid")).as("nb"))).as("best"))
      .select(col(idCol), col("__ts").as(tsCol),
        (-col("best.nb")).as("nearest_bench_id"),
        col("best.cosine").as("max_cosine"),
        (col("best.cosine") >= threshold).as("is_contaminated"))
  }

  /** [[semanticDecontStream]] pruned by an IVF index over the BENCHMARK
    * embeddings — the streaming twin of the batch
    * [[graft.operators.Decontaminate.semanticFlagsIvf]] pruning, for
    * benchmark sets too large to score in full per document: each arriving
    * doc ranks the index's centroids IN THE SCAN STAGE (the centroid table
    * collapses to a one-row broadcast array at plan-build time — a
    * streaming plan cannot run [[graft.operators.Similarity.probeCells]]'s
    * rank window, and nLists is bounded, so the per-row sort is the
    * stream-safe formulation of the same probe; distance ties break to the
    * lower cell id, matching the batch assignment), explodes to its
    * `nProbe` nearest cells, and scores ONLY those cells' benchmark
    * vectors through a stream-static equi-join on cell id — per-doc cost
    * is nProbe/nLists of the benchmark, and the join re-resolves per batch
    * so a refreshed index parquet is picked up without restart. The only
    * state is the same (window, id) collapse as the full variant.
    *
    * Approximate by design: a benchmark vector outside the probed cells is
    * not scored, so `max_cosine` can only be ≤ the full variant's (a doc is
    * never flagged that full scoring would clear). At nProbe = nLists every
    * cell is probed and closed windows equal [[semanticDecontStream]] row
    * for row (spec-pinned); a doc probing only EMPTY cells emits nothing.
    * Works on a [[graft.operators.Similarity.quantizeIvf]]-compressed
    * index (codes dequantize in the probe scan). */
  def semanticDecontStreamIvf(docs: DataFrame,
                              benchIndex: graft.operators.Similarity.IvfIndex,
                              tsCol: String, idCol: String, vecCol: String,
                              threshold: Double, nProbe: Int,
                              watermark: String = "1 day"): DataFrame = {
    graft.GraftExtensions.register(docs.sparkSession)
    import graft.functions.{VecCosine, VectorFunctions}
    // one-row broadcast: [(cell, centroid)] sorted by cell — metadata-sized
    val nested = benchIndex.centroids
      .groupBy()
      .agg(array_sort(collect_list(struct(col("cell"), col("centroid"))))
        .as("__cents"))
    val store =
      if (benchIndex.assigned.columns.contains("codes"))
        benchIndex.assigned.select(col("cell"), col("nbr_id"),
          VectorFunctions.dequantizeI8(col("codes"), col("scale")).as("nbr_v"))
      else benchIndex.assigned.select(col("cell"), col("nbr_id"), col("nbr_v"))
    // scan-stage probe: rank (dist2, cell) pairs per row, keep nProbe cells
    val probedCells = slice(
      array_sort(transform(col("__cents"), c =>
        struct(VecCosine.dist2(col("__v"), c.getField("centroid")).as("d"),
          c.getField("cell").as("cell")))),
      1, nProbe)
    docs.select(col(idCol), col(tsCol), col(vecCol).cast("array<double>").as("__v"))
      .withWatermark(tsCol, watermark)
      .crossJoin(broadcast(nested))
      .select(col(idCol), col(tsCol), col("__v"),
        explode(transform(probedCells, s => s.getField("cell"))).as("cell"))
      .join(store, Seq("cell"))
      .select(col(idCol), col(tsCol),
        VecCosine.cosine(col("__v"), col("nbr_v")).as("cosine"),
        col("nbr_id"))
      .groupBy(window(col(tsCol), "1 second"), col(idCol))
      .agg(max(col(tsCol)).as("__ts"),
        max(struct(col("cosine"), (-col("nbr_id")).as("nb"))).as("best"))
      .select(col(idCol), col("__ts").as(tsCol),
        (-col("best.nb")).as("nearest_bench_id"),
        col("best.cosine").as("max_cosine"),
        (col("best.cosine") >= threshold).as("is_contaminated"))
  }

  /** Streaming N-GRAM-COLLISION decontamination — the live twin of
    * [[graft.operators.Decontaminate.ngramCollisions]] (the GPT-3/Llama
    * rule: one shared k-gram with the benchmark set flags the document).
    * Each micro-batch's documents explode to their DISTINCT shingle
    * fingerprints in the scan stage and LEFT-OUTER join the STATIC
    * benchmark fingerprint set (bounded; re-resolved per batch, so a
    * refreshed benchmark parquet is picked up without restart) — a
    * stateless stream-static join, exactly the [[nearDupStreamMatches]]
    * probe shape. The only state is the per-doc (window, id) collapse
    * within the watermark horizon that counts shingles and hits (the
    * [[semanticDecontStream]] aggregate — a doc's shingle rows share its
    * timestamp, so each group is one doc). Output per document once its
    * window closes: (idCol, tsCol, n_shingles, n_collisions,
    * is_contaminated) — the batch operator's row, plus the event time. */
  def ngramDecontStream(docs: DataFrame, bench: DataFrame,
                        tsCol: String, idCol: String, textCol: String,
                        shingleK: Int = 13,
                        watermark: String = "1 day"): DataFrame = {
    val feats: Column => Column =
      t => array_distinct(TextFunctions.shingles(t, shingleK))
    val benchFps = Dedup.tokenIndex(bench, idCol, textCol, feats)
      .select(Dedup.tokenFp60(col("tok")).as("fp"))
      .distinct()
      .withColumn("__hit", lit(1L))
    docs.select(col(idCol), col(tsCol), col(textCol))
      .withWatermark(tsCol, watermark)
      .select(col(idCol), col(tsCol), explode(feats(col(textCol))).as("tok"))
      .select(col(idCol), col(tsCol), Dedup.tokenFp60(col("tok")).as("fp"))
      .join(benchFps, Seq("fp"), "left_outer")
      .groupBy(window(col(tsCol), "1 second"), col(idCol))
      .agg(max(col(tsCol)).as("__ts"),
        count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_collisions"))
      .select(col(idCol), col("__ts").as(tsCol),
        col("n_shingles"), col("n_collisions"),
        (col("n_collisions") >= 1L).as("is_contaminated"))
  }

  /** LIVE INGEST CAPSTONE — one foreachBatch pipeline composing the
    * incremental dedup chain end to end, the streaming twin of the batch
    * corpus capstones: per micro-batch,
    *
    *  1. EXACT dedup: drop documents whose content hash matches the stored
    *     corpus index (`corpusHashes`) or an earlier row of the same batch;
    *  2. NEAR-DUP edges: probe the stored LSH band index
    *     ([[graft.operators.Dedup.minhashLshIncrementIndexed]]) — verified
    *     (survivor, corpus) pairs become component edges;
    *  3. CLUSTER update: fold those edges into the persisted labeling with
    *     [[graft.operators.Dedup.componentsIncrement]] (projected
    *     increment-bounded graph, zero corpus shuffles); edge-less
    *     survivors enter as their own singleton components;
    *  4. persist: survivors append to `stateDir/docs`, the updated labeling
    *     temp-swaps `stateDir/labels` (a partitioned overwrite cannot read
    *     its own input).
    *
    * Seed `stateDir/labels` with the corpus labeling (id, comp) before
    * starting. Per-batch cost scales with the batch: the corpus appears
    * only behind stream-static index probes and the label scan inside
    * componentsIncrement. Delivery is at-least-once per batch content (a
    * replayed batch re-appends survivors — same caveat as [[ivfIngest]]);
    * the labeling update itself is idempotent (re-folding the same edges
    * changes nothing). */
  def ingestDedupPipeline(docs: DataFrame, corpusHashes: DataFrame,
                          corpusBands: DataFrame, corpusSets: DataFrame,
                          stateDir: String, idCol: String, textCol: String,
                          k: Int, rowsPerBand: Int, threshold: Double,
                          tokens: Column => Column = TextFunctions.tokenSet)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val survivors = batch.toDF()
            .withColumn("content_hash", md5(col(textCol)))
            .join(corpusHashes, Seq("content_hash"), "left_anti")
            .dropDuplicates("content_hash")
            .drop("content_hash")
            .persist()
          survivors.count()
          try {
            val edges = Dedup.minhashLshIncrementIndexed(survivors,
                corpusBands, corpusSets, idCol, textCol, k, rowsPerBand,
                threshold, tokens)
              .select(col("id_new").as("id_a"), col("id_corpus").as("id_b"))
            val labels = spark.read.parquet(s"$stateDir/labels")
            val updated = Dedup.componentsIncrement(labels, edges)
            // edge-less survivors are their own components by definition.
            // Derived against the EDGE frame, not the updated labeling —
            // survivor ids are fresh by the global-uniqueness contract, so
            // "no edge" is exactly "not labeled yet", and the anti-join
            // stays increment-bounded instead of scanning the corpus.
            val singletons = survivors.select(col(idCol).as("id"))
              .join(edges.select(col("id_a").as("id")).distinct(),
                Seq("id"), "left_anti")
              .select(col("id"), col("id").as("comp"), lit(true).as("is_keeper"))
            val tmp = s"$stateDir/labels__updating"
            updated.unionByName(singletons)
              .write.mode("overwrite").parquet(tmp)
            val fs = org.apache.hadoop.fs.FileSystem.get(
              new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
            val dst = new org.apache.hadoop.fs.Path(s"$stateDir/labels")
            fs.delete(dst, true)
            require(fs.rename(new org.apache.hadoop.fs.Path(tmp), dst),
              s"labels rename into $dst failed")
            survivors.write.mode("append").parquet(s"$stateDir/docs")
          } finally survivors.unpersist()
        }
      }

  /** Streaming curation pass — the scan-stage curation suite (quality score,
    * language id, PII redaction, deterministic train/valid/test split)
    * applied to an unbounded document stream. Entirely STATELESS: every
    * expression is a pure function of the row, so this runs in append mode
    * with no watermark and no state store, at ingest rate. The expressions
    * are the very same Column trees the batch gates run — one definition of
    * "clean" for both arrival modes, which is the point (a curation rule
    * that disagrees between backfill and live ingest poisons the corpus). */
  def curateStream(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", minQuality: Double = 0.6,
                   lang: String = "en", salt: String = ""): DataFrame = {
    import graft.functions.{Redact, TextFunctions}
    docs
      .withColumn("quality", TextFunctions.qualityScore(col(textCol)))
      .withColumn("lang_guess", TextFunctions.langId(col(textCol)))
      .filter(col("quality") >= minQuality && col("lang_guess") === lang)
      .withColumn(textCol, Redact.redactPii(col(textCol)))
      .withColumn("split", graft.operators.Sampling.split(col(idCol), salt = salt))
  }

  /** Sink helper: append the streaming rollup to a partitioned parquet zone. */
  def writeDaily(rollup: DataFrame, outDir: String, checkpoint: String) =
    rollup.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .partitionBy("city")

  /** Streaming LM quality scoring — the live-ingest twin of
    * [[graft.operators.LanguageModel.perplexity]]: each arriving document
    * is scored against a STATIC pre-trained bigram model (the CCNet
    * deployment shape: the reference model is trained offline once; ingest
    * only scores). Output: (window, doc_id, n_scored, avg_logp, ppl) in
    * append mode once the watermark passes the window.
    *
    * Scale/state shape: the token explosion and the three model lookups are
    * STATELESS stream-static broadcast joins re-resolved per micro-batch;
    * the only state is the (window, doc_id) aggregation, which the
    * watermark bounds to the horizon — one state row per document per
    * uncompleted window, evicted on watermark passage. A document's tokens
    * all carry its single event time, so every group completes within one
    * window; grouping is by the WINDOW only, never additionally by the raw
    * timestamp (which would double-tag event time and stall emission). */
  def perplexityStream(docs: DataFrame,
                       lm: graft.operators.LanguageModel.BigramLm,
                       idCol: String, tsCol: String, textCol: String,
                       watermark: String = "1 hour",
                       windowDur: String = "1 hour"): DataFrame = {
    val aggs = graft.operators.LanguageModel.streamingPplAggs
    graft.operators.LanguageModel
      .tokenLogProbs(docs.withWatermark(tsCol, watermark),
        idCol, textCol, lm, extra = Seq(tsCol))
      .groupBy(window(col(tsCol), windowDur).as("win"), col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming Kneser–Ney scoring — [[perplexityStream]]'s twin for the
    * interpolated-KN model: the same stateless scan-stage token stream
    * (four static broadcast model lookups, re-resolved per micro-batch)
    * with the one watermark-bounded (window, doc_id) aggregation. Closed
    * windows match batch [[graft.operators.LanguageModel.perplexityKneserNey]]
    * bit for bit (decimal log sums; spec-pinned). */
  def perplexityKnStream(docs: DataFrame,
                         lm: graft.operators.LanguageModel.KneserNeyLm,
                         idCol: String, tsCol: String, textCol: String,
                         watermark: String = "1 hour",
                         windowDur: String = "1 hour"): DataFrame = {
    val aggs = graft.operators.LanguageModel.streamingPplAggs
    graft.operators.LanguageModel
      .knTokenLogProbs(docs.withWatermark(tsCol, watermark),
        idCol, textCol, lm, extra = Seq(tsCol))
      .groupBy(window(col(tsCol), windowDur).as("win"), col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming DRIFT MONITOR — the live twin of
    * [[graft.operators.Diagnostics.surpriseBySource]]: per event-time
    * window and source, the cross-entropy (avg negative log-likelihood)
    * and OOV rate of the incoming token stream against a FROZEN reference
    * [[graft.operators.Diagnostics.SurpriseModel]]. Rising avg-NLL or OOV
    * rate on a feed = that feed's distribution has drifted from the
    * reference corpus — the alarm a continuous-ingest pipeline watches.
    *
    * Scan-stage broadcast lookup per token, then ONE windowed streaming
    * aggregation (decimal log-prob sums — order-independent, so closed
    * windows match the batch twin bit for bit; spec-pinned). */
  def driftMonitorStream(docs: DataFrame, tsCol: String, sourceCol: String,
                         textCol: String,
                         model: graft.operators.Diagnostics.SurpriseModel,
                         watermark: String = "1 hour",
                         windowDur: String = "1 hour"): DataFrame =
    graft.operators.Diagnostics
      .surpriseTokens(
        docs.withWatermark(tsCol, watermark)
          .withColumnRenamed(sourceCol, "source"),
        textCol, model, extra = Seq(tsCol, "source"))
      .groupBy(window(col(tsCol), windowDur).as("win"), col("source"))
      .agg(graft.operators.Diagnostics.surpriseAggs.head,
        graft.operators.Diagnostics.surpriseAggs.tail: _*)

  /** Streaming BLOCKLIST screen — the live twin of
    * [[graft.operators.Curation.blocklistFlags]]. The batch operator's
    * explode + per-doc groupBy would need a state store on a stream; this
    * twin instead collapses the (static, bounded) term frame into ONE
    * array row at plan-build time and counts hits with a scan-stage
    * `filter(tokens, array_contains(...))` — a pure function of the row,
    * so it runs append-mode, stateless, at ingest rate, and the derived
    * columns (n_tokens, n_blocked, blocked_frac, has_blocked) carry the
    * batch operator's exact semantics (repeat hits counted, terms deduped
    * lowercase; spec-pinned ≡ batch). The array lookup is per-token linear
    * in the list — right for policy lists up to a few thousand terms; a
    * list big enough to need the broadcast-join shape is too big to check
    * per-row on a stream anyway (screen it in the batch backfill). */
  def blocklistStream(docs: DataFrame, textCol: String,
                      terms: DataFrame): DataFrame = {
    val termCol = terms.columns.head
    val bl = broadcast(terms
      .select(lower(col(termCol)).as("t")).distinct()
      .agg(collect_list(col("t")).as("__bl")))
    val toks = graft.functions.TextFunctions.tokens(col(textCol))
    docs.crossJoin(bl)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("n_blocked",
        size(filter(toks, t => array_contains(col("__bl"), t))).cast("long"))
      .withColumn("blocked_frac",
        when(col("n_tokens") > 0,
          col("n_blocked").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("has_blocked", col("n_blocked") > 0)
      .drop("__bl")
  }

  /** Streaming SFT conversation intake — the live twin of the
    * [[graft.operators.Chat]] chain (validate -> render -> transcript
    * dedup). The stream element is a whole CONVERSATION — (conv_id, ts,
    * turns: array<struct<turn_idx, role, content>>) — because that is the
    * ingest unit a chat API delivers; with the turns nested, validation
    * and rendering become pure scan-stage array expressions (zero
    * shuffles, no state), re-expressing the batch operators' exact
    * semantics:
    *
    *  - alternation: same-role adjacency among NON-system turns
    *    (zip_with over the filtered array — the batch lag-window, folded)
    *  - ends-assistant, empty-content, first-turn-system checks
    *  - rendering under the batch template contract (segments in turn_idx
    *    order, one newline join)
    *
    * Only the DEDUP is stateful: invalid conversations are dropped, the
    * stored-corpus probe (`corpusTranscripts`, a static `transcript_h`
    * frame) anti-joins BEFORE the state store — matches never enter
    * state — and first-occurrence-within-horizon runs as
    * `dropDuplicatesWithinWatermark`, exactly the
    * [[dedupStreamIncrement]] scale shape: state O(distinct new
    * transcripts per horizon). `ChatSpec`/`StreamingSpec` pin stream ≡
    * batch on the same conversations. */
  def chatIngestStream(convs: DataFrame, corpusTranscripts: DataFrame,
                       tsCol: String = "ts",
                       watermark: String = "1 day"): DataFrame = {
    val sorted = array_sort(col("turns")) // struct's first field is turn_idx
    val nonSys = filter(sorted, t => t.getField("role") =!= "system")
    val adjSame = zip_with(
      slice(nonSys, lit(1), greatest(size(nonSys) - 1, lit(0))),
      slice(nonSys, lit(2), greatest(size(nonSys) - 1, lit(0))),
      (a, b) => a.getField("role") === b.getField("role"))
    val rendered = concat_ws("\n", transform(sorted,
      t => concat(lit("<|"), t.getField("role"), lit("|>\n"),
        t.getField("content"))))
    convs
      .withColumn("text", rendered)
      .withColumn("n_turns", size(col("turns")).cast("int"))
      .withColumn("has_system",
        element_at(sorted, 1).getField("role") === "system")
      .withColumn("n_adjacent_same",
        size(filter(adjSame, x => x)).cast("long"))
      .withColumn("n_empty", size(filter(sorted,
        t => length(trim(t.getField("content"))) === 0)).cast("long"))
      .withColumn("ends_assistant",
        element_at(sorted, -1).getField("role") === "assistant")
      .filter(col("n_adjacent_same") === 0 && col("ends_assistant") &&
        col("n_empty") === 0)
      .withColumn("transcript_h",
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")))
      .join(corpusTranscripts, Seq("transcript_h"), "left_anti")
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("transcript_h")
      .select("conv_id", tsCol, "transcript_h", "text", "n_turns",
        "has_system")
  }

  /** Streaming twin of the Aho–Corasick phrase screen
    * ([[graft.operators.MultiMatch.screenFlags]]): per-document totals
    * computed INLINE from one automaton pass — no sparse-hit fold, no join
    * back — so the op is a stateless partition-local typed map, append-mode
    * safe at ingest rate. The automaton compiles once per partition from
    * the broadcast pattern list (pattern-list-bounded, the broadcast-model
    * contract). Overlap-inclusive counts, case-sensitive — the batch
    * operator's exact semantics; stream ≡ batch pinned in StreamingSpec. */
  def multiMatchStream(docs: DataFrame, idCol: String, textCol: String,
                       patterns: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(patterns)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("n_hits", LongType, nullable = false),
      StructField("n_patterns", LongType, nullable = false),
      StructField("has_hit", BooleanType, nullable = false)))
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .mapPartitions { it =>
        val ac = graft.operators.MultiMatch.compile(bc.value)
        it.map { row =>
          val counts = ac.countsIn(row.getAs[String]("text"))
          var hits = 0L
          var pats = 0L
          var i = 0
          while (i < counts.length) {
            if (counts(i) > 0L) { hits += counts(i); pats += 1L }
            i += 1
          }
          org.apache.spark.sql.Row(
            if (row.isNullAt(0)) null else row.getLong(0),
            hits, pats, hits > 0L)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }

  /** Streaming maintenance of the length-distribution state behind
    * [[graft.operators.Diagnostics.exactQuantilesFromCounts]] — the
    * [[linkStateIngest]] pattern for quantiles: distinct-value counts ADD,
    * so each micro-batch appends its own (v, cnt) fold to a delta log and
    * the folded log is bit-identical to the batch fold over everything
    * ingested (increment ≡ recompute pinned in StreamingSpec). Per-batch
    * cost is batch-bounded; the log folds to a value-bounded frame.
    * Same at-least-once caveat as [[ivfIngest]]; compact on the
    * [[compactLinkState]] contract if the log grows long. */
  def lengthStateIngest(docs: DataFrame, value: Column,
                        dir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          batch.toDF()
            .select(value.cast("long").as("v")).filter(col("v").isNotNull)
            .groupBy("v").agg(count(lit(1)).as("cnt"))
            .write.mode("append").parquet(dir)
      }

  /** Fold the [[lengthStateIngest]] delta log into the (v, cnt) frame
    * [[graft.operators.Diagnostics.exactQuantilesFromCounts]] reads. */
  def loadLengthState(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .groupBy("v").agg(sum("cnt").cast("long").as("cnt"))

  /** Streaming twin of [[graft.operators.QualityClassifier.scoreLogistic]]
    * — score documents AT INGEST under a trained (train-once / score-many)
    * logistic model: the buckets-bounded weight table is collected once and
    * broadcast, and each row is featurized and scored in a stateless
    * partition-local typed map (no explode, no join, no state) — the
    * append-mode shape a quality filter needs on a live crawl.
    *
    * The featurizer is the JVM mirror of the batch path's hashed-unigram
    * buckets (lowercase whitespace tokens → md5-fp60 → mod buckets), the
    * margin accumulates the same exact decimal(19,9) weights, and the
    * presentation rounds use the same shortest-decimal-string semantics as
    * Spark's `round` — stream ≡ batch row for row (pinned in
    * StreamingSpec). */
  def logitScoreStream(docs: DataFrame, idCol: String, textCol: String,
                       m: graft.operators.QualityClassifier.LogitModel): DataFrame = {
    val spark = docs.sparkSession
    val wMap = m.w.collect()
      .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
    val bc = spark.sparkContext.broadcast(
      (wMap, m.bias, m.buckets.toLong, m.salt))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("n_tokens", LongType, nullable = false),
      StructField("margin", DoubleType, nullable = false),
      StructField("p", DoubleType, nullable = false),
      StructField("keep", BooleanType, nullable = false)))
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .mapPartitions { it =>
        val (w, bias, buckets, salt) = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { row =>
          val text = row.getAs[String]("text")
          val toks =
            if (text == null) Array.empty[String]
            else text.toLowerCase(java.util.Locale.ROOT)
              .split("\\s+").filter(_.nonEmpty)
          var mDec = bias
          toks.foreach { t =>
            val d = md.digest((t + salt).getBytes("UTF-8"))
            var v = 0L
            var i = 0
            while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            v = (v << 4) | ((d(7) & 0xf0L) >> 4) // first 15 hex = 60 bits
            w.get(v % buckets).foreach(wb => mDec = mDec.add(wb))
          }
          val m6 = mDec.setScale(6, java.math.RoundingMode.HALF_UP)
            .doubleValue
          // valueOf = shortest-decimal-string, Spark's round(double) path
          val p = java.math.BigDecimal
            .valueOf(1.0 / (1.0 + math.exp(-mDec.doubleValue)))
            .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue
          org.apache.spark.sql.Row(
            if (row.isNullAt(0)) null else row.getLong(0),
            toks.length.toLong, m6, p, m6 > 0.0)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }

  /** Streaming twin of [[graft.operators.LangClassifier.scoreLang]] —
    * ROUTE documents by language AT INGEST under a trained multiclass NB:
    * the wide buckets-bounded model plus the per-language default/prior
    * constants are collected once and broadcast, and each row tokenizes,
    * buckets (the [[logitScoreStream]] 60-bit md5 mirror of
    * `Importance.tokenBucket`), accumulates K exact BigDecimal sums, and
    * argmaxes with the batch tie rule (equal scores to the smallest
    * language index) — a stateless partition-local typed map, the
    * append-mode shape a crawl router needs. Stream ≡ batch row for row
    * (pinned in StreamingSpec): the per-token decimal adds commute with
    * the batch side's cnt-weighted decimal sums. */
  def langIdStream(docs: DataFrame, idCol: String, textCol: String,
                   m: graft.operators.LangClassifier.LangNbModel): DataFrame = {
    val spark = docs.sparkSession
    val k = m.langs.length
    // llk rows: bucket -> dense per-language array (null = unseen default)
    val llkMap: Map[Long, Array[java.math.BigDecimal]] = m.wide.collect()
      .map { r =>
        r.getLong(0) ->
          Array.tabulate(k)(i => r.getDecimal(i + 1))
      }.toMap
    // defaults/priors are constant-foldable decimal expressions: evaluate
    // once through the engine so the values match the batch plan exactly
    val constRow = spark.range(1)
      .select((m.defaults ++ m.priors).zipWithIndex.map {
        case (c, i) => c.as(s"c$i") }: _*).head
    val defaults = Array.tabulate(k)(i => constRow.getDecimal(i))
    val priors = Array.tabulate(k)(i => constRow.getDecimal(k + i))
    val bc = spark.sparkContext.broadcast(
      (llkMap, defaults, priors, m.langs.toArray, m.buckets.toLong, m.salt))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("n_tokens", LongType, nullable = false),
      StructField("lang_pred", StringType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .mapPartitions { it =>
        val (llk, dflt, pri, langs, buckets, salt) = bc.value
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { row =>
          val text = row.getAs[String]("text")
          val toks =
            if (text == null) Array.empty[String]
            else text.toLowerCase(java.util.Locale.ROOT)
              .split("\\s+").filter(_.nonEmpty)
          val sums = Array.fill(langs.length)(java.math.BigDecimal.ZERO)
          toks.foreach { t =>
            val d = md.digest((t + salt).getBytes("UTF-8"))
            var v = 0L
            var i = 0
            while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            v = (v << 4) | ((d(7) & 0xf0L) >> 4) // first 15 hex = 60 bits
            val rowLlk = llk.getOrElse(v % buckets, null)
            var j = 0
            while (j < sums.length) {
              val w =
                if (rowLlk == null || rowLlk(j) == null) dflt(j)
                else rowLlk(j)
              sums(j) = sums(j).add(w)
              j += 1
            }
          }
          var best = 0
          var bestScore = sums(0).add(pri(0))
          var j = 1
          while (j < sums.length) {
            val s = sums(j).add(pri(j))
            if (s.compareTo(bestScore) > 0) { best = j; bestScore = s }
            j += 1
          }
          org.apache.spark.sql.Row(
            if (row.isNullAt(0)) null else row.getLong(0),
            toks.length.toLong, langs(best),
            bestScore.setScale(6, java.math.RoundingMode.HALF_UP)
              .doubleValue)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }

  /** Streaming twin of [[graft.operators.UnigramLm.applyUnigram]] —
    * segment documents AT INGEST under a trained (train-once / apply-many)
    * unigram-LM tokenizer: the piece log-probs are collected once and
    * broadcast, and each row segments through the same Viterbi kernel the
    * batch path runs, in a stateless partition-local typed map with a
    * per-partition word memo (no explode, no join, no state) — the
    * append-mode shape a tokenization stage needs on a live crawl.
    *
    * Tokenization is the JVM mirror of `TextFunctions.tokens` (lowercase
    * whitespace split) and the segmentation IS [[UnigramLm.viterbi]], so
    * stream ≡ batch row for row (pinned in StreamingSpec). */
  def unigramSegmentStream(docs: DataFrame, idCol: String, textCol: String,
                           model: DataFrame, maxPieceLen: Int = 8,
                           memoCap: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    val logps = model.select("piece", "logp").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bc = spark.sparkContext.broadcast(logps)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = true),
      StructField("words", ArrayType(StructType(Seq(
        StructField("word", StringType, nullable = true),
        StructField("subtokens", ArrayType(StringType, containsNull = false),
          nullable = false))), containsNull = false), nullable = true)))
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .mapPartitions { it =>
        val memo = new scala.collection.mutable.HashMap[String, Array[String]]
        val lp = bc.value
        it.map { row =>
          val text = row.getAs[String]("text")
          val words =
            if (text == null) null
            else text.toLowerCase(java.util.Locale.ROOT)
              .split("\\s+").filter(_.nonEmpty).toSeq.map { w =>
                if (memo.size > memoCap) memo.clear()
                val subs = memo.getOrElseUpdate(w,
                  graft.operators.UnigramLm.viterbi(w, lp, maxPieceLen))
                org.apache.spark.sql.Row(w, subs.toSeq)
              }
          org.apache.spark.sql.Row(
            if (row.isNullAt(0)) null else row.getLong(0), words)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .toDF()
  }
}
