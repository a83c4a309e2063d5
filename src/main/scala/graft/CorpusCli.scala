package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.core.{CacheScope, Tables}
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup}
import graft.sources.Export

/** One-command corpus curation — the chain the capstone gates verify, as a
  * runnable user-facing artifact: `documents.parquet` in `--in` becomes a
  * screened, deduplicated, token-budgeted corpus delivered as sharded JSONL
  * under `--out`, with the loader manifest, a per-document drop-reason
  * audit, and a read-back validation pre-flight.
  *
  * ```
  * sbt "runMain graft.CorpusCli --in /root/testdata/sf0.001 --out /tmp/corpus \
  *      --shards 4 --budget-tokens 20000 --min-quality 0.4"
  * ```
  *
  * Stages (each an already-gated operator; flags feed the audit, filters
  * feed the corpus):
  *   0. with `--from-html`: HTML → text extraction (the text column is raw
  *      markup — script/style chrome dies, blocks become lines)
  *   1. quality + language screen (scan-stage Column trees; with
  *      `--trained-langid`, the language is the multiclass-NB router
  *      trained on the input's own lang labels over its 80% hash split
  *      instead of the marker heuristic)
  *   2. exact dedup over the survivors, first occurrence kept
  *   3. with `--neardup`: MinHash-LSH near-dup clustering, best-quality
  *      exemplar kept per cluster
  *   4. with `--decon-bench <parquet>`: n-gram decontamination against the
  *      benchmark set (≥50% shingle overlap drops the document)
  *   5. per-source token budget, best-quality-first (two-phase exact cut)
  *   6. sharded JSONL export + manifest (stable hash shards)
  *   7. manifest validation of the re-read export — rows, byte totals, and
  *      corrupt-line count (fail loud, not at training time)
  * The chain is materialised once at each of its two fan-out points: the
  * screened input of stage 1 (read by stages 2–5 and the verdict) and the
  * per-document verdict frame (read by the audit, the export, its manifest
  * and the verdict counts). No sink re-runs the chain, so one curate scans
  * the input and runs the per-row text screens once; both are released
  * before curate returns, also when a stage throws.
  * Writes `out/audit` (every input doc_id + its first failed stage or
  * "kept"), `out/manifest`, `out/corpus/shard=N/...`; prints one JSON
  * summary line and exits nonzero if validation fails.
  */
object CorpusCli {

  final case class Summary(nDocs: Long, nKept: Long, byVerdict: Map[String, Long],
                           shardsOk: Boolean)

  def curate(spark: SparkSession, inDir: String, outDir: String,
             shards: Int = 8, budgetTokensPerSource: Long = 50000L,
             minQuality: Double = 0.4, lang: String = "en",
             fromHtml: Boolean = false, nearDup: Boolean = false,
             deconBenchDir: Option[String] = None,
             trainedLangId: Boolean = false,
             codec: Option[String] = None): Summary = {
    // every persist below — the two materialisations, the trained-langid
    // fold, the operators' internal LSH / token-set / decon frames — is
    // pinned here and released in the finally: a long-lived session calling
    // curate() repeatedly, or one whose export or validation throws, must
    // not accumulate cached frames (the CacheScope lesson)
    val scope = CacheScope.handle()
    try {
      // --from-html: the text column is raw markup — run the extraction
      // stage (capstone-v2's step zero) before any text operator sees it
      val docs0 = Tables.documents(spark, inDir)
      val raw = docs0.select(col("doc_id"), col("source"), col("text"))
      val extracted =
        if (fromHtml) raw.withColumn("text", Curation.htmlToText(col("text")))
        else raw
      // --trained-langid: route with the multiclass NB trained on the
      // input's OWN lang labels over its 80% hash split (the annotated-
      // slice production shape) instead of the fixed marker heuristic;
      // requires a `lang` column on the input parquet
      val langOf: DataFrame =
        if (!trainedLangId)
          extracted.select(col("doc_id"),
            TextFunctions.langId(col("text")).as("lang"))
        else {
          import graft.operators.{LangClassifier, QualityClassifier, Sampling}
          // checked on the already-loaded frame — one Tables.documents load
          // owns the input path convention, no second footer read
          require(docs0.columns.contains("lang"),
            "--trained-langid needs a lang column on the input to train on")
          val labeled = docs0.select(col("doc_id"), col("lang"))
          val fold = scope.pin(QualityClassifier.tokenFold(extracted, "doc_id",
              "text", buckets = 4096, salt = ":cli1")
            .persist(MEMORY_AND_DISK))
          val m = LangClassifier.trainLangNb(fold,
            labeled.filter(Sampling.split(col("doc_id"), 80, 10,
              salt = ":cli1s") === "train"),
            buckets = 4096, salt = ":cli1")
          LangClassifier.scoreLang(extracted.select("doc_id"), "doc_id",
              fold, m)
            .select(col("doc_id"), col("lang_pred").as("lang"))
        }
      // materialisation (a): the screened input, read by the exact-dedup,
      // near-dup, decon and verdict branches — materialised up front so
      // those branches read it instead of racing to populate it
      val docs = scope.pin(extracted
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .join(langOf, Seq("doc_id"))
        .persist(MEMORY_AND_DISK))
      val nDocs = docs.count()

      // stage flags (computed for EVERY doc — the audit's raw material)
      val qualityFail = col("quality") < minQuality
      val langFail = col("lang") =!= lang
      // dedup AFTER the quality/lang screen: a group whose min-id copy fails
      // quality would otherwise lose every copy (the keeper audited as a
      // quality drop, the passing copies as duplicates) — deduping the
      // surviving population keeps each group's first PASSING exemplar.
      // Screen-failed docs have no keeper row (is_keeper null); the verdict's
      // first-fail order reports them as quality/lang, never as duplicates.
      val prescreened = docs.filter(!qualityFail && !langFail)
      val withDup = docs.join(
        Dedup.exact(prescreened, "doc_id", "text")
          .select(col("doc_id"), col("is_keeper")),
        Seq("doc_id"), "left")
      val dupFail = !coalesce(col("is_keeper"), lit(true))

      val afterExact = withDup.filter(!qualityFail && !langFail && !dupFail)

      // --neardup: MinHash-LSH pairs over the exact-dedup survivors,
      // connected components, and each cluster keeps its BEST-QUALITY
      // exemplar (ties to the lowest id); edge-less docs are singleton
      // keepers. The flag frame marks every surviving keeper.
      val ndKeepFlag: DataFrame =
        if (!nearDup)
          afterExact.select(col("doc_id"), lit(true).as("__nd_keeper"))
        else {
          val pairs = Dedup.minhashLshPairs(afterExact, "doc_id", "text",
            k = 32, rowsPerBand = 4, threshold = 0.5, scope = scope)
          val labels = Dedup.connectedComponents(pairs.select("id_a", "id_b"),
              scope = scope)
            .select(col("id").as("doc_id"), col("comp"))
          val clusterKeep = Dedup.clusterKeepersBy(
              afterExact.join(labels, Seq("doc_id")),
              col("doc_id"), col("comp"), col("quality"))
            .select("doc_id")
          afterExact.join(labels, Seq("doc_id"), "left_anti").select("doc_id")
            .unionByName(clusterKeep)
            .select(col("doc_id"), lit(true).as("__nd_keeper"))
        }
      val afterNd = afterExact.join(ndKeepFlag, Seq("doc_id"), "left_semi")

      // --decon-bench: document-level n-gram decontamination against the
      // benchmark parquet (>= 50% of a doc's shingles appearing anywhere in
      // the benchmark set drops it)
      val deconFlag: DataFrame = deconBenchDir match {
        case None => afterNd.select(col("doc_id"),
          lit(false).as("__contaminated"))
        case Some(benchDir) =>
          val bench = spark.read.parquet(benchDir).select("doc_id", "text")
          graft.operators.Decontaminate.fractions(afterNd, bench,
              "doc_id", "text", threshold = 0.5, scope = scope)
            .select(col("doc_id"), col("is_contaminated").as("__contaminated"))
      }
      val clean = afterNd.join(
        deconFlag.filter(!col("__contaminated")), Seq("doc_id"), "left_semi")

      // budget is evaluated only over docs surviving the earlier screens —
      // a budget computed over to-be-dropped rows would under-fill sources
      val inBudget = Curation.capTokensPerKey(clean, col("source"),
        col("n_tokens"), budgetTokensPerSource,
        order = Seq(col("quality").desc, col("doc_id")), idCol = col("doc_id"))

      // materialisation (b): one verdict per document, the frame every sink
      // reads — the audit and the export cannot disagree
      val verdict = scope.pin(withDup
        .join(ndKeepFlag, Seq("doc_id"), "left")
        .join(deconFlag, Seq("doc_id"), "left")
        .join(inBudget.select(col("doc_id"), lit(true).as("__in_budget")),
          Seq("doc_id"), "left")
        .withColumn("verdict", Curation.firstFailVerdict(Seq(
          // flags of docs dropped at an earlier stage are null; the
          // first-fail order shields them, so coalesce polarity is free
          "quality" -> qualityFail,
          "lang" -> langFail,
          "duplicate" -> dupFail,
          "near_duplicate" -> !coalesce(col("__nd_keeper"), lit(false)),
          "contaminated" -> coalesce(col("__contaminated"), lit(false)),
          "over_budget" -> col("__in_budget").isNull)))
        .select(col("doc_id"), col("source"), col("text"), col("n_tokens"),
          col("quality"), col("verdict"))
        .persist(MEMORY_AND_DISK))
      // the up-front materialisation: this aggregate reads every partition
      val byVerdict = verdict.groupBy("verdict").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      verdict.select(col("doc_id"), col("source"), col("verdict"))
        .write.mode("overwrite").parquet(s"$outDir/audit")

      // first-fail order: a doc is audited "kept" exactly when it is in the
      // budgeted set, which is only reached by passing every earlier stage
      val kept = verdict.filter(col("verdict") === "kept").drop("verdict")
      val manifest = Export.jsonlSharded(kept, col("doc_id"), shards,
        s"$outDir/corpus", codec = codec)
      manifest.write.mode("overwrite").parquet(s"$outDir/manifest")

      // full pre-flight: rows AND byte totals AND null-required-field count —
      // a count-only check cannot see PERMISSIVE-corrupt lines
      val check = Export.validateShardsBytes(spark, s"$outDir/corpus",
        kept.schema, spark.read.parquet(s"$outDir/manifest"),
        requiredCol = "doc_id")
      val shardsOk = check.collect().forall(_.getAs[Boolean]("ok"))

      Summary(nDocs, byVerdict.getOrElse("kept", 0L), byVerdict, shardsOk)
    } finally scope.release()
  }

  def main(args: Array[String]): Unit = {
    def arg(name: String, default: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(default)
    val inDir = arg("--in", "/root/testdata/sf0.001")
    val outDir = arg("--out", "/tmp/graft_corpus")
    val spark = core.GraftSession.local("corpus-cli")
    try {
      val s = curate(spark, inDir, outDir,
        shards = arg("--shards", "8").toInt,
        budgetTokensPerSource = arg("--budget-tokens", "50000").toLong,
        minQuality = arg("--min-quality", "0.4").toDouble,
        lang = arg("--lang", "en"),
        fromHtml = args.contains("--from-html"),
        nearDup = args.contains("--neardup"),
        deconBenchDir = Option(arg("--decon-bench", null)),
        trainedLangId = args.contains("--trained-langid"),
        // --codec gzip|zstd: compressed .jsonl.{gz,zst} shard delivery
        codec = Option(arg("--codec", null)))
      val verdicts = s.byVerdict.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""{"n_docs":${s.nDocs},"n_kept":${s.nKept},""" +
        s""""verdicts":$verdicts,"shards_ok":${s.shardsOk},"out":"$outDir"}""")
      if (!s.shardsOk) sys.exit(2)
    } finally spark.stop()
  }
}
