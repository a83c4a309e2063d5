package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.{CorpusCli, IngestCli}
import graft.functions.TextFunctions
import graft.operators.{Curation, Decontaminate, Dedup}
import graft.sources.Export

/** `corpus`: `CorpusCli.curate` with near-dup clustering and a
  * decontamination set, then `IngestCli.run` arrival batches against the
  * indexes built during set-up. Closed loop, one caller.
  *
  * The input is generated: a Zipf vocabulary of [[CorpusWorkload.Vocab]]
  * words mixed with the `LangMarkers` function words, planted exact and
  * near duplicates, off-language and junk documents.
  */
final class CorpusWorkload(seed: Long) extends Main.Workload {
  import CorpusWorkload._

  private val gen = new Generator(seed)

  def setup(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    gen.corpus.toDF("doc_id", "source", "text")
      .write.parquet(dir.resolve("corpus").resolve("documents.parquet").toString)
    gen.bench.toDF("doc_id", "text").write.parquet(dir.resolve("decon").toString)
    val batches = Files.createDirectories(dir.resolve("batches"))
    gen.batches.zipWithIndex.foreach { case (b, i) =>
      Files.writeString(batches.resolve(f"batch-$i%03d.json"),
        b.map { case (id, text) => s"""{"doc_id": $id, "text": ${Json.str(text)}}""" }
          .mkString("", "\n", "\n"))
    }
    // the ingest index build: a run over an empty arrivals directory
    Files.createDirectories(dir.resolve("arrivals"))
    IngestCli.run(spark, dir.resolve("corpus").toString, dir.resolve("arrivals").toString,
      dir.resolve("state").toString)
  }

  private def curate(spark: SparkSession, dir: Path, out: String): CorpusCli.Summary =
    CorpusCli.curate(spark, dir.resolve("corpus").toString, out, shards = 4,
      budgetTokensPerSource = Budget, nearDup = true,
      deconBenchDir = Some(dir.resolve("decon").toString))

  def measure(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = {
    // ---- curate, once: a fresh JVM's CLI call ----
    val curated = dir.resolve("curated").toString
    val t0 = System.nanoTime()
    val summary = out.op("curate")(Trace.span("corpus.curate")(curate(spark, dir, curated)))(s =>
      s.shardsOk && s.nDocs == gen.corpus.size && s.byVerdict.values.sum == s.nDocs)
    // a failed curate leaves the metric without a value, and the run fails
    val curateS = summary.fold(Double.NaN)(_ => (System.nanoTime() - t0) / 1e9)
    if (summary.isDefined) checkAudit(spark, curated, out)
    out.endToEnd("batch_wall_s") = (curateS, "s")
    out.named("curate_wall_s") = (curateS, "s")

    // ---- ingest: one IngestCli.run per arrival batch ----
    val arrivals = dir.resolve("arrivals")
    var before = docsInState(spark, dir)
    val batchS = gen.batches.indices.flatMap { i =>
      val name = f"batch-$i%03d.json"
      Files.copy(dir.resolve("batches").resolve(name), arrivals.resolve(s".$name"))
      Files.move(arrivals.resolve(s".$name"), arrivals.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val t0 = System.nanoTime()
      val s = out.op(s"ingest batch $i")(Trace.span("ingest.batch")(
        IngestCli.run(spark, dir.resolve("corpus").toString, arrivals.toString,
          dir.resolve("state").toString)))(s => s.nDocs > before && s.nDocs <= before + BatchDocs)
      val dt = (System.nanoTime() - t0) / 1e9
      s.foreach(x => { survivors += x.nDocs - before; before = x.nDocs })
      s.map(_ => dt)
    }
    out.check("no planted exact duplicate of the corpus survives ingest") {
      val kept = spark.read.parquet(dir.resolve("state").resolve("docs").toString)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      gen.arrivalDuplicates.forall(id => !kept(id))
    }
    out.endToEnd("op_latency_ms") = (Stats.median(batchS) * 1000, "ms")
    out.named("ingest_batch_ms") = (Stats.median(batchS) * 1000, "ms")
    out.named("ingest_docs_per_s") = (batchS.size * BatchDocs / batchS.sum, "docs/s")
  }

  private var survivors = 0L

  private def docsInState(spark: SparkSession, dir: Path): Long = {
    val docs = dir.resolve("state").resolve("docs")
    if (Files.exists(docs)) spark.read.parquet(docs.toString).count() else 0L
  }

  /** Every planted exact duplicate is audited `duplicate`. */
  private def checkAudit(spark: SparkSession, outDir: String, out: Main.Outcome): Unit =
    out.check("planted exact duplicates audited as duplicate") {
      val verdicts = spark.read.parquet(s"$outDir/audit")
        .filter(col("doc_id").isin(gen.corpusDuplicates: _*))
        .select("verdict").collect().map(_.getString(0))
      verdicts.length == gen.corpusDuplicates.size && verdicts.forall(_ == "duplicate")
    }

  // ------------------------------ layers ------------------------------

  def layers(spark: SparkSession, dir: Path, out: Main.Outcome): Unit = {
    import Layers._
    // the operators CorpusCli chains, each forced to noop on the inputs it
    // sees there, so their cost is not all billed to the final action
    val docs = spark.read.parquet(dir.resolve("corpus").resolve("documents.parquet").toString)
      .select("doc_id", "source", "text")
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")).cast("long"))
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .withColumn("lang", TextFunctions.langId(col("text")))
    Trace.span("screen")(noop(docs))
    val pre = docs.filter(col("quality") >= 0.4 && col("lang") === "en")
    Trace.span("dedup.exact")(noop(Dedup.exact(pre, "doc_id", "text")))
    val pairsDir = dir.resolve("layers-pairs").toString
    Trace.span("dedup.lsh")(Dedup.minhashLshPairs(pre, "doc_id", "text", k = 32,
      rowsPerBand = 4, threshold = 0.5).write.parquet(pairsDir))
    val pairs = spark.read.parquet(pairsDir)
    out.layer("dedup.lsh_pairs") = (pairs.count().toDouble, "count")
    Trace.span("dedup.cc")(noop(Dedup.connectedComponents(pairs.select("id_a", "id_b"))))
    val bench = spark.read.parquet(dir.resolve("decon").toString)
    Trace.span("decon")(noop(Decontaminate.fractions(pre, bench, "doc_id", "text", threshold = 0.5)))
    Trace.span("curation.budget")(noop(Curation.capTokensPerKey(pre, col("source"),
      col("n_tokens"), Budget, order = Seq(col("quality").desc, col("doc_id")),
      idCol = col("doc_id"))))
    val last = dir.resolve("curated")
    Trace.span("export.validate")(Export.validateShardsBytes(spark, last.resolve("corpus").toString,
      KeptSchema, spark.read.parquet(last.resolve("manifest").toString), "doc_id").collect())

    def msOf(n: String) = named(n).map(ms).sum
    val dedup = named("dedup.exact") ++ named("dedup.lsh") ++ named("dedup.cc")
    val dedupJobs = jobsUnder(dedup)
    out.layer("dedup.exact_ms") = (msOf("dedup.exact"), "ms")
    out.layer("dedup.lsh_ms") = (msOf("dedup.lsh"), "ms")
    out.layer("dedup.cc_ms") = (msOf("dedup.cc"), "ms")
    out.layer("dedup.cc_jobs") = (jobsUnder(named("dedup.cc")).size.toDouble, "count")
    out.layer("dedup.shuffle_mb") = (mb(dedupJobs.map(_.shuffleWriteBytes).sum), "MB")
    out.layer("dedup.spill_mb") = (mb(dedupJobs.map(_.spillBytes).sum), "MB")
    out.layer("decon.ms") = (msOf("decon"), "ms")
    out.layer("decon.shuffle_mb") = (mb(jobsUnder(named("decon")).map(_.shuffleWriteBytes).sum), "MB")
    out.layer("curation.budget_ms") = (msOf("curation.budget"), "ms")
    out.layer("screen.cpu_ms") = (jobsUnder(named("screen")).map(_.cpuMs).sum, "ms")

    val curates = named("corpus.curate")
    val curateJobs = jobsUnder(curates)
    val export = curateJobs.filter(_.function == "Export.jsonlSharded")
    out.layer("export.ms") = (busyMs(export), "ms")
    out.layer("export.out_mb") = (mb(WeatherWorkload.dataFiles(last.resolve("corpus"))._1), "MB")
    out.layer("export.validate_ms") = (msOf("export.validate"), "ms")
    out.layer("corpus.jobs") = (curateJobs.size.toDouble, "count")
    out.layer("corpus.driver_ms") = (Trace.driverMs(curates, curateJobs), "ms")
    out.layer("corpus.cpu_ms") = (curateJobs.map(_.cpuMs).sum, "ms")
    out.layer("corpus.gc_ms") = (curateJobs.map(_.gcMs).sum, "ms")
    val operatorMs = Seq("screen", "dedup.exact", "dedup.lsh", "dedup.cc", "decon",
      "curation.budget", "export.validate").map(msOf).sum + busyMs(export)
    out.layer("corpus.coverage") = (operatorMs / curates.map(ms).sum, "ratio")

    val batches = named("ingest.batch")
    val ingestJobs = jobsUnder(batches)
    val arrivedBytes = Files.list(dir.resolve("arrivals")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("batch-")).map(Files.size(_)).sum
    val readBytes = ingestJobs.map(_.inputBytes).sum
    out.layer("ingest.batch_ms") = (Stats.median(batches.map(ms)), "ms")
    out.layer("ingest.jobs_per_batch") = (ingestJobs.size.toDouble / batches.size.max(1), "count")
    out.layer("ingest.index_read_mb") = (mb(readBytes), "MB")
    out.layer("ingest.read_per_arrival_byte") = (readBytes.toDouble / arrivedBytes, "ratio")
    out.layer("ingest.survivor_ratio") =
      (survivors.toDouble / (batches.size * BatchDocs).max(1), "ratio")
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object CorpusWorkload {

  val Docs = 400
  val Vocab = 4000
  val BatchDocs = 40
  val BatchExact = 6
  val BatchNear = 4
  /** Good documents at the head of the corpus, before any copy. */
  val Originals = 20
  /** Arrival batches, each ingested by one `IngestCli.run`. */
  val Batches = 1
  /** Per-source token budget: small enough that some documents are cut. */
  val Budget = 12000L
  val ExactDupShare = 0.06
  val NearDupShare = 0.06
  val OffLanguageShare = 0.06
  val JunkShare = 0.04

  /** The row shape `CorpusCli` exports. */
  val KeptSchema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType),
    StructField("n_tokens", LongType), StructField("quality", DoubleType)))

  val Sources = Seq("web", "books", "news", "forum")
  private val Syllables = Seq("ka", "ri", "to", "mel", "sun", "dar", "vo", "pe",
    "lin", "gra", "us", "fen", "ol", "tri", "ba", "ne", "cor", "mi", "zu", "el")

  /** Seeded documents. Ids: corpus 1..Docs, decontamination set from
    * 1,000,000, arrivals from 2,000,000. */
  final class Generator(seed: Long) {
    private val rnd = new Random(seed)
    val words: IndexedSeq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab)
        seen += (1 to 2 + rnd.nextInt(3)).map(_ => Syllables(rnd.nextInt(Syllables.size))).mkString
      seen.toIndexedSeq
    }
    /** Zipf(1.1) cumulative weights over the vocabulary. */
    private val cdf = {
      val w = words.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    private def zipfWord(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(if (i >= 0) i else (-i - 1).min(words.size - 1))
    }
    private val english = TextFunctions.LangMarkers.toMap.apply("en")
    private val spanish = TextFunctions.LangMarkers.toMap.apply("es")

    def text(markers: Seq[String] = english): String = {
      val n = 40 + rnd.nextInt(120)
      (0 until n).map { i =>
        val w = if (rnd.nextDouble() < 0.18) markers(rnd.nextInt(markers.size)) else zipfWord()
        if (i % 14 == 13) w + "." else w
      }.mkString(" ").capitalize
    }

    /** A copy of `t` with about 8% of its tokens replaced. */
    def nearCopy(t: String): String =
      t.split(" ").map(w => if (rnd.nextDouble() < 0.08) zipfWord() else w).mkString(" ")

    private def junk(): String =
      (0 until 3 + rnd.nextInt(4)).map(_ => Seq("$$", "##", "!!", "??", "%%", "&&")(rnd.nextInt(6))).mkString(" ")

    /** Document kinds in exact numbers, in a seeded order; the first
      * [[Originals]] documents are good ones, so every copy has an
      * original with a lower id. */
    val (corpus, corpusDuplicates): (IndexedSeq[(Long, String, String)], Seq[Long]) = {
      def n(share: Double) = (share * Docs).round.toInt
      val kinds = Seq.fill(Originals)("good") ++ rnd.shuffle(
        Seq.fill(n(ExactDupShare))("exact") ++ Seq.fill(n(NearDupShare))("near") ++
          Seq.fill(n(OffLanguageShare))("spanish") ++ Seq.fill(n(JunkShare))("junk") ++
          Seq.fill(Docs - Originals - n(ExactDupShare) - n(NearDupShare) -
            n(OffLanguageShare) - n(JunkShare))("good"))
      val good = scala.collection.mutable.ArrayBuffer.empty[String]
      val dups = scala.collection.mutable.ArrayBuffer.empty[Long]
      val docs = kinds.zipWithIndex.map { case (kind, i) =>
        val id = i + 1L
        val t = kind match {
          case "exact" => dups += id; good(rnd.nextInt(good.size))
          case "near" => nearCopy(good(rnd.nextInt(good.size)))
          case "spanish" => text(spanish)
          case "junk" => junk()
          case _ => val t = text(); good += t; t
        }
        (id, Sources(i % Sources.size), t)
      }
      (docs.toIndexedSeq, dups.toSeq)
    }

    private def goodText(): String = {
      val t = corpus(rnd.nextInt(corpus.size))._3
      if (t.length > 60) t else goodText()
    }

    /** Half copies of corpus documents, half new ones. */
    val bench: Seq[(Long, String)] =
      (0 until 30).map(i => (1000000L + i, if (i % 2 == 0) goodText() else text()))

    /** Arrival batches of [[BatchDocs]]: [[BatchExact]] exact copies of
      * corpus documents, [[BatchNear]] near copies, the rest new, in a
      * seeded order. */
    val (batches, arrivalDuplicates): (Seq[Seq[(Long, String)]], Seq[Long]) = {
      val dups = scala.collection.mutable.ArrayBuffer.empty[Long]
      val bs = (0 until Batches).map { b =>
        rnd.shuffle(Seq.fill(BatchExact)("exact") ++ Seq.fill(BatchNear)("near") ++
          Seq.fill(BatchDocs - BatchExact - BatchNear)("new")).zipWithIndex.map { case (kind, i) =>
          val id = 2000000L + b * 1000 + i
          kind match {
            case "exact" => dups += id; (id, goodText())
            case "near" => (id, nearCopy(goodText()))
            case _ => (id, text())
          }
        }
      }
      (bs, dups.toSeq)
    }
  }
}
