package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamingOps

/** The live ingest pipeline, and the batch operators that run on a stream
  * unmodified, driven through MemoryStream micro-batches. */
class StreamingSpec extends SparkSpec {

  test("domain stats build as a Complete-mode streaming aggregation, equal to batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Curation
    // domainStats' counts and decimal sums are mergeable, so the micro-batch
    // update IS the merge — the batch operator runs unchanged (CMS pattern)
    val rows = Seq((1L, "a", 0.5), (2L, "a", 0.25), (3L, "b", 1.0),
      (4L, "b", 0.75), (5L, "a", 0.125))
    val mem = MemoryStream[(Long, String, Double)]
    val docs = mem.toDF().toDF("doc_id", "domain", "q")
    val q = Curation.domainStats(docs, "domain", col("q"))
      .writeStream.format("memory").queryName("domain_stats_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val streamed = s.sql("SELECT * FROM domain_stats_stream")
        .orderBy("domain").collect().toSeq
      val batch = Curation.domainStats(rows.toDF("doc_id", "domain", "q"),
          "domain", col("q"))
        .orderBy("domain").collect().toSeq
      assert(streamed == batch, s"stream $streamed != batch $batch")
      // and the verdicts derived from the streamed stats match too
      assert(Curation.domainVerdicts(
          s.sql("SELECT * FROM domain_stats_stream"), 2L, 0.5)
        .orderBy("domain").collect().toSeq ==
        Curation.domainVerdicts(rows.toDF("doc_id", "domain", "q")
          .transform(d => Curation.domainStats(d, "domain", col("q"))), 2L, 0.5)
        .orderBy("domain").collect().toSeq)
    } finally q.stop()
  }

  test("C4 rule cleaning runs stateless on a stream and equals the batch rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Lines
    val rows = Seq(
      (1L, "the quick brown fox jumps high.\ntoo few words.\nanother proper sentence with enough words here!\nis this a third full sentence with words?"),
      (2L, "please enable javascript to see it.\nlong enough line without terminal punctuation here"),
      (3L, "lorem ipsum dolor sit amet this page dies."))
    val mem = MemoryStream[(Long, String)]
    // c4Clean is a pure function of the row — the SAME operator runs on the
    // stream unmodified (no twin needed), append-mode, stateless
    val q = Lines.c4Clean(mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("c4_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows.take(1): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(1): _*)
      q.processAllAvailable()
      val cols = Seq("doc_id", "keep_doc", "n_lines", "n_kept", "n_sentences", "text")
      val streamed = s.sql("SELECT * FROM c4_stream")
        .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
      val batch = Lines.c4Clean(rows.toDF("doc_id", "text"), "doc_id", "text")
        .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.map(_.getAs[Boolean]("keep_doc")) == Seq(true, false, false))
    } finally q.stop()
  }

  test("synthetic-text screen runs stateless on a stream and equals the batch rows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Curation
    val rows = Seq(
      (1L, "organic prose, nothing to see"),
      (2L, "pasted chat <|im_start|>assistant hello"),
      (3L, "she said As An AI Language Model in a quote"))
    val mem = MemoryStream[(Long, String)]
    // syntheticScreen is a pure function of the row — the SAME operator
    // runs on the stream unmodified (no twin needed), append, stateless
    val q = Curation.syntheticScreen(mem.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("synth_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows.take(1): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(1): _*)
      q.processAllAvailable()
      val cols = Seq("doc_id", "has_template", "has_ai_phrase", "is_synthetic")
      val streamed = s.sql("SELECT * FROM synth_stream")
        .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
      val batch = Curation.syntheticScreen(rows.toDF("doc_id", "text"), "text")
        .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(streamed.map(_.getAs[Boolean]("is_synthetic")) ==
        Seq(false, true, true))
    } finally q.stop()
  }

  // shared fixture for the live ingest test: a tiny corpus with its
  // stored LSH index (bands + token sets), built by the BATCH index builders
  // — the persisted artifacts a deployed ingest pipeline probes
  private val ndK = 16
  private val ndRpb = 4
  private val ndThreshold = 0.5
  private def ndIndex = {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta"),
      (101L, "one two three four five six seven")).toDF("doc_id", "text")
    import graft.operators.Dedup
    val bands = Dedup.minhashBands(
        Dedup.minhashSig(corpus, "doc_id", "text", ndK), ndK, ndRpb)
      .withColumnRenamed("doc_id", "id_corpus")
    val sets = corpus.select($"doc_id".as("id_corpus"),
      graft.functions.TextFunctions.tokenSet($"text").as("toks_corpus"))
    (bands, sets)
  }

  test("live ingest pipeline: exact drop, near-dup edges, cluster state, doc append") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Dedup
    val (bands, sets) = ndIndex
    val corpusHashes = Seq(
      "alpha beta gamma delta epsilon zeta",
      "one two three four five six seven").toDF("text")
      .select(md5($"text").as("content_hash"))
    val stateDir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    // seed: the corpus labeling (both docs their own component)
    Seq((100L, 100L, true), (101L, 101L, true)).toDF("id", "comp", "is_keeper")
      .write.parquet(s"$stateDir/labels")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingOps.ingestDedupPipeline(docs, corpusHashes, bands, sets,
      stateDir, "doc_id", "text", ndK, ndRpb, ndThreshold).start()
    val batch1 = Seq(
      (1001L, "alpha beta gamma delta epsilon zeta"),       // exact corpus dup
      (1002L, "alpha beta gamma delta epsilon zeta extra"), // near-dup of 100
      (1003L, "totally fresh unrelated content words here"))
    val batch2 = Seq(
      (1004L, "one two three four five six seven more"),    // near-dup of 101
      (1005L, "another brand new document entirely distinct"))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    // exact dup dropped, everything else appended once
    val docIds = s.read.parquet(s"$stateDir/docs")
      .select("doc_id").as[Long].collect().toSet
    assert(docIds == Set(1002L, 1003L, 1004L, 1005L))
    // labels cover corpus + survivors exactly once, keeper flag = (id==comp)
    val labels = s.read.parquet(s"$stateDir/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(labels.map(_._1).sorted.toSeq ==
      Seq(100L, 101L, 1002L, 1003L, 1004L, 1005L))
    assert(labels.forall { case (id, comp, k) => k == (id == comp) })
    // parity with the batch formulation: both batches probed the SAME
    // static index, so the expected end state is one incremental fold of
    // all survivor edges over the seed, singletons as themselves
    val survivors = (batch1.drop(1) ++ batch2).toDF("doc_id", "text")
    val edges = Dedup.minhashLshIncrementIndexed(survivors, bands, sets,
        "doc_id", "text", ndK, ndRpb, ndThreshold)
      .select($"id_new".as("id_a"), $"id_corpus".as("id_b"))
    val seed = Seq((100L, 100L), (101L, 101L)).toDF("id", "comp")
    val matchedIds = edges.select("id_a").as[Long].collect().toSet
    val expected = Dedup.componentsIncrement(seed, edges)
      .select("id", "comp", "is_keeper").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet ++
      Set(1002L, 1003L, 1004L, 1005L).diff(matchedIds)
        .map(id => (id, id, true))
    assert(labels.toSet == expected, s"got ${labels.toSet} want $expected")
    // the scenario is non-trivial: at least one near-dup edge verified, so
    // at least one survivor clusters under a corpus component
    assert(matchedIds.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stateDir))
  }

  test("robots screening is row-pure: the batch operator runs on a stream unmodified") {
    import graft.operators.Curation
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rules = Curation.parseRobots(Seq(
        ("a.com", "User-agent: graftbot\nDisallow: /private/"),
        ("b.net", "User-agent: *\nDisallow: /search"))
        .toDF("domain", "txt"), "domain", "txt")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "url")
    val q = Curation.robotsVerdicts(docs, "url", rules, agent = "graftbot")
      .writeStream.format("memory").queryName("robots_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        (1L, "http://A.com/private/x"), (2L, "http://a.com/ok"),
        (3L, "https://b.net/search?q=1"), (4L, "https://c.org/free"))
      q.processAllAvailable()
      val got = s.sql("SELECT doc_id, robots_blocked FROM robots_stream")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
    } finally q.stop()
  }
}
