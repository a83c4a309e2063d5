package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.FullOuter
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.core.{Config, Tables}
import graft.operators.Similarity
import graft.queries.RelationalQueries
import graft.weather.WeatherCli

/** Physical-plan assertions: the properties that decide whether a query
  * still works at 1000x the data — pushdown reaching the parquet scan,
  * dimension joins broadcasting, bucketed ANN avoiding a cross join — are
  * pinned here so a refactor can't silently regress them.
  */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def run(name: String): DataFrame =
    RelationalQueries.all.toMap.apply(name).fn(spark, sf)

  test("filter + projection push down to the parquet scan (P2)") {
    val plan = planOf(run("q_p2_projection_filter"))
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    assert(plan.contains("IsNotNull(l_shipdate)") || plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    // the scan must read only the projected + filtered columns, never the
    // full 16-column lineitem schema
    assert(!plan.contains("l_comment"), s"scan reads unprojected columns:\n$plan")
  }

  test("dimension join broadcasts the small side (A9)") {
    val plan = planOf(run("q_a9_ranked_summary"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"nation-dimension join did not broadcast:\n$plan")
  }

  test("bucketed ANN joins hash-partitioned, not as a cross join") {
    val emb = Tables.embeddings(spark, sf)
    val plan = planOf(
      Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 2), k = 3, bucketBits = 4))
    assert(!plan.contains("CartesianProduct"), s"bucketed ANN degenerated to cartesian:\n$plan")
  }

  test("a city's transform plans and sink writes need no shuffle exchange") {
    val c = Config(dataDir = java.nio.file.Files.createTempDirectory("graft-plan").toString)
    WeatherCli.fetch(c)
    val plans = SparkSpec.launched(spark)(WeatherCli.transform(spark, c)).plans
    def nodes(p: SparkPlan) = collectWithSubqueries(p) { case n => n }
    // two checkpoints (the merge-and-sort hourly plan, the aggregate-and-sort
    // daily plan), the two published collects that materialise them, and the
    // four sink writes over them
    assert(plans.map(_._1).count(_ == "localCheckpoint") == 2, plans.map(_._1))
    assert(plans.map(_._1).count(_ == "collect") == 2, plans.map(_._1))
    assert(plans.size == 8, plans.map(_._1))
    val all = plans.flatMap { case (_, p) => nodes(p) }
    assert(all.exists { case j: BaseJoinExec => j.joinType == FullOuter; case _ => false } &&
      all.exists(_.isInstanceOf[HashAggregateExec]), "the city's plan was not inspected")
    plans.foreach { case (action, p) =>
      assert(!nodes(p).exists(_.isInstanceOf[ShuffleExchangeExec]), s"$action shuffles:\n$p")
    }
  }

  test("daily rollup aggregates partially before the shuffle (A1)") {
    val plan = planOf(run("q_a1_daily_rollup"))
    // partial+final hash aggregation: two HashAggregate nodes around the
    // exchange mean map-side combine happens before any data moves
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial aggregation:\n$plan")
  }

  test("whole-stage codegen covers the scan->project pipeline (F2)") {
    val df = run("q_f2_pm25_category")
    df.collect() // AQE only materializes codegen spans in the executed final plan
    val plan = planOf(df)
    // `*(n)` node prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
  }

  test("char_entropy stays inside a WholeStageCodegen span") {
    graft.GraftExtensions.register(spark)
    val df = Tables.documents(spark, sf).select(col("doc_id"),
      graft.functions.Entropy.charEntropy(col("text")).as("h"))
    df.collect()
    val plan = planOf(df)
    assert(plan.contains("*(1)"), s"entropy kernel fell out of codegen:\n$plan")
  }

  test("Q17 decorrelates to one window, no lineitem self-join (TPC-H)") {
    val plan = planOf(run("q_tpch_q17"))
    assert(plan.contains("Window"), s"no window decorrelation:\n$plan")
    // exactly one lineitem scan: a join-back decorrelation would scan twice
    assert("FileScan parquet .*lineitem".r.findAllIn(plan).size == 1,
      s"lineitem scanned more than once:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"brand dim not broadcast:\n$plan")
  }

  test("Q21 runs the exists/not-exists chain as semi + anti hash joins") {
    val plan = planOf(run("q_tpch_q21"))
    assert(plan.contains("LeftSemi"), s"no semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"exists chain degenerated to cartesian:\n$plan")
  }

  test("Q4 runs EXISTS as a semi join; Q22's scalar subquery broadcasts") {
    val q4 = planOf(run("q_tpch_q4"))
    assert(q4.contains("LeftSemi"), s"Q4 exists not a semi join:\n$q4")
    val q22 = planOf(run("q_tpch_q22"))
    assert(q22.contains("LeftAnti"), s"Q22 not-exists not an anti join:\n$q22")
    assert(q22.contains("BroadcastExchange") || q22.contains("BroadcastNestedLoopJoin"),
      s"Q22 scalar subquery not broadcast:\n$q22")
    assert(!q22.contains("CartesianProduct"), s"Q22 degenerated to cartesian:\n$q22")
  }

  test("range join hash-joins on time buckets, never nested-loop/cartesian") {
    val plan = planOf(run("q_j_range_interval"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to an O(n*m) plan:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"), s"no hash join on the bucket key:\n$plan")
  }

  test("dedup self-joins never broadcast their corpus-scaled side") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    // execute (AQE finalizes join strategies at runtime), then assert the
    // shuffle_hash pin held: a broadcast whose build side grows with the
    // corpus is the one plan that cannot survive 100x data — and an estimate
    // straddling autoBroadcastJoinThreshold makes the planner FLIP between
    // runs (the round-3/4 bimodal bench timings)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3,
      maxTokenDf = 100L)
    pairs.write.format("noop").mode("overwrite").save()
    val plan = planOf(pairs)
    assert(!plan.contains("BroadcastHashJoin"),
      s"corpus-scaled join got broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"shuffle_hash hint not honored:\n$plan")
  }

  test("decontamination marks matches with a semi join, aggregates partially") {
    import graft.operators.Decontaminate
    val docs = Tables.documents(spark, sf)
    val plan = planOf(Decontaminate.fractions(
      docs.filter(col("doc_id") % 20 =!= 0), docs.filter(col("doc_id") % 20 === 0),
      "doc_id", "text", threshold = 0.5))
    assert(plan.contains("LeftSemi"), s"benchmark probe not a semi join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"degenerated to cartesian:\n$plan")
  }

  test("sequence packing shuffles once, on the shard key") {
    import graft.operators.Packing
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.TextFunctions.tokenCount(col("text")).as("n"))
    val plan = planOf(
      Packing.packBins(docs, "doc_id", col("n"), budgetTokens = 512L, shards = 8))
    // one exchange for the shard window; a global (empty-partition) window
    // would show a SinglePartition exchange instead
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(plan).nonEmpty,
      s"window not partitioned by shard:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"packing fell into a global single-partition sort:\n$plan")
  }

  test("tf-idf top-k pushes a partial group limit below the doc shuffle") {
    val plan = planOf(graft.operators.TermWeights.tfIdfTopK(
      Tables.documents(spark, sf), "doc_id", "text", k = 3))
    // rank <= k over a window compiles to WindowGroupLimit; Catalyst plants
    // one BEFORE the doc_id exchange (partition-local top-k) and one after —
    // without the partial pass every (doc, term) row would cross the wire
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"no partial window group limit before the shuffle:\n$plan")
    // df must never broadcast the corpus-scaled term table; the only
    // broadcast is the 1-row n_docs scalar
    assert(!plan.contains("BroadcastHashJoin"),
      s"term table joined by broadcast hash join:\n$plan")
    // df must be a partial-aggregable HashAggregate joined back shuffle_hash,
    // NOT a window over the term key: token frequencies are zipfian, so a
    // stopword's window partition is corpus-sized on one task and AQE cannot
    // split a window partition. The rank window (per-doc, k-bounded) is the
    // only WindowExec allowed in the plan.
    assert("Window \\[".r.findAllIn(plan).size == 1,
      s"df computed by a window over the zipfian term key:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"df join not pinned shuffle_hash:\n$plan")
  }

  test("bm25 broadcasts only the query terms; df/dl join shuffle_hash; two-phase rank") {
    val s = spark
    import s.implicits._
    val qs = Seq((1L, "spark window agg")).toDF("query_id", "qtext")
    val plan = planOf(graft.operators.TermWeights.bm25TopK(
      Tables.documents(spark, sf), "doc_id", "text", qs, "query_id", "qtext", k = 10))
    // the bounded query-term table is the ONE hash-broadcast side; the
    // corpus-scaled df and dl frames must join shuffle_hash (a broadcast
    // whose build side grows with the corpus is never right at scale)
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 1,
      s"expected exactly the query-term broadcast:\n$plan")
    assert("ShuffledHashJoin".r.findAllIn(plan).size >= 2,
      s"df/dl joins not pinned shuffle_hash:\n$plan")
    // two-phase exact top-k: the phase-1 window partitions by
    // (query, shard) so no window partition is corpus-sized
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"expected exactly the two rank windows:\n$plan")
    // the shard expression is folded into the upstream projection (it
    // prints as _w0), so pin the sharding via the window's partition spec:
    // exactly one window keyed (query_id, shard) and one keyed query_id-only
    assert("Window \\[[^\\n]*\\], \\[query_id#\\d+L, _w0#\\d+L?\\]".r
      .findAllIn(plan).nonEmpty,
      s"phase-1 rank window not sharded by (query_id, shard):\n$plan")
  }

  test("line dedup never windows/joins on the zipfian line key; boilerplate cut broadcasts") {
    import graft.operators.Lines
    val docs = Tables.documents(spark, sf)
    // first-occurrence selection must be a partial-agg min(struct) groupBy:
    // a heavy boilerplate line combines map-side, and the kept rows come out
    // of the aggregate — no window and no join keyed on the line column
    val p1 = planOf(Lines.dedupLinesAcrossDocs(docs, "doc_id", "text"))
    assert(!p1.contains("Window ["), s"window over line key:\n$p1")
    assert("Join \\[line#".r.findAllIn(p1).isEmpty &&
      "Join \\[coalesce\\(line".r.findAllIn(p1).isEmpty,
      s"join keyed on the zipfian line column:\n$p1")
    assert(p1.contains("partial_min"), s"min(struct) not partial-agged:\n$p1")
    // boilerplate removal: the bounded heavy set is the BROADCAST side of a
    // LeftAnti — the corpus-scaled occurrence frame is never line-shuffled
    val p2 = planOf(Lines.dropBoilerplate(docs, "doc_id", "text", minDocs = 5))
    assert("BroadcastHashJoin \\[line#\\d+\\], \\[line#\\d+\\], LeftAnti".r
      .findAllIn(p2).nonEmpty,
      s"heavy-line cut not a broadcast anti-join:\n$p2")
  }

  test("c4Clean is pure scan stage: zero exchanges, zero windows, zero joins") {
    import graft.operators.Lines
    val p = planOf(Lines.c4Clean(Tables.documents(spark, sf), "doc_id", "text"))
    assert(!p.contains("Exchange"), s"C4 rule cleaning must not shuffle:\n$p")
    assert(!p.contains("Window [") && !p.contains("Join"),
      s"C4 rule cleaning must stay per-row:\n$p")
  }

  test("htmlToText is pure scan stage: zero exchanges, zero windows, zero joins") {
    import graft.operators.Curation
    val p = planOf(Tables.documents(spark, sf)
      .select(col("doc_id"), Curation.htmlToText(col("text")).as("t")))
    assert(!p.contains("Exchange") && !p.contains("Window [") &&
      !p.contains("Join"), s"HTML extraction must stay per-row:\n$p")
  }

  test("weightedBottomKPerKey phase-1 window is (key, shard)-sharded") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), length(col("text")).as("w"))
    val p = planOf(Sampling.weightedBottomKPerKey(docs, col("source"),
      col("doc_id"), col("w"), k = 5))
    // two rank windows (sharded phase 1, survivor phase 2); the phase-1
    // partition spec must carry the shard column so no window partition is
    // ever one whole group
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"expected exactly the two-phase rank windows:\n$p")
    assert("Window \\[[^\\n]*\\], \\[source#\\d+, __shard#\\d+L?\\]".r
      .findAllIn(p).nonEmpty,
      s"phase-1 window not sharded by (source, shard):\n$p")
  }

  test("dedupByUrl and screenDomains verdict joins are shuffle_hash, aggs partial") {
    import graft.operators.Curation
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        concat(lit("https://h"), col("doc_id") % 7, lit(".example/p")).as("url"),
        (col("doc_id") % 10).cast("double").as("q"))
    // url dedup: the URL-distinct agg frame grows with the corpus — it must
    // never be broadcast, and the keeper agg must combine map-side
    val p1 = planOf(Curation.dedupByUrl(docs, "doc_id", "url"))
    assert(p1.contains("ShuffledHashJoin"), s"url verdict join not shuffle_hash:\n$p1")
    assert(!p1.contains("BroadcastHashJoin"), s"corpus-scaled frame broadcast:\n$p1")
    assert(p1.contains("partial_min"), s"keeper agg not partial:\n$p1")
    assert(!p1.contains("Window ["), s"window on the zipfian url key:\n$p1")
    val p2 = planOf(Curation.screenDomains(docs, "doc_id", "source", col("q"),
      maxDocsPerDomain = 100L, minAvgQuality = 0.5))
    assert(p2.contains("ShuffledHashJoin"), s"domain verdict join not shuffle_hash:\n$p2")
    assert(!p2.contains("BroadcastHashJoin"), s"domain stats broadcast:\n$p2")
    assert(p2.contains("partial_count") || p2.contains("partial_sum"),
      s"domain stats not partial-agged:\n$p2")
  }

  test("thresholdBySource broadcasts thresholds; no window; percentile partial-aggs") {
    import graft.operators.Curation
    import graft.functions.TextFunctions
    val scored = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    val plan = planOf(Curation.thresholdBySource(scored, "source", col("quality"), 0.25))
    assert(!plan.contains("Window ["), s"rank-style window over source:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"threshold frame not broadcast:\n$plan")
    assert(plan.contains("partial_percentile"),
      s"percentile not partial-agged (corpus rows would shuffle):\n$plan")
  }

  test("semantic decontamination broadcasts the bench set; per-doc max partial-aggs") {
    import graft.operators.{Decontaminate, Similarity}
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    // exact path: the bounded bench side rides a broadcast cross join; the
    // |corpus| x |bench| frame partial-aggregates in the scan stage — the
    // only shuffle is the per-id final agg
    val p1 = planOf(Decontaminate.semanticFlags(emb, "vec_id", "embedding",
      emb.limit(10), "vec_id", "embedding", threshold = 0.5))
    assert(p1.contains("BroadcastNestedLoopJoin"), s"bench not broadcast:\n$p1")
    assert(p1.contains("partial_max"), s"per-doc max not partial-agged:\n$p1")
    assert(!p1.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p1")
    // IVF path: probed bench cells broadcast against the cell-keyed store
    val cents = Seq((0L, Seq.fill(64)(0.1)), (1L, Seq.fill(64)(-0.1)))
      .toDF("cell", "centroid")
    val assigned = Similarity.assignCells(
      emb.select(col("vec_id").as("nbr_id"),
        col("embedding").cast("array<double>").as("nbr_v")), cents)
    val p2 = planOf(Decontaminate.semanticFlagsIvf(
      Similarity.IvfIndex(assigned, cents), emb.limit(10), "vec_id", "embedding",
      threshold = 0.5, nProbe = 1))
    assert("BroadcastHashJoin \\[cell#".r.findAllIn(p2).nonEmpty,
      s"probe join not broadcast on cell:\n$p2")
  }

  test("jaccard df cut is a partial-agg semi-join, never a window over tok") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val plan = planOf(Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3,
      maxTokenDf = 100L))
    // same zipf hazard as tf-idf df: a window partition per token cannot be
    // split by AQE, while the groupBy partial-aggregates map-side and the
    // semi-join's build side is the df-bounded qualifying-token set
    assert(!plan.contains("Window ["),
      s"df cut computed by a window over the zipfian token key:\n$plan")
    assert(plan.contains("LeftSemi"), s"df cut not a semi-join:\n$plan")
  }

  test("token-budget cap windows are shard-bounded, never single-partition") {
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("bigint").as("n"))
    val plan = planOf(Curation.capTokensPerKey(docs, col("source"), col("n"),
      budget = 700L, order = Seq(col("doc_id")), idCol = col("doc_id"), shards = 8))
    // phase 1 must partition by (key, hash-shard) so a hot key's prefix sum
    // never funnels the corpus through one task; a global or unpartitioned
    // window would show a SinglePartition exchange
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).nonEmpty,
      s"cap window not partitioned by key:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"token cap fell into a single-partition window:\n$plan")
  }

  test("span dedup probes shared fps with a semi-join, never broadcast or cartesian") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
    spans.write.format("noop").mode("overwrite").save() // AQE finalizes joins
    val plan = planOf(spans)
    // the shared-fp table is corpus-scaled: a broadcast grows with the
    // corpus; the probe must stay a shuffled semi-join, and the df must be
    // aggregated (partial+final), never a window over the zipfian fp key
    assert(plan.contains("LeftSemi"), s"shared-fp probe not a semi-join:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"), s"shared-fp table broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"degenerated to cartesian:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"df not partial-agg:\n$plan")
  }

  test("incremental dedup probes the corpus with a shuffled join, never broadcast") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val plan = planOf(Dedup.exactIncrement(
      docs.filter(col("doc_id") % 20 === 0),
      docs.filter(col("doc_id") % 20 =!= 0), "doc_id", "text"))
    // the corpus hash index grows with the corpus: a broadcast anti-join
    // would ship it to every executor and eventually the driver OOMs
    assert(!plan.contains("BroadcastHashJoin"),
      s"corpus hash index broadcast in:\n$plan")
    assert(plan.contains("LeftAnti"), s"no anti join in:\n$plan")
  }

  test("multimodal decode stub stays a Column tree, no ExistingRDD scan") {
    val media = graft.operators.Multimodal.fromText(
      Tables.documents(spark, sf), "doc_id", "text", "source")
    val plan = planOf(graft.operators.Multimodal.fakeDecodeFeatures(media))
    assert(!plan.contains("ExistingRDD"),
      s"decode stub dropped out of the declarative plan:\n$plan")
    assert(!plan.contains("DeserializeToObject"),
      s"decode stub forces object serialization:\n$plan")
  }

  test("incremental components never shuffle the corpus label frame") {
    import graft.operators.Dedup
    // a "corpus" of labels with a small increment: the relabel join must
    // broadcast the increment-sized mapping against a plain label scan —
    // a sort-merge/shuffled-hash join here would hash-partition the whole
    // corpus to apply a bounded increment
    val labels = Tables.documents(spark, sf)
      .select(col("doc_id").as("id"), (col("doc_id") % 10).as("comp"))
    val inc = { import spark.implicits._; Seq((1L, 2L), (3L, 500L)).toDF("id_a", "id_b") }
    val plan = planOf(Dedup.componentsIncrement(labels, inc))
    assert(!plan.contains("SortMergeJoin"),
      s"corpus labels sort-merge joined for an increment:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"increment mapping not broadcast:\n$plan")
  }

  test("vocab top-k is a partial agg + TakeOrdered, never a vocabulary sort") {
    val plan = planOf(graft.operators.TermWeights.ngramTopK(
      Tables.documents(spark, sf), "text", n = 2, k = 50))
    // global top-k must compile to TakeOrderedAndProject (per-partition
    // k-row heaps -> driver merge of k rows), not a global Sort: sorting
    // the whole n-gram vocabulary shuffles corpus-scaled rows for k outputs
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k not TakeOrdered:\n$plan")
    assert(!"(?m)^\\s*\\+?-?\\s*Sort ".r.findAllIn(plan).hasNext,
      s"vocabulary globally sorted:\n$plan")
    // the count must partial-aggregate map-side before its one shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation before the n-gram shuffle:\n$plan")
  }

  test("temperature mixture broadcasts rates; the corpus is never windowed or shuffled") {
    val plan = planOf(graft.operators.Sampling.temperatureSample(
      Tables.documents(spark, sf), col("doc_id"), "source", temperature = 2.0))
    // the per-source rate frame joins back by BROADCAST (it is |sources|
    // rows); a shuffle join here would hash-partition the whole corpus to
    // attach one double per row
    assert(plan.contains("BroadcastHashJoin"),
      s"rate join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus shuffled to pick up rates:\n$plan")
    // the normalizing max is a 1-row broadcast scalar, not a window over
    // the source key
    assert(!plan.contains("Window"),
      s"rate normalizer computed by window:\n$plan")
  }

  test("two-stage rerank broadcasts candidates onto one raw-store scan") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val idx = Similarity.sharedIvf(emb, corpusKey = "plan-rerank", nLists = 16)
    val plan = planOf(Similarity.searchIvfRerank(
      Similarity.quantizeIvf(idx), emb, emb.filter(col("vec_id") < 4),
      k = 5, kCandidates = 10, nProbe = 16))
    // the candidate and query frames broadcast onto the corpus scan — the
    // full-precision store must never be shuffled for a rerank
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"rerank joins not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"raw store shuffled for rerank:\n$plan")
  }

  test("LM scoring broadcasts the model; the corpus shuffles only for the doc sum") {
    import graft.operators.LanguageModel
    val docs = Tables.documents(spark, sf)
    val lm = LanguageModel.trainBigramLm(docs, "doc_id", "text",
      vocabCap = 64, bigramCap = 256)
    val plan = planOf(LanguageModel.perplexity(docs, "doc_id", "text", lm))
    // vocab membership (x2 in the norm stream) + bigram + two unigram
    // lookups are all cap-bounded broadcasts; a shuffle join here would
    // hash-partition every token row to look up megabyte-scale tables
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 5,
      s"model lookups not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"token stream shuffled for a model lookup:\n$plan")
    // the per-doc sum partial-aggregates map-side before its one shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation before the doc shuffle:\n$plan")
  }

  test("DSIR weights broadcast the bucket model; selection is TakeOrdered") {
    import graft.operators.Importance
    val docs = Tables.documents(spark, sf)
    val target = docs.filter(col("source") === "src0")
    val wPlan = planOf(Importance.importanceWeights(docs, target, "doc_id", "text"))
    assert(wPlan.contains("BroadcastHashJoin"),
      s"bucket model not broadcast:\n$wPlan")
    assert(!wPlan.contains("SortMergeJoin"),
      s"token stream shuffled against the bucket model:\n$wPlan")
    val sPlan = planOf(Importance.resampleTopK(docs, target, "doc_id", "text", k = 10))
    // Gumbel top-k must be per-partition heaps, never a global sort of the
    // scored corpus
    assert(sPlan.contains("TakeOrderedAndProject"),
      s"resample not TakeOrdered:\n$sPlan")
  }

  test("BPE word counts partial-aggregate and TakeOrdered, never sort the vocab") {
    val plan = planOf(graft.operators.Bpe.wordCounts(
      Tables.documents(spark, sf), "doc_id", "text", wordCap = 1000))
    assert(plan.contains("TakeOrderedAndProject"),
      s"word cap not TakeOrdered:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation before the word shuffle:\n$plan")
  }

  test("NB scoring broadcasts the model; the back-join stays shuffle_hash") {
    import graft.operators.QualityClassifier
    val docs = Tables.documents(spark, sf)
    val m = QualityClassifier.train(
      docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", buckets = 256)
    val plan = planOf(QualityClassifier.score(docs, "doc_id", "text", m))
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket model not broadcast:\n$plan")
    // the token stream must never shuffle against the model; the one
    // corpus-x-corpus join (docs back onto per-doc scores) is pinned
    // shuffle_hash so neither corpus-sized side sorts
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-scaled sort-merge join:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"back-join lost its shuffle_hash pin:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation before the doc shuffle:\n$plan")
  }

  test("bloom probe is k broadcast joins; the increment is never shuffled") {
    import graft.operators.Bloom
    val docs = Tables.documents(spark, sf)
    val filter = Bloom.build(
      docs.select(md5(col("text")).as("key")), col("key"), 1 << 14, 5)
    val plan = planOf(Bloom.mightContain(
      docs.select(col("doc_id"), md5(col("text")).as("key")),
      col("key"), filter, 1 << 14, 5, "hit"))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 5,
      s"bloom lookups not broadcast:\n$plan")
    // the only exchanges allowed are inside the filter-build subtree (its
    // bit_or groupBy) and the broadcasts themselves — the probe side must
    // ride its scan stage, so no sort-merge or shuffled-hash join anywhere
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"probe side shuffled for a filter lookup:\n$plan")
  }

  test("realizeMixture broadcasts the plan; the corpus is never shuffled") {
    import graft.operators.Sampling
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
    val plan = Seq(("web", 2.5), ("books", 1.0)).toDF("source", "epochs")
    val p = planOf(Sampling.realizeMixture(docs, "source", col("doc_id"), plan))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"plan frame not broadcast:\n$p")
    // replication is explode over a broadcast join in the scan stage: the
    // only exchange allowed is the broadcast of the per-source plan
    assert(!p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
      s"corpus shuffled for the plan join:\n$p")
    assert(p.contains("Generate"), s"no explode stage:\n$p")
  }

  test("ngram decontamination semi-joins fp60 edges; corpus never broadcast") {
    import graft.operators.Decontaminate
    val docs = Tables.documents(spark, sf)
    val bench = docs.filter(col("doc_id") % 20L === 0L)
    val p = planOf(Decontaminate.ngramCollisions(
      docs.filter(col("doc_id") % 20L =!= 0L), bench, "doc_id", "text",
      shingleK = 13))
    assert(p.contains("LeftSemi"), s"no semi-join mark stage:\n$p")
    // the corpus edge frame (token-scaled) must never be a broadcast build
    // side; the bounded benchmark MAY broadcast
    assert(!p.contains("CartesianProduct"), s"cartesian in decontamination:\n$p")
  }

  test("PQ probe decodes via one-row broadcast; the coded store is never built-side") {
    import graft.operators.Similarity
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, sf)
    val cents = Seq((0L, Seq(0.1, 0.2)), (1L, Seq(0.9, 0.8)))
      .toDF("cell", "centroid")
      .select(col("cell"),
        col("centroid").cast("array<double>").as("centroid"))
    val narrowed = emb.select(col("vec_id").as("nbr_id"),
      slice(col("embedding"), 1, 2).cast("array<double>").as("nbr_v"))
    val cb = Seq((0, 0, Seq(0.1, 0.1)), (0, 1, Seq(0.9, 0.9)))
      .toDF("subspace", "code", "codeword")
      .select(col("subspace"), col("code"),
        col("codeword").cast("array<double>").as("codeword"))
    val pq = Similarity.PqCodebooks(1, 2, 2, cb)
    val coded = Similarity.encodePq(
      Similarity.IvfIndex(Similarity.assignCells(narrowed, cents), cents), pq)
    val queries = emb.filter(col("vec_id") < 2)
      .select(col("vec_id"), slice(col("embedding"), 1, 2)
        .cast("array<double>").as("embedding"))
    val p = planOf(Similarity.searchIvfPq(coded, pq, queries, k = 3, nProbe = 1))
    // the nested codebook and the probed query frame are the only broadcast
    // sides; the coded corpus store must stream through the join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"nested codebook not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus-scaled cartesian in PQ probe:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"probe join fell back to a corpus sort:\n$p")
  }

  test("KL drift: everything past the vocab cap is broadcast; no vocab sort-merge") {
    import graft.operators.Diagnostics
    val p = planOf(Diagnostics.unigramKlBySource(
      Tables.documents(spark, sf), "source", "text", vocabSize = 64))
    assert(p.contains("BroadcastExchange"), s"vocab/grid frames not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a vocabulary-scaled join fell back to sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in KL plan:\n$p")
    assert(p.contains("TakeOrdered"), s"vocab cap is not a TakeOrdered:\n$p")
  }

  test("CMS probe joins the broadcast sketch; cells partial-aggregate") {
    import graft.operators.Diagnostics
    val docs = Tables.documents(spark, sf)
    val cells = Diagnostics.cmsCells(docs, "text", depth = 2, width = 64)
    val cand = docs.select(explode(split(lower(col("text")), "\\s+")).as("tok")).distinct()
    val p = planOf(Diagnostics.cmsEstimate(cells, cand, "tok", depth = 2, width = 64))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"sketch not broadcast into the probe:\n$p")
    assert(!p.contains("SortMergeJoin"), s"probe fell back to sort-merge:\n$p")
    // the cell build must partial-aggregate (partial_count before the exchange)
    assert(planOf(cells).contains("partial_count"),
      s"cells not map-side combined:\n${planOf(cells)}")
  }

  test("curriculum windows partition by (bucket, shard), never one corpus partition") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("score"))
    val p = planOf(Sampling.curriculumInterleave(
      docs, col("doc_id"), col("score"), nBuckets = 4, shards = 8))
    val rankWindows = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("row_number")).toSeq
    assert(rankWindows.nonEmpty && rankWindows.forall(_.contains("__shard")),
      s"corpus rank window not sharded:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"thresholds/offsets not broadcast:\n$p")
  }

  test("contrastivePairs: one scan scores both streams; windows stay (query, flag)-keyed") {
    import graft.operators.Similarity
    val s = spark
    import s.implicits._
    val labeled = Seq(
      (0L, Seq(1.0f, 0.0f), 1L), (1L, Seq(0.9f, 0.1f), 1L),
      (2L, Seq(0.0f, 1.0f), 2L))
      .toDF("vec_id", "embedding", "component")
    val p = planOf(Similarity.contrastivePairs(labeled,
      labeled.filter(col("vec_id") === 0L), kNeg = 2))
    assert(!p.contains("CartesianProduct"), s"cartesian in pair scoring:\n$p")
    // the query side is the only broadcast; the rank windows carry the
    // query AND the same/diff flag so neither stream re-windows the other
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    val ws = p.linesIterator.filter(l =>
      l.contains("Window") && l.contains("row_number")).toSeq
    assert(ws.nonEmpty && ws.forall(l =>
      l.contains("query_id") && l.contains("same")),
      s"rank window lost the (query, flag) partition:\n$p")
  }

  test("MMR is one query-keyed shuffle into a per-group kernel — no joins, no unrolled steps") {
    import graft.operators.Similarity
    val s = spark
    import s.implicits._
    val cand = Seq(
      (0L, 1L, 0.9, Seq(1.0f, 0.0f)), (0L, 2L, 0.8, Seq(0.0f, 1.0f)),
      (1L, 3L, 0.7, Seq(1.0f, 1.0f)))
      .toDF("query_id", "nbr_id", "cosine", "nbr_v")
    val p = planOf(Similarity.mmrSelect(cand, k = 3, lambda = 0.7))
    assert(!p.contains("CartesianProduct"), s"cartesian in MMR:\n$p")
    assert(!p.contains("Join"), s"the kernel form must not join at all:\n$p")
    // the greedy loop runs inside MapGroups; exactly one exchange feeds it,
    // keyed on the query — plan depth must not grow with k
    assert(p.contains("MapGroups"), s"expected a flatMapGroups kernel:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.size == 1, s"expected exactly one group-key exchange:\n$p")
  }

  test("blocklist term join broadcasts the list; the corpus is never the build side") {
    import graft.operators.Curation
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    val terms = Seq("slow", "dup", "noise").toDF("term")
    val p = planOf(Curation.blocklistFlags(docs, "doc_id", "text", terms))
    assert(p.contains("BroadcastHashJoin"), s"term join did not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in blocklist:\n$p")
    // the term frame, not the exploded corpus, must be the broadcast side
    val b = p.linesIterator.filter(_.contains("BroadcastExchange")).mkString
    assert(!b.contains("documents"), s"corpus on the broadcast side:\n$p")
  }

  test("RRF fusion plans with no join at all and per-query windows") {
    import graft.operators.Similarity
    val s = spark
    import s.implicits._
    val lex = Seq((0L, 1L, 1)).toDF("query_id", "nbr_id", "rank")
    val vec = Seq((0L, 2L, 1)).toDF("query_id", "nbr_id", "rank")
    val p = planOf(Similarity.rrfFuse(Seq(lex, vec), k = 5))
    assert(!p.contains("Join"), s"fusion introduced a join:\n$p")
    val w = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(w.nonEmpty && w.forall(_.contains("query_id")),
      s"fused rank window lost its query partition:\n$p")
  }

  test("Lloyd refinement: broadcast assignment, partial-agg means, no cartesian") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v"))
    val init = emb.filter(col("nbr_id") < 4)
      .select(col("nbr_id").cast("int").as("cell"),
        col("nbr_v").cast("array<double>").as("centroid"))
    val p = planOf(Similarity.refineCentroids(emb, init, iters = 2))
    assert(!p.contains("CartesianProduct"), s"cartesian in refinement:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid assignment lost its broadcast:\n$p")
    // the per-dimension mean must partial-aggregate (two HashAggregate
    // levels around the (cell,pos) exchange), never window over the corpus
    assert(!p.contains("Window"), s"corpus window in the mean stage:\n$p")
  }

  test("semanticDedup pairs join shuffled on cell, never cartesian") {
    import graft.operators.Dedup
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val s = spark
    import s.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cents = Seq((0L, Seq(0.1, 0.2)), (1L, Seq(0.9, 0.8)))
      .toDF("cell", "centroid")
      .select(col("cell"), col("centroid").cast(ArrayType(DoubleType)).as("centroid"))
    val narrowed = emb.select(col("vec_id"), slice(col("embedding"), 1, 2).as("v"))
    // the operator persists its assignment frame, which hides the pair join
    // inside an InMemoryTableScan — pin the unpersisted pair stage directly
    val pairPlan = planOf(Dedup.semanticPairs(
      Dedup.semanticAssign(narrowed, "vec_id", "v", cents), threshold = 0.9))
    // the only nested-loop join allowed is the broadcast centroid cross
    // join (nLists rows); the corpus-x-corpus pair join must stay a
    // cell-key equi-join on the pinned shuffle_hash strategy
    assert(pairPlan.contains("ShuffledHashJoin"),
      s"cell pair join lost its shuffle_hash pin:\n$pairPlan")
    assert(!pairPlan.contains("CartesianProduct"),
      s"corpus-scaled cartesian product in the pair stage:\n$pairPlan")
    val fullPlan = planOf(Dedup.semanticDedup(
      narrowed, "vec_id", "v", cents, threshold = 0.9))
    assert(!fullPlan.contains("CartesianProduct"),
      s"corpus-scaled cartesian product:\n$fullPlan")
  }

  test("IVF-routed negative mining: probed queries broadcast, corpus never crossed with them") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val labeled = emb.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(7L)).as("component"))
    val index = Similarity.buildIvf(emb, nLists = 4)
    try {
      val p = planOf(Similarity.hardNegativeTopKIvf(index,
        labeled.select("vec_id", "component"),
        labeled.filter(col("vec_id") < 8), k = 5, nProbe = 2))
      // the probed-query frame joins the store as a BROADCAST on cell; the
      // corpus side appears in exactly one cell-keyed broadcast join, never
      // a corpus x query nested loop
      assert(p.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
      // nested-loop joins may only be the (queries x nLists) centroid
      // probe: every one must build its broadcast on the bounded right
      // side (the probe subtree can print twice under AQE, so the shape —
      // not the count — is the invariant)
      val nested = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(nested.forall(_.contains("BuildRight")),
        s"nested-loop join building on the corpus side:\n$p")
    } finally index.assigned.unpersist()
  }

  test("retrieval eval: qrels partial-aggregate; no corpus-shaped window or cartesian") {
    val s = spark
    import s.implicits._
    import graft.operators.RetrievalEval
    val ranking = Seq((0L, 1L, 1L), (0L, 2L, 2L), (1L, 3L, 1L))
      .toDF("query_id", "nbr_id", "rank")
    val qrels = Seq((0L, 1L, 1.0), (1L, 4L, 2.0))
      .toDF("query_id", "doc_id", "rel")
    val p = planOf(RetrievalEval.perQuery(ranking, qrels, k = 10))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pair space must stay an equi-join:\n$p")
    // the ideal-ranking window partitions by query_id (label-bounded groups)
    assert(p.contains("partial"), s"aggregates must partial-combine:\n$p")
  }

  test("unimax plan: one corpus aggregation, windows only over the sources-bounded frame") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("n_toks"))
    val p = planOf(Sampling.unimaxPlan(docs, "source", col("n_toks"),
      budgetTokens = 10000L, maxEpochs = 2.0))
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the corpus contributes exactly one hash aggregate (partial+final on
    // source); everything downstream operates on the sources-bounded frame
    assert(p.contains("partial_count") || p.contains("partial"),
      s"corpus count must partial-aggregate:\n$p")
  }

  test("filtered ANN keeps the predicate in the scan side of the rank window") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val index = Similarity.buildIvf(emb, nLists = 4)
    try {
      val p = planOf(Similarity.searchIvfFiltered(index,
        emb.select("vec_id", "label"), emb.filter(col("vec_id") < 4),
        k = 5, nProbe = 4, pred = col("label") < 5))
      // the predicate must run BEFORE the window (pre-filter semantics):
      // the Filter on label sits under the rank window, not above it
      val lines = p.linesIterator.toSeq
      val winIdx = lines.indexWhere(_.contains("Window"))
      val predIdx = lines.indexWhere(l => l.contains("label") && l.contains("Filter"))
      assert(winIdx >= 0 && predIdx > winIdx,
        s"label filter must be below the rank window (win@$winIdx, pred@$predIdx):\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    } finally index.assigned.unpersist()
  }

  test("PQ-filtered ANN: predicate below the rank window, codebooks broadcast, no cartesian on data") {
    val emb = Tables.embeddings(spark, sf)
    val index = Similarity.buildIvf(emb, nLists = 4)
    val pq = PqTraining.trainPq(emb, m = 16, nCodes = 16, seed = 3L)
    try {
      val p = planOf(Similarity.searchIvfPqFiltered(
        Similarity.encodePq(index, pq), pq,
        emb.select("vec_id", "label"), emb.filter(col("vec_id") < 4),
        k = 5, nProbe = 4, pred = col("label") < 5))
      // pre-filter semantics survive the coded store: the label Filter
      // sits under the rank window
      val lines = p.linesIterator.toSeq
      val winIdx = lines.indexWhere(_.contains("Window"))
      val predIdx = lines.indexWhere(l => l.contains("label") && l.contains("Filter"))
      assert(winIdx >= 0 && predIdx > winIdx,
        s"label filter must be below the rank window (win@$winIdx, pred@$predIdx):\n$p")
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
      // the codebook nest rides a one-row broadcast, never a shuffled join
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")
        || p.contains("BroadcastNestedLoopJoin"),
        s"codebooks not broadcast:\n$p")
    } finally index.assigned.unpersist()
  }

  test("WET export is exactly one shuffle; the parse side adds none") {
    import graft.sources.Warc
    val docs = Tables.documents(spark, sf).select("source", "doc_id", "text")
    def exchanges(p: String): Int =
      p.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange"))
    // file assembly: the single shuffle is the (source, segment) group —
    // the delivery unit; everything else is scan-stage
    val files = Warc.wetExport(docs, gzipped = true, segments = 2)
    val pBuild = planOf(files)
    assert(exchanges(pBuild) == 1,
      s"wetExport must shuffle exactly once:\n$pBuild")
    // container parse: a partition-local generator over the file rows —
    // records never shuffle (no NEW exchange above the build's one)
    val pParse = planOf(Warc.wetRecords(files))
    assert(exchanges(pParse) == 1,
      s"wetRecords must add no shuffle:\n$pParse")
  }

  test("WDS shard export is exactly one shuffle; the sample parse adds none") {
    import graft.sources.Tar
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"),
        col("text").cast("binary").as("payload"))
    def exchanges(p: String): Int =
      p.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("BroadcastExchange"))
    // shard assembly: the single shuffle is the hash-shard group — the
    // delivery unit; everything else is scan-stage
    val files = Tar.wdsExport(docs, shards = 2)
    val pBuild = planOf(files)
    assert(exchanges(pBuild) == 1,
      s"wdsExport must shuffle exactly once:\n$pBuild")
    // container parse: a partition-local generator — samples never
    // shuffle (no NEW exchange above the build's one)
    val pParse = planOf(Tar.wdsSamples(files))
    assert(exchanges(pParse) == 1,
      s"wdsSamples must add no shuffle:\n$pParse")
  }

  test("fuzzy join is a length-band equi-join: no cartesian, no nested loop") {
    import graft.operators.FuzzyJoin
    val keyed = Tables.documents(spark, sf).select(col("doc_id"),
      substring(col("text"), 1, 10).as("fkey"))
    val p = planOf(FuzzyJoin.join(
      keyed.filter(col("doc_id") < 30), keyed, "doc_id", "fkey", 2))
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // the levenshtein confirm runs as a post-join filter, not a join
    // condition evaluated by a nested loop
    assert(p.contains("levenshtein"), s"no levenshtein stage:\n$p")
  }

  test("readability scoring stays one scan stage: no shuffle, pruned read") {
    import graft.functions.TextFunctions
    val p = planOf(Tables.documents(spark, sf).select(col("doc_id"),
      TextFunctions.fleschReadingEase(col("text")).as("fre"),
      TextFunctions.fkGradeLevel(col("text")).as("fk")))
    assert(!p.contains("Exchange"), s"readability must not shuffle:\n$p")
    // only the two consumed columns reach the parquet scan
    assert(p.contains("ReadSchema") &&
      p.linesIterator.exists(l => l.contains("ReadSchema") &&
        l.contains("doc_id") && l.contains("text") && !l.contains("source")),
      s"scan must prune to (doc_id, text):\n$p")
  }

  test("pageRank iteration: rank-side equi-joins only, no cartesian, no corpus window") {
    import graft.operators.LinkGraph
    val edges = Tables.documents(spark, sf).select(
      concat(lit("d"), (col("doc_id") % 20).cast("string")).as("src"),
      concat(lit("d"), (col("doc_id") % 7).cast("string")).as("dst"))
    val ranks = LinkGraph.pageRank(edges, iters = 2)
    try {
      val p = planOf(ranks)
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
      // production inflow mode is a partial aggregation (map-side combine),
      // never a Window over collected contribution lists
      assert(!p.contains("Window"), s"no window belongs in the rank loop:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("binary AUC/AP metrics: sharded cumsums, broadcast reassembly, no corpus window") {
    import graft.operators.ClassifierEval
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        (length(col("text")) % 97).cast("double").as("v"),
        (col("doc_id") % 3 === 0).as("y"))
    val p = planOf(ClassifierEval.binaryMetricsBy(docs, "source", col("v"), col("y")))
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
    // offsets and totals re-attach as broadcasts, never a shuffled join
    assert(p.contains("BroadcastHashJoin"), s"reassembly must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no shuffled join belongs here:\n$p")
    // every window partitions by (or orders over) the shard column — no
    // window ever spans a whole group's distinct-score frame unsharded
    val unsharded = p.linesIterator
      .filter(l => l.contains("windowspecdefinition") && !l.contains("__shard"))
      .toSeq
    assert(unsharded.isEmpty, s"unsharded window(s):\n${unsharded.mkString("\n")}")
  }

  test("chat prep: conv-keyed shuffles only, partial aggs, no unpartitioned window") {
    import graft.operators.Chat
    val turns = graft.queries.ChatQueries.chatTurns(spark, sf)
    for (df <- Seq(Chat.validate(turns), Chat.render(turns),
        Chat.lossMaskSpans(turns), Chat.promptGroups(turns))) {
      val p = planOf(df)
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop:\n$p")
      // every window partitions by conv_id — none spans the corpus
      val bad = p.linesIterator.filter(l =>
        l.contains("windowspecdefinition") && !l.contains("conv_id")).toSeq
      assert(bad.isEmpty, s"window not keyed by conv_id:\n${bad.mkString("\n")}")
    }
    // render's collect_list aggregates partially before its one shuffle
    val rp = planOf(Chat.render(turns))
    assert("ObjectHashAggregate".r.findAllIn(rp).size >= 2 ||
      "SortAggregate".r.findAllIn(rp).size >= 2, s"no partial agg:\n$rp")
  }

  test("geo nearestK: stations broadcast onto the point scan; top-k agg partial") {
    import graft.operators.GeoJoin
    val s = spark
    import s.implicits._
    val pts = Tables.customer(spark, sf).select(col("c_custkey").as("id"),
      (col("c_custkey") % 40 * 0.5).as("lat"), (col("c_custkey") % 30 * 0.9).as("lon"))
    val st = Seq(("a", 0.0, 1.0), ("b", 1.0, 0.0)).toDF("name", "lat", "lon")
    val p = planOf(GeoJoin.nearestK(pts, "id", st, k = 3))
    // the cross join must realize as a broadcast nested loop BUILDING the
    // station side, never shuffling or building on the point corpus
    val nested = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(nested.nonEmpty && nested.forall(_.contains("BuildRight")),
      s"station dim not broadcast-built:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"points shuffled for a dimension lookup:\n$p")
    // per-point top-k combines map-side (partial + final object hash agg)
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, s"no partial top-k agg:\n$p")
    assert(!p.contains("Window"), s"no window belongs in the top-k path:\n$p")
  }

  test("triangles: equi-joins only — no cartesian, no corpus-side nested loop") {
    import graft.operators.LinkGraph
    val edges = Tables.documents(spark, sf).select(
      concat(lit("n"), (col("doc_id") % 13).cast("string")).as("src"),
      concat(lit("n"), (col("doc_id") % 7).cast("string")).as("dst"))
    try {
      val p = planOf(LinkGraph.triangles(edges))
      assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"wedge closure must stay an equi-join:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("selectiveTokens: models broadcast; the only sort-merge work is doc-keyed") {
    import graft.operators.{LanguageModel, Sampling}
    val docs = Tables.documents(spark, sf)
    val p = planOf(LanguageModel.selectiveTokens(docs, "doc_id", "text",
      targetRef = docs.filter(col("source").isin("src0", "src1", "src2")),
      generalRef = docs.filter(
        Sampling.split(col("doc_id"), 80, 10, salt = ":lm1") === "train"),
      vocabCap = 64, bigramCap = 256, keepFrac = 0.3))
    // all model lookups (vocab/unigram/bigram per scorer) ride broadcast
    // joins — the token-keyed exchanges in the plan belong to model
    // TRAINING (cap-bounded partial aggs), never to scoring; the scored
    // corpus only windows per document
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"model lookup degenerated to a nested loop:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 6,
      s"model lookups not broadcast:\n$p")
    val badWin = "windowspecdefinition\\((?!doc_id)".r.findAllIn(p).toList
    assert(badWin.isEmpty, s"window on a non-doc key: $badWin\n$p")
  }

  test("syntheticScreen is pure scan stage: zero exchanges, zero joins") {
    import graft.operators.Curation
    val p = planOf(Curation.syntheticScreen(
      Tables.documents(spark, sf), "text"))
    assert(!p.contains("Exchange") && !p.contains("Join") &&
      !p.contains("Window"), s"screen must stay scan-stage:\n$p")
  }

  test("bestOfN is one partial-agged prompt-keyed aggregation, no window") {
    import graft.operators.Preference
    val cands = Tables.documents(spark, sf).select(
      (col("doc_id") % 50).as("prompt"), col("doc_id").as("cand_id"),
      col("source"), (col("doc_id") % 10).cast("double").as("quality"))
    val p = planOf(Preference.bestOfN(cands, "prompt", "cand_id", "quality",
      minScore = 0.5, carry = Seq("source")))
    assert(!p.contains("Window"), s"winner pick must not window:\n$p")
    // max_by's struct ordering compiles to a SortAggregate — what matters
    // is that it combines MAP-SIDE before the one prompt-keyed exchange
    assert(p.contains("partial_max_by"), s"group agg not partial:\n$p")
    assert("hashpartitioning\\(prompt".r.findAllIn(p).nonEmpty,
      s"aggregation must shuffle on prompt:\n$p")
  }

  test("retention cohorts: activity distinct-aggregates before the user join") {
    import graft.operators.Sessionize
    val p = planOf(Sessionize.retentionCohorts(Tables.events(spark, sf),
      "user_id", "ts",
      col("event_type") === "purchase", col("event_type") === "purchase"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"matrix must build from equi-joins:\n$p")
    // the (user, week) distinct and the per-user min are partial aggs: at
    // least 4 HashAggregate nodes (partial+final for each)
    assert("HashAggregate".r.findAllIn(p).size >= 4, s"aggs not partial:\n$p")
  }
}
