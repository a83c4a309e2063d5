package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Parallelism
import graft.functions.TextFunctions

/** Corpus-level diagnostics a mixture designer reads before committing a
  * 100 TB training run: per-source distribution drift (KL divergence),
  * vocabulary shape (Zipf slope), sketch-based heavy hitters (Count-Min),
  * and duplicate-cluster structure.
  *
  * Scale discipline shared by every operator here:
  *  - token statistics are ONE explode + partial-agg groupBy — the corpus is
  *    scanned once and only (token, count) partial states shuffle;
  *  - everything downstream of the vocabulary cap is bounded by `vocabSize`
  *    (or depth×width for the sketch), so the analysis joins are broadcasts
  *    of fixed-size frames against bounded tables, never corpus shuffles;
  *  - double arithmetic that feeds an aggregate is rounded to 9 decimals and
  *    summed as decimal(28,9), so results are partition-order-independent
  *    and bit-identical to a single-threaded oracle (`ln` is the only
  *    transcendental — same IEEE libm contract as the BM25/perplexity ops).
  */
object Diagnostics {

  /** Corpus unigram counts: (tok, cnt). One explode, partial-agg combine. */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))

  /** Top-`v` vocabulary by (count desc, token) — the bounded frame every
    * downstream diagnostic joins against. Global top-k plans as
    * TakeOrderedAndProject: the vocabulary is never fully sorted. */
  def topVocab(counts: DataFrame, v: Int): DataFrame =
    counts.orderBy(col("cnt").desc, col("tok")).limit(v)

  /** Distinct-n diversity per source: total positional n-grams, distinct
    * n-grams, and their ratio — the distinct-n metric ("how much of this
    * source is self-repetition at phrase granularity"). A boilerplate-heavy
    * or template-generated source scores low; diverse prose scores near 1.
    * Complements the WITHIN-document repetition stats: a source whose
    * documents are individually clean but mutually templated only shows up
    * at corpus granularity.
    *
    * Shape: one explode of positional n-grams (short docs collapse to one
    * whole-text shingle, the [[graft.functions.TextFunctions.shingles]]
    * contract), fingerprinted to longs before the (source, fp) partial-agg
    * groupBy; the distinct count folds from that bounded-per-key frame with
    * a second partial agg — the n-gram STRINGS never shuffle, and no
    * count-distinct expansion touches the corpus twice. */
  def distinctNgramRatio(docs: DataFrame, sourceCol: String, textCol: String,
                         n: Int): DataFrame = {
    // fanOut raw text, shingle post-exchange (single-task scan otherwise)
    val e = Parallelism.fanOut(
        docs.select(col(sourceCol).as("source"), col(textCol)))
      .select(col("source"),
        explode(TextFunctions.shingles(col(textCol), n)).as("__tok"))
      .select(col("source"), Dedup.tokenFp60(col("__tok")).as("fp"))
    e.groupBy("source", "fp").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_ngrams"), count(lit(1)).as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_ngrams"), 6))
  }

  /** Corpus SNAPSHOT DIFF: classify every document id across two corpus
    * versions as added / removed / modified / retained (by content hash) —
    * the dataset-versioning report a pipeline emits between dump refreshes
    * ("what did the new crawl actually change?") and the audit trail a
    * training-data freeze needs. `source` is taken from the NEW side where
    * the id survives, the old side where it was removed.
    *
    * Shape: each side reduces to (id, md5, source) in its scan stage; one
    * full-outer equi-join on the id (both sides corpus-scaled — a sort-
    * merge/shuffle join on the join key is the correct plan and the only
    * shuffle); the verdict is a scan-stage CASE. Output is one row per id —
    * aggregate downstream (the gate rolls up per (status, source)). */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String, sourceCol: String): DataFrame = {
    val a = oldDocs.select(col(idCol).as("id"),
      md5(col(textCol)).as("__h_old"), col(sourceCol).as("__src_old"))
    val b = newDocs.select(col(idCol).as("id"),
      md5(col(textCol)).as("__h_new"), col(sourceCol).as("__src_new"))
    a.join(b, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("__h_old").isNull, "added")
          .when(col("__h_new").isNull, "removed")
          .when(col("__h_old") =!= col("__h_new"), "modified")
          .otherwise("retained"))
      .withColumn("source", coalesce(col("__src_new"), col("__src_old")))
      .select(col("id"), col("status"), col("source"))
  }

  /** Per-source unigram KL divergence KL(source ‖ corpus) in nats over the
    * top-`vocabSize` corpus vocabulary plus a lumped out-of-vocabulary
    * bucket, with add-one smoothing — the standard drift measure for "which
    * source is least like the mixture" when designing data mixtures.
    *
    * Output: (source, n_tokens, oov_tokens, kl_nats) ordered by source.
    *
    * Shape: per-(source, token) counts partial-agg once; corpus counts fold
    * from them (no second scan); the (sources × vocab) grid is bounded
    * (|sources| is a dimension, vocab is capped) so the scoring join is a
    * broadcast and the corpus itself never reshuffles. */
  def unigramKlBySource(docs: DataFrame, sourceCol: String, textCol: String,
                        vocabSize: Int): DataFrame = {
    val srcCounts = docs
      .select(col(sourceCol).as("source"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val corpusCounts = srcCounts.groupBy("tok").agg(sum("cnt").as("qcnt"))
    val vocab = corpusCounts.orderBy(col("qcnt").desc, col("tok")).limit(vocabSize)

    val srcTotals = srcCounts.groupBy("source").agg(sum("cnt").as("total"))
    // corpus-side scalars: total tokens, in-vocab tokens, realized vocab size
    val corpusTotals = srcTotals.agg(sum("total").as("q_total"))
      .crossJoin(vocab.agg(sum("qcnt").as("q_invocab"),
        count(lit(1)).as("v_n")))

    // restrict per-source counts to the vocab FIRST (broadcast semi on the
    // V-bounded token set, scan-stage) so the grid's left join has a
    // (sources × V)-bounded build side — left-joining the full counts frame
    // would sort-merge a vocabulary-scaled table at corpus scale
    val srcInV = srcCounts.join(broadcast(vocab.select("tok")), Seq("tok"), "left_semi")
    val grid = srcTotals.crossJoin(broadcast(vocab))
      .join(broadcast(srcInV), Seq("source", "tok"), "left")
      .withColumn("c", coalesce(col("cnt"), lit(0L)))
    val srcInVocab = grid.groupBy("source")
      .agg(sum("c").as("invocab"), first("total").as("total"))
      .withColumn("oov", col("total") - col("invocab"))

    // V vocab entries per source plus one lumped OOV entry per source
    val entries = grid.select(col("source"), col("total"), col("c"), col("qcnt"))
      .unionByName(srcInVocab.crossJoin(corpusTotals)
        .select(col("source"), col("total"), col("oov").as("c"),
          (col("q_total") - col("q_invocab")).as("qcnt")))

    val scored = entries.crossJoin(broadcast(corpusTotals.select("q_total", "v_n")))
      .withColumn("p", (col("c") + lit(1)).cast("double")
        / (col("total") + col("v_n") + lit(1)).cast("double"))
      .withColumn("q", (col("qcnt") + lit(1)).cast("double")
        / (col("q_total") + col("v_n") + lit(1)).cast("double"))
      .withColumn("term",
        round(col("p") * log(col("p") / col("q")), 9).cast("decimal(28,9)"))

    scored.groupBy("source")
      .agg(first("total").as("n_tokens"),
        round(sum("term").cast("double"), 6).as("kl_nats"))
      .join(broadcast(srcInVocab.select(col("source"), col("oov").as("oov_tokens"))),
        Seq("source"))
      .select(col("source"), col("n_tokens"), col("oov_tokens"), col("kl_nats"))
      .orderBy("source")
  }

  /** Zipf rank-frequency slope over the top-`vocabSize` vocabulary: the OLS
    * slope/intercept of ln(count) on ln(rank). A healthy natural-language
    * corpus reads ≈ −1; a pile of templated boilerplate reads much shallower
    * — a one-row corpus health check.
    *
    * Output: one row (n_terms, slope, intercept).
    *
    * The regression runs entirely on the `vocabSize`-bounded top frame (the
    * single-partition rank window is over ≤ vocabSize rows, never the
    * corpus); per-row regression terms are rounded to 9 decimals and summed
    * as decimals, then the closed-form OLS arithmetic runs on the exact sums
    * in one fixed order on both engines. */
  def zipfSlope(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame = {
    val ranked = topVocab(tokenCounts(docs, textCol), vocabSize)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
    val terms = ranked
      .withColumn("x", round(log(col("rank").cast("double")), 9))
      .withColumn("y", round(log(col("cnt").cast("double")), 9))
      .select(
        col("x").cast("decimal(28,9)").as("xd"),
        col("y").cast("decimal(28,9)").as("yd"),
        round(col("x") * col("y"), 9).cast("decimal(28,9)").as("xyd"),
        round(col("x") * col("x"), 9).cast("decimal(28,9)").as("x2d"))
    terms.agg(
        count(lit(1)).as("n_terms"),
        sum("xd").cast("double").as("sx"),
        sum("yd").cast("double").as("sy"),
        sum("xyd").cast("double").as("sxy"),
        sum("x2d").cast("double").as("sx2"))
      .select(col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          / (col("n_terms") * col("sx2") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n_terms") * col("sxy") - col("sx") * col("sy"))
          / (col("n_terms") * col("sx2") - col("sx") * col("sx")) * col("sx"))
          / col("n_terms"), 6).as("intercept"))
  }

  /** CMS cell position of `tok` for sketch row `r`: the shared md5-fp60
    * keyed with a per-row salt, mod `width`. Integer end to end, so the
    * sketch is exactly reproducible by any engine mirroring the hash. */
  private def cmsCol(tok: Column, r: Int, width: Int): Column =
    pmod(Dedup.tokenFp60(concat(tok, lit(s":cms$r"))), lit(width.toLong))

  /** Count-Min sketch of the corpus unigram stream: `depth`×`width` integer
    * counters, built as ONE partial-agg groupBy over (row, col) cell keys —
    * the sketch is mergeable across partitions/shards by construction (cell
    * counts add), which is the whole point at 100 TB: each executor folds
    * its split into ≤ depth×width partial cells and only those merge. */
  def cmsCells(docs: DataFrame, textCol: String,
               depth: Int, width: Int): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(explode(array((0 until depth).map(r =>
        struct(lit(r).as("r"), cmsCol(col("tok"), r, width).as("c"))): _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cell_cnt"))

  /** Point-estimate `candidates`' counts from a CMS: probe each candidate's
    * `depth` cells against the BROADCAST sketch (bounded at depth×width
    * rows) and take the row-wise minimum — the classic min-of-counters
    * estimate, an overestimate by construction (collisions only add). */
  def cmsEstimate(cells: DataFrame, candidates: DataFrame, tokCol: String,
                  depth: Int, width: Int): DataFrame =
    candidates
      .select(col(tokCol).as("tok"),
        explode(array((0 until depth).map(r =>
          struct(lit(r).as("r"), cmsCol(col(tokCol), r, width).as("c"))): _*)).as("rc"))
      .select(col("tok"), col("rc.r").as("r"), col("rc.c").as("c"))
      .join(broadcast(cells), Seq("r", "c"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cell_cnt"), lit(0L))).as("est_cnt"))

  /** Sketch-vs-truth heavy-hitter report: top-`k` corpus tokens by CMS
    * estimate, with the exact count beside the estimate (est ≥ exact always;
    * equality whenever the token's cells are collision-free). The exact side
    * is the audit column — the sketch alone is what ships at scale, where
    * the candidate set comes from per-shard pre-aggregation, not a full
    * vocabulary scan.
    *
    * `exact` roots TWO branches (the probe candidates and the audit join),
    * so it is persisted, MATERIALIZED, and pinned into the caller's
    * [[graft.core.CacheScope]] — unpinned, each branch re-tokenizes and
    * re-aggregates the whole corpus (the r14 verdict measured the gate at
    * ~3× its pinned cost). The corpus is therefore tokenized exactly twice
    * per call: once for the sketch cells, once for the truth counts —
    * never three times. The pinned frame is vocab-bounded, not
    * corpus-bounded. */
  def cmsTopK(docs: DataFrame, textCol: String,
              depth: Int, width: Int, k: Int,
              scope: graft.core.CacheScope.Handle =
                graft.core.CacheScope.detached): DataFrame = {
    val exact = scope.pin(tokenCounts(docs, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    exact.count() // materialize before the two consumers race to build it
    val cells = cmsCells(docs, textCol, depth, width)
    cmsEstimate(cells, exact.select("tok"), "tok", depth, width)
      .join(exact, Seq("tok"))
      .select(col("tok"), col("est_cnt"), col("cnt").as("exact_cnt"))
      .orderBy(col("est_cnt").desc, col("tok"))
      .limit(k)
  }

  /** Reference unigram "surprise" model for drift monitoring: a
    * broadcastable (tok, lnq) table over the top-`vocabSize` reference
    * vocabulary (add-one smoothed, 9-decimal-rounded log-probs) plus the
    * lumped OOV log-prob and the model scalars. Feeding a stream's tokens
    * through it yields the cross-entropy of live data against the
    * reference distribution — rising avg-NLL or OOV rate = the feed
    * drifted. Two single-row metadata scalars are read on the driver
    * (the [[graft.operators.LanguageModel.trainBigramLm]] precedent);
    * everything else stays distributed and cap-bounded. */
  case class SurpriseModel(lnq: DataFrame, lnqOov: Double,
                           vocabTypes: Long, totalTokens: Long)

  def surpriseModel(reference: DataFrame, textCol: String,
                    vocabSize: Int): SurpriseModel = {
    val counts = tokenCounts(reference, textCol)
    val vocab = topVocab(counts, vocabSize)
    val tot = Option(counts.agg(sum("cnt")).head.get(0)).fold(0L)(_.asInstanceOf[Long])
    val vRow = vocab.agg(count(lit(1)), coalesce(sum("cnt"), lit(0L))).head
    val (vn, inMass) = (vRow.getLong(0), vRow.getLong(1))
    val denom = (tot + vn + 1).toDouble
    val lnq = vocab.select(col("tok"),
      round(log((col("cnt") + 1).cast("double") / lit(denom)), 9).as("lnq"))
    val lnqOov = BigDecimal(math.log((tot - inMass + 1).toDouble / denom))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    SurpriseModel(lnq, lnqOov, vn, tot)
  }

  /** Shared scoring stream for the drift monitor: one token per row with
    * its rounded reference log-prob (decimal) and OOV flag — a scan-stage
    * broadcast lookup, reused by the batch scorer and the streaming twin. */
  private[graft] def surpriseTokens(docs: DataFrame, textCol: String,
                                    model: SurpriseModel,
                                    extra: Seq[String]): DataFrame =
    docs.select(extra.map(col) :+
        explode(TextFunctions.tokens(col(textCol))).as("tok"): _*)
      .join(broadcast(model.lnq), Seq("tok"), "left")
      .select(extra.map(col) ++ Seq(
        col("lnq").isNull.as("is_oov"),
        coalesce(col("lnq"), lit(model.lnqOov))
          .cast("decimal(28,9)").as("lp")): _*)

  /** Aggregates for one drift-monitor group: token count, OOV rate, and
    * avg negative log-likelihood vs the reference (cross-entropy, nats). */
  private[graft] def surpriseAggs: Seq[Column] = Seq(
    count(lit(1)).as("n_tokens"),
    round(sum(when(col("is_oov"), 1L).otherwise(0L)).cast("double")
      / count(lit(1)), 6).as("oov_rate"),
    round(-(sum(col("lp")).cast("double")) / count(lit(1)), 6).as("avg_nll"))

  /** Batch drift report: per-source cross-entropy + OOV rate against a
    * reference [[SurpriseModel]]. */
  def surpriseBySource(docs: DataFrame, sourceCol: String, textCol: String,
                       model: SurpriseModel): DataFrame =
    surpriseTokens(docs.withColumnRenamed(sourceCol, "source"), textCol,
        model, Seq("source"))
      .groupBy("source")
      .agg(surpriseAggs.head, surpriseAggs.tail: _*)
      .orderBy("source")

  /** Per-source embedding-centroid drift vs the corpus centroid — the
    * SEMANTIC sibling of [[unigramKlBySource]]: cosine between each
    * source's mean embedding and the global mean. Low cosine = the source
    * occupies a different region of embedding space than the mixture.
    *
    * Output: (source, n_vecs, cos_centroid, drift = 1 − cos) by source.
    *
    * Scale shape: one posexplode of the joined (source, vector) frame into
    * (source, dim) partial-agg decimal sums — the corpus is scanned once
    * and only (sources × dims) cells shuffle; the global centroid FOLDS
    * from the per-source cells (no second scan); all double arithmetic
    * downstream runs on the (sources × dims)-bounded frame with
    * 9-decimal-rounded decimal dot/norm sums, so the cosine is bit-exact
    * reproducible (unlike a float `avg`, whose partition order leaks into
    * the low bits). */
  def embeddingDriftBySource(docs: DataFrame, embeddings: DataFrame,
                             sourceCol: String, docIdCol: String,
                             vecIdCol: String, vecCol: String): DataFrame = {
    val joined = docs.select(col(docIdCol).as("__id"), col(sourceCol).as("source"))
      .join(embeddings.select(col(vecIdCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v")), Seq("__id"))
    val cells = joined
      .select(col("source"), posexplode(col("__v")).as(Seq("pos", "x")))
      .select(col("source"), col("pos"),
        round(col("x"), 9).cast("decimal(28,9)").as("xd"))
      .groupBy("source", "pos")
      .agg(sum("xd").as("sx"), count(lit(1)).as("n"))
    val global = cells.groupBy("pos")
      .agg(sum("sx").as("gx"), sum("n").as("gn"))
    val dims = cells.join(global, Seq("pos"))
      .withColumn("mi", col("sx").cast("double") / col("n"))
      .withColumn("gi", col("gx").cast("double") / col("gn"))
      .select(col("source"), col("n"),
        round(col("mi") * col("gi"), 9).cast("decimal(28,9)").as("dotd"),
        round(col("mi") * col("mi"), 9).cast("decimal(28,9)").as("nad"),
        round(col("gi") * col("gi"), 9).cast("decimal(28,9)").as("nbd"))
    dims.groupBy("source")
      .agg(max("n").as("n_vecs"),
        round(sum("dotd").cast("double")
          / (sqrt(sum("nad").cast("double")) * sqrt(sum("nbd").cast("double"))),
          6).as("cos_centroid"))
      .withColumn("drift", round(lit(1.0) - col("cos_centroid"), 6))
      .orderBy("source")
  }

  /** Cross-source duplication matrix: for every pair of sources, how many
    * duplicate PAIRS share a content key — the provenance-overlap report
    * ("how much of source A is already in source B") that decides whether
    * two feeds are worth ingesting separately. `key` is any content key:
    * md5 of the full text for exact dups, a normalized-prefix or shingle
    * fingerprint for near-dup-ish overlap.
    *
    * Output: (source_a ≤ source_b, n_pairs, n_groups) ordered.
    *
    * Scale shape: ONE partial-agg groupBy to (key, source, count), then a
    * per-key self-join whose per-key row count is bounded by |sources| (a
    * dimension) — pair counts come from count PRODUCTS (`ca·cb`, `C(ca,2)`),
    * so a million-copy viral document costs one row per source, never a
    * materialized quadratic pair space. The self-join carries the dedup
    * family's shuffle_hash pin (broadcasting a corpus-keyed side is never
    * right at scale). */
  def crossSourceDupMatrix(df: DataFrame, key: Column,
                           sourceCol: String): DataFrame = {
    val counts = df.select(key.as("k"), col(sourceCol).as("source"))
      .groupBy("k", "source").agg(count(lit(1)).as("c"))
    val a = counts.select(col("k"), col("source").as("source_a"), col("c").as("ca"))
    val b = counts.select(col("k"), col("source").as("source_b"), col("c").as("cb"))
    a.join(b.hint("shuffle_hash"), Seq("k"))
      .filter(col("source_a") <= col("source_b"))
      .withColumn("pairs",
        when(col("source_a") === col("source_b"),
          (col("ca") * (col("ca") - 1) / lit(2)).cast("long"))
        .otherwise(col("ca") * col("cb")))
      .filter(col("pairs") > 0)
      .groupBy("source_a", "source_b")
      .agg(sum("pairs").as("n_pairs"), count(lit(1)).as("n_groups"))
      .orderBy("source_a", "source_b")
  }

  /** Duplicate-cluster size histogram from a component labeling
    * (`connectedComponents` output): how much of the dup mass sits in a few
    * giant cliques vs a long tail of pairs — the number that decides whether
    * near-dup removal is worth its cost on a corpus. Partial-agg twice
    * (label → size, size → histogram); nothing here scales past |clusters|.
    *
    * Output: (cluster_size, n_clusters, n_docs) ordered by size. */
  def clusterSizeHistogram(labels: DataFrame, compCol: String = "comp"): DataFrame =
    labels.groupBy(col(compCol))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy("cluster_size")

  /** Pairwise AGREEMENT MATRIX between binary quality filters — the design
    * check before ensembling them ([[graft.operators.Curation.ensembleRank]],
    * majority gates): two filters with near-total agreement are redundant
    * (one's cost buys nothing), near-zero kappa means they measure
    * different things (good ensemble members), and kappa is the right
    * statistic because raw agreement is inflated by imbalance (two filters
    * that both pass 95% of a corpus agree 90%+ by chance alone).
    *
    * `verdicts` are (name, boolean Column) pairs evaluated per document in
    * ONE scan; output one row per unordered pair: the 2×2 contingency
    * (n11, n10, n01, n00), observed agreement `p_o`, chance agreement
    * `p_e` (from the marginals), and Cohen's
    * `kappa = (p_o − p_e) / (1 − p_e)` — null when the pair is degenerate
    * (p_e = 1: both filters constant). Every ratio is a fixed
    * parenthesization over exact counts, so any engine mirrors the values
    * bit for bit.
    *
    * Scale shape: one partial-agg pass computes ALL pairs' cells (k(k−1)/2
    * sums in a single aggregate over the corpus scan); the per-pair
    * arithmetic runs on the resulting ONE-ROW frame. Nothing is shuffled
    * but the aggregate's partials. */
  def filterAgreementMatrix(docs: DataFrame,
                            verdicts: Seq[(String, Column)]): DataFrame = {
    require(verdicts.size >= 2, "need at least two filters to compare")
    val flags = docs.select(verdicts.map { case (n, c) =>
      c.cast("boolean").as(n) }: _*)
    val pairs = for {
      i <- verdicts.indices; j <- (i + 1) until verdicts.size
    } yield (i, j)
    def cell(i: Int, j: Int, a: Boolean, b: Boolean): Column = {
      val (ni, nj) = (verdicts(i)._1, verdicts(j)._1)
      sum(when((if (a) col(ni) else !col(ni)) &&
          (if (b) col(nj) else !col(nj)), lit(1L)).otherwise(lit(0L)))
        .as(s"c_${i}_${j}_${if (a) 1 else 0}${if (b) 1 else 0}")
    }
    val aggCols = count(lit(1)).as("__n") +: pairs.flatMap { case (i, j) =>
      Seq(cell(i, j, true, true), cell(i, j, true, false),
        cell(i, j, false, true), cell(i, j, false, false))
    }
    val g = flags.agg(aggCols.head, aggCols.tail: _*)
    val rows = pairs.map { case (i, j) =>
      val (n11, n10, n01, n00) = (col(s"c_${i}_${j}_11"), col(s"c_${i}_${j}_10"),
        col(s"c_${i}_${j}_01"), col(s"c_${i}_${j}_00"))
      val n = col("__n").cast("double")
      val po = (n11 + n00).cast("double") / n
      val pe = ((n11 + n10).cast("double") / n) * ((n11 + n01).cast("double") / n) +
        ((n01 + n00).cast("double") / n) * ((n10 + n00).cast("double") / n)
      g.select(
        lit(verdicts(i)._1).as("filter_a"), lit(verdicts(j)._1).as("filter_b"),
        n11.as("n11"), n10.as("n10"), n01.as("n01"), n00.as("n00"),
        po.as("p_o"), pe.as("p_e"),
        when(lit(1.0) - pe =!= 0.0, (po - pe) / (lit(1.0) - pe)).as("kappa"))
    }
    rows.reduce(_ unionByName _)
  }

  /** EXACT rank-based quantiles of an integer-valued column — the
    * sequence-length distribution a pipeline reads before picking packing
    * budgets, truncation caps, and batch buckets. The `q`-quantile is the
    * smallest value whose cumulative count reaches `ceil(q·n)` (rank
    * semantics, no interpolation — so the answer is an OBSERVED value and
    * every intermediate is an integer, bit-reproducible on any engine;
    * `percentile_approx`-style sketches trade that away).
    *
    * Scale shape: one shuffle folds the corpus to its distinct-value
    * counts (bounded by the value range — sequence lengths, not documents);
    * cumulative counts use the engine's two-phase sharded-cumsum shape
    * ([[ClassifierEval.binaryMetricsBy]]): percentile shard thresholds
    * over the DISTINCT-VALUE frame (exactness needs only monotone shard
    * ranges), per-shard offsets (shards-bounded), windows only over shard
    * slices — never a corpus-scale partition. Count cells are mergeable
    * (they add), so per-shard partial sketches compose across 100 TB
    * splits. Answer extraction is a broadcast range join of the
    * |qs|-sized target frame against the distinct-value frame.
    *
    * Output: (q, rank_target, value, n) ordered by q. */
  def exactQuantiles(df: DataFrame, value: Column, qs: Seq[Double],
                     shards: Int = 8,
                     scope: graft.core.CacheScope.Handle =
                       graft.core.CacheScope.detached): DataFrame =
    exactQuantilesFromCounts(
      // persisted (lazily): FOUR frames derive from the count fold (shard
      // thresholds, offsets, totals, the sharded cumsums) and each is
      // broadcast separately — unpersisted, every broadcast re-runs the
      // corpus fold. Value-bounded, cache-safe; pinned into `scope` so a
      // long-lived caller can release it after materializing the answer.
      scope.pin(df.select(value.cast("long").as("v")).filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
      qs, shards)

  /** [[exactQuantiles]] over a PRE-FOLDED (v, cnt) distinct-value count
    * frame — the entry point for composed gates that read the length
    * distribution more than once (quantiles + a truncation audit): fold the
    * corpus to counts ONCE, pin the value-bounded result, and feed every
    * consumer from it instead of re-tokenizing per branch. */
  def exactQuantilesFromCounts(c: DataFrame, qs: Seq[Double],
                               shards: Int = 8): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    require(shards > 1, "shards must be > 1")
    import org.apache.spark.sql.expressions.Window
    val spark = c.sparkSession
    import spark.implicits._
    val ths = c.agg(percentile(col("v"), lit(1.0 / shards)).as("__t1"),
      (2 until shards).map(i =>
        percentile(col("v"), lit(i.toDouble / shards)).as(s"__t$i")): _*)
    val shard = (1 until shards)
      .map(i => when(col("v") > col(s"__t$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sharded = c.crossJoin(broadcast(ths))
      .withColumn("__shard", shard)
      .drop((1 until shards).map(i => s"__t$i"): _*)
    val wOff = Window.orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sharded.groupBy("__shard").agg(sum("cnt").as("__scnt"))
      .select(col("__shard"),
        coalesce(sum("__scnt").over(wOff), lit(0L)).as("__off"))
    val wIn = Window.partitionBy("__shard").orderBy("v")
    val cum = sharded.join(broadcast(offs), Seq("__shard"))
      .withColumn("cum", col("__off") + sum("cnt").over(wIn))
    val tot = c.agg(sum("cnt").cast("long").as("n"))
    val targets = qs.toDF("q").crossJoin(broadcast(tot))
      .select(col("q"), ceil(col("q") * col("n")).cast("long").as("rank_target"),
        col("n"))
    cum.join(broadcast(targets), col("cum") >= col("rank_target"))
      .groupBy("q", "rank_target", "n")
      .agg(min("v").as("value"))
      .select(col("q"), col("rank_target"), col("value"), col("n"))
      .orderBy("q")
  }

  /** Population Stability Index between a REFERENCE corpus slice and the
    * CURRENT one over a categorical feature — the between-crawl drift
    * report: has the language / source / quality-bucket mix moved enough
    * that yesterday's filter thresholds and mixture weights no longer
    * describe today's corpus? (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25
    * re-tune — the standard scorecard bands.)
    *
    * Add-one smoothing over the UNION category set keeps every log finite
    * (a category present on one side only is exactly the drift worth
    * flagging, not a division error). Exactness: counts are integers,
    * totals driver scalars off a category-bounded agg, and each term is
    * one fixed IEEE expression — identical on any engine.
    *
    * Scale shape: two map-side-combined count folds (one per slice), one
    * category-bounded full outer join, scan-stage terms — the corpus is
    * read once per slice and nothing corpus-scale shuffles.
    *
    * Output: (cat, n_ref, n_cur, p_ref, p_cur, psi_term) ordered by cat;
    * total PSI = sum(psi_term). */
  def psiByCategory(ref: DataFrame, cur: DataFrame, cat: Column): DataFrame = {
    val r = ref.select(cat.cast("string").as("cat"))
      .filter(col("cat").isNotNull)
      .groupBy("cat").agg(count(lit(1)).as("n_ref"))
    val c = cur.select(cat.cast("string").as("cat"))
      .filter(col("cat").isNotNull)
      .groupBy("cat").agg(count(lit(1)).as("n_cur"))
    val j = r.hint("shuffle_hash").join(c, Seq("cat"), "full")
      .select(col("cat"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = j.agg(sum("n_ref"), sum("n_cur"), count(lit(1))).head
    val nr = Option(t.get(0)).fold(0L)(_.asInstanceOf[Long])
    val nc = Option(t.get(1)).fold(0L)(_.asInstanceOf[Long])
    val k = t.getLong(2)
    val pRef = (col("n_ref").cast("double") + lit(1.0)) /
      lit((nr + k).toDouble)
    val pCur = (col("n_cur").cast("double") + lit(1.0)) /
      lit((nc + k).toDouble)
    j.select(col("cat"), col("n_ref"), col("n_cur"),
        round(pRef, 9).as("p_ref"), round(pCur, 9).as("p_cur"),
        round((pCur - pRef) * log(pCur / pRef), 9).as("psi_term"))
      .orderBy("cat")
  }

  /** Token-MASS quantiles — the context-budget reading of the length
    * distribution: the smallest length `v` such that documents of length
    * <= v hold at least `q` of the corpus's TOKENS (not its documents; a
    * handful of book-length outliers can carry half the token mass while
    * being invisible in doc-count quantiles). Identical rank machinery
    * run over the measure `v·cnt`; output `n` is the total token mass and
    * `rank_target` the mass target. Zero-length rows carry no mass and
    * drop out. */
  def massQuantilesFromCounts(c: DataFrame, qs: Seq[Double],
                              shards: Int = 8): DataFrame =
    exactQuantilesFromCounts(
      c.select(col("v"), (col("v") * col("cnt")).cast("long").as("cnt"))
        .filter(col("cnt") > 0), qs, shards)

  /** Group-wise [[exactQuantiles]] — the per-source / per-language length
    * distribution (a mixture hides its tails: one source's p99 is another's
    * p50, and a single global truncation cap silently amputates the long
    * source). Same rank semantics: the group's `q`-quantile is the smallest
    * observed value whose within-group cumulative count reaches
    * `ceil(q·n_g)`.
    *
    * Scale shape mirrors [[ClassifierEval.binaryMetricsBy]]: one shuffle to
    * (group, value) counts, per-group percentile shard thresholds over the
    * distinct-value frame, shard offsets on the (groups × shards)-bounded
    * frame, windows only over (group, shard) slices — no corpus-scale and
    * no whole-group window partition even when one group dominates the
    * corpus. Broadcasts are groups-bounded (thresholds, offsets, targets) —
    * the source/language universe, not the documents.
    *
    * Output: (groupCol, q, rank_target, value, n) ordered by group, q. */
  def exactQuantilesBy(df: DataFrame, groupCol: String, value: Column,
                       qs: Seq[Double], shards: Int = 8,
                       scope: graft.core.CacheScope.Handle =
                         graft.core.CacheScope.detached): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    require(shards > 1, "shards must be > 1")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    // persisted (lazily): thresholds/offsets/targets/cumsums each broadcast
    // a frame derived from this fold — see exactQuantiles. (group,value)-
    // bounded, cache-safe; pinned into `scope` for scoped release.
    val c = scope.pin(df.select(col(groupCol), value.cast("long").as("__v"))
      .filter(col("__v").isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol), col("__v")).agg(count(lit(1)).as("__cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ths = c.groupBy(col(groupCol).as("__qg"))
      .agg(percentile(col("__v"), lit(1.0 / shards)).as("__t1"),
        (2 until shards).map(i =>
          percentile(col("__v"), lit(i.toDouble / shards)).as(s"__t$i")): _*)
    val shard = (1 until shards)
      .map(i => when(col("__v") > col(s"__t$i"), 1).otherwise(0))
      .reduce(_ + _)
    val sharded = c.join(broadcast(ths), col(groupCol) === col("__qg"))
      .withColumn("__shard", shard)
      .drop("__qg").drop((1 until shards).map(i => s"__t$i"): _*)
    val wOff = Window.partitionBy(col(groupCol)).orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = sharded.groupBy(col(groupCol), col("__shard"))
      .agg(sum("__cnt").as("__scnt"))
      .withColumn("__off", coalesce(sum("__scnt").over(wOff), lit(0L)))
      .select(col(groupCol), col("__shard"), col("__off"))
    val wIn = Window.partitionBy(col(groupCol), col("__shard"))
      .orderBy(col("__v"))
    val cum = sharded.join(broadcast(offs), Seq(groupCol, "__shard"))
      .withColumn("__cum", col("__off") + sum("__cnt").over(wIn))
    val targets = c.groupBy(col(groupCol).as("__tg"))
      .agg(sum("__cnt").cast("long").as("n"))
      .crossJoin(qs.toDF("q"))
      .select(col("__tg"), col("q"),
        ceil(col("q") * col("n")).cast("long").as("rank_target"), col("n"))
    cum.join(broadcast(targets),
        col(groupCol) === col("__tg") && col("__cum") >= col("rank_target"))
      .groupBy(col(groupCol), col("q"), col("rank_target"), col("n"))
      .agg(min("__v").as("value"))
      .select(col(groupCol), col("q"), col("rank_target"), col("value"),
        col("n"))
      .orderBy(col(groupCol), col("q"))
  }

  /** Corpus SNAPSHOT DIFF — the versioning primitive between two corpus
    * states (yesterday's crawl vs today's): per document id, whether it
    * was `added`, `removed`, `changed` (same id, different content hash),
    * or `unchanged`. What a curation team reads before re-running an
    * expensive downstream stage — an unchanged-heavy diff means the
    * incremental paths ([[Dedup.exactIncrement]],
    * [[Dedup.componentsIncrement]], the [[graft.IngestCli]] batch) can take
    * the delta instead of the corpus.
    *
    * Scale shape: ONE full-outer hash join on the id (both sides reduced
    * to (id, md5) in the scan stage — content never shuffles), statuses a
    * scan-stage CASE over the join's null pattern. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val a = oldDocs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("__ha"))
    val b = newDocs.select(col(idCol).as("doc_id"),
      md5(col(textCol)).as("__hb"))
    a.hint("shuffle_hash").join(b, Seq("doc_id"), "full")
      .select(col("doc_id"),
        when(col("__ha").isNull, "added")
          .when(col("__hb").isNull, "removed")
          .when(col("__ha") =!= col("__hb"), "changed")
          .otherwise("unchanged").as("status"))
  }
}
