package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Parallelism
import graft.functions.TextFunctions

/** Trained quality classification: a hashed-unigram Naive-Bayes log-odds
  * scorer in the role fastText/logistic-regression filters play in the
  * published pretraining pipelines (GPT-3's WebText-vs-CommonCrawl filter,
  * CCNet's linear model, LLaMA's Wikipedia-reference classifier): train on
  * a labeled good/bad split, then score EVERY document with a calibrated
  * keep/drop verdict.
  *
  * This completes the quality-filter family: [[graft.functions.TextFunctions]]
  * is the hand-written heuristic tier, [[LanguageModel]] the fluency tier,
  * [[Importance]] the distribution-matching tier — this is the trained
  * DISCRIMINATIVE tier, and its usual deployment is weak supervision: label
  * the training split with the cheap heuristic (exactly what the gate
  * does), train, and let the smoothed token-likelihood model generalize
  * past the heuristic's blind spots.
  *
  * Model: add-one-smoothed class-conditional distributions over
  * [[Importance.tokenBucket]] hashed-unigram features. A document's score
  * is `ln(nPos+1 / nNeg+1)` (the doc-count prior, +1-smoothed so a
  * single-class training set stays finite) plus the sum over tokens of
  * `ln(p(b|pos) / p(b|neg))`; `keep = score > 0` is the MAP decision.
  *
  * Scale design (same shape as [[Importance]]): the model is one
  * buckets-bounded frame built by two map-side-combined count
  * aggregations; scoring explodes tokens in the scan stage, LEFT-joins the
  * broadcast model (a bucket unseen in BOTH classes falls back to the
  * constant smoothed ratio, so any document is scorable), and aggregates
  * once per document. Token-less documents keep their prior-only verdict
  * via a final left join — every input row gets a verdict, which is what a
  * filter stage needs.
  *
  * Oracle parity: per-bucket log-ratios are rounded to 9 decimals once and
  * summed as decimal(28,9) (order-independent, exact); the prior is
  * rounded the same way and added in decimal; only the final score rounds
  * to 6 as a double.
  */
object QualityClassifier {

  /** Trained model: the sparse (b, llr) frame plus the two constant terms.
    * `defaultLlr`/`prior` are constant-foldable expressions (not collected
    * doubles) so both engines compute the same ln through the same path. */
  case class NbModel(llr: DataFrame, defaultLlr: Column, prior: Column,
                     buckets: Int, salt: String)

  // fanOut the RAW text, tokenize after the exchange (r20): an expression
  // inside the pre-repartition projection executes in the SCAN stage —
  // which is a single task when the input is one parquet split — so the
  // "scan-stage" work serialized on one core and the exchange shipped the
  // exploded arrays. Raw text is the same bytes over the wire, and the
  // fold's groupBy output is partitioning-independent (bit-exact).
  private def tokenBuckets(docs: DataFrame, idCol: String, textCol: String,
                           buckets: Int, salt: String): DataFrame =
    Parallelism.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"),
        Importance.tokenBucket(col("tok"), buckets, salt).as("b"))

  /** ONE corpus tokenization folded to the (doc_id, b, cnt) bucket-count
    * frame — the shared feature representation every classifier in this
    * family consumes (NB train + score, logistic train + score). Persist
    * the result and tokenization is paid exactly once per pipeline no
    * matter how many classifier families train and score over it; summing
    * `cnt` reproduces per-token semantics exactly because every token in a
    * bucket carries the same model weight. cnt is decimal(10,0) so every
    * downstream weight×count product stays within decimal-38 exactness
    * (see [[trainLogisticFold]]'s precision notes). */
  def tokenFold(docs: DataFrame, idCol: String, textCol: String,
                buckets: Int = 4096, salt: String = ":bk1"): DataFrame =
    foldOf(tokenBuckets(docs, idCol, textCol, buckets, salt), buckets, salt)

  /** The (doc_id, b, cnt) tail shared by every fold builder, with the
    * provenance ride-along: the fold is only valid for models trained
    * under the SAME (buckets, salt) feature space — a mismatched pairing
    * trains/scores against different buckets and mis-scores SILENTLY.
    * Consumers assert against this metadata and fail fast instead. */
  private def foldOf(pairs: DataFrame, buckets: Int, salt: String): DataFrame =
    pairs
      .groupBy("doc_id", "b")
      .agg(count(lit(1)).cast("decimal(10,0)").as("cnt"))
      .select(col("doc_id"),
        col("b").as("b", new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("graft.fold.buckets", buckets.toLong)
          .putString("graft.fold.salt", salt).build()),
        col("cnt"))

  /** fastText-style char n-gram stream: each whitespace token wrapped in
    * boundary markers (`<tok>`, capped at `capLen` chars so the expression
    * stays bounded on pathological tokens), then every char n-gram for
    * n in [minN, maxN] emitted once per OCCURRENCE. Pure Column tree —
    * runs in the scan stage like [[graft.functions.TextFunctions.tokens]]. */
  private def charGrams(text: Column, minN: Int, maxN: Int,
                        capLen: Int): Column =
    flatten(transform(TextFunctions.tokens(text), t => {
      val w = substring(concat(lit("<"), t, lit(">")), 1, capLen)
      flatten(transform(sequence(lit(minN), lit(maxN)), n =>
        when(length(w) >= n,
          transform(sequence(lit(1), length(w) - n + lit(1)),
            i => w.substr(i, n)))
          .otherwise(array().cast("array<string>"))))
    }))

  /** [[tokenFold]] over char 3–5-grams instead of token unigrams — the
    * feature space the fastText/CCNet lang-id tier actually runs on:
    * subword units generalize to UNSEEN words (held-out text full of novel
    * tokens all falls to one default llk under a token-unigram model, while
    * its character morphology — suffixes like `ção` vs `ción` — was seen in
    * training). Same (buckets, salt) provenance fail-fast, same
    * (doc_id, b, cnt) shape, so [[LangClassifier.trainLangNb]] /
    * `scoreLang` consume it unchanged. Scale shape is the token fold's:
    * one scan-stage explode (~3 x chars per doc rows) into one partial-agg
    * groupBy. */
  def charGramFold(docs: DataFrame, idCol: String, textCol: String,
                   buckets: Int = 4096, salt: String = ":lc1",
                   minN: Int = 3, maxN: Int = 5,
                   capLen: Int = 64): DataFrame =
    // fanOut BEFORE the gram expression (r20): computed inside the
    // pre-repartition projection, the ~3-grams-per-char explosion ran in
    // the single-task scan stage (profiled: 2.6 s serial, 14.6 MB of gram
    // arrays through the exchange on q_text_langid_char); after the
    // exchange it parallelizes across the fan-out and the exchange carries
    // raw text instead of grams. Same tokenBuckets rationale above.
    foldOf(
      Parallelism.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
        .select(col("doc_id"),
          explode(charGrams(col(textCol), minN, maxN, capLen)).as("tok"))
        .select(col("doc_id"),
          Importance.tokenBucket(col("tok"), buckets, salt).as("b")),
      buckets, salt)

  /** Fail-fast provenance check for externally-built [[tokenFold]] frames:
    * when the fold carries the build metadata, a (buckets, salt) mismatch
    * against the consuming trainer/model raises instead of silently
    * training or scoring in the wrong feature space. Folds built by hand
    * (no metadata) pass through — the caller owns the pairing. */
  private[operators] def assertFoldMatches(fold: DataFrame, buckets: Int,
                                           salt: String, who: String): Unit =
    fold.schema.fields.find(_.name == "b").foreach { sf =>
      if (sf.metadata.contains("graft.fold.salt")) {
        val fSalt = sf.metadata.getString("graft.fold.salt")
        val fBuckets = sf.metadata.getLong("graft.fold.buckets")
        require(fSalt == salt && fBuckets == buckets.toLong,
          s"$who expects a token fold built under (buckets=$buckets, " +
            s"salt=$salt) but this fold was built under " +
            s"(buckets=$fBuckets, salt=$fSalt) — the feature spaces differ " +
            "and every score would be silently wrong")
      }
    }

  private def dec9(c: Column): Column = round(c, 9).cast("decimal(28,9)")

  /** Materialize a BUCKETS-BOUNDED model frame (≤ `buckets` rows by
    * contract) as a driver-local DataFrame — see
    * [[graft.core.BoundedFrames.localize]] for the full rationale. */
  private def localize(df: DataFrame): DataFrame =
    graft.core.BoundedFrames.localize(df)

  /** Train on a labeled split. Four train-once metadata aggregates (two
    * token totals, two doc counts) run eagerly; the per-bucket model stays
    * a DataFrame bounded by `buckets` rows. */
  def train(pos: DataFrame, neg: DataFrame, idCol: String, textCol: String,
            buckets: Int = 4096, salt: String = ":nb1"): NbModel = {
    val bp = tokenBuckets(pos, idCol, textCol, buckets, salt)
      .groupBy("b").agg(count(lit(1)).as("cp"))
    val bn = tokenBuckets(neg, idCol, textCol, buckets, salt)
      .groupBy("b").agg(count(lit(1)).as("cn"))
    val np = Option(bp.agg(sum("cp")).head.get(0)).fold(0L)(_.asInstanceOf[Long])
    val nn = Option(bn.agg(sum("cn")).head.get(0)).fold(0L)(_.asInstanceOf[Long])
    val dP = lit((np + buckets).toDouble)
    val dN = lit((nn + buckets).toDouble)
    val pPos = (coalesce(col("cp"), lit(0L)).cast("double") + lit(1.0)) / dP
    val pNeg = (coalesce(col("cn"), lit(0L)).cast("double") + lit(1.0)) / dN
    // buckets-bounded full outer; shuffle_hash skips the pointless sort.
    // NOT localized (unlike the GD weights): the model is broadcast exactly
    // once per scoring run, so its single lazy evaluation already costs
    // what a localize collect would — an eager collect here only adds a
    // job (solo-measured +1.9 s on the AUC gate).
    val llr = bp.hint("shuffle_hash").join(bn, Seq("b"), "full")
      .select(col("b"), dec9(log(pPos / pNeg)).as("llr"))
    NbModel(llr,
      defaultLlr = dec9(log(dN / dP)),
      prior = dec9(log(lit((pos.count() + 1).toDouble) /
        lit((neg.count() + 1).toDouble))),
      buckets, salt)
  }

  /** [[train]] from a shared [[tokenFold]] frame plus a (doc_id, is_pos)
    * label frame — the one-tokenization path for pipelines that train
    * SEVERAL classifier families over the same corpus (the bake-off gate's
    * shape). Bucket counts are sums of the fold's exact integer `cnt`, so
    * the model is bit-identical to [[train]] on the pos/neg split under
    * the same salt; llr narrows to decimal(19,9) (|llr| is a log-ratio,
    * < 10^2) so [[scoreFold]]'s llr×cnt product stays decimal-exact. */
  def trainFold(fold: DataFrame, labels: DataFrame,
                buckets: Int = 4096, salt: String = ":bk1"): NbModel = {
    assertFoldMatches(fold, buckets, salt, "trainFold")
    val d0 = lit(0).cast("decimal(10,0)")
    val agg = fold.join(labels, Seq("doc_id"))
      .groupBy("b")
      .agg(sum(when(col("is_pos"), col("cnt")).otherwise(d0)).as("cp"),
        sum(when(col("is_pos"), d0).otherwise(col("cnt"))).as("cn"))
    // ONE distributed pass over the fold⋈labels aggregation (r19 perf): the
    // old shape paid it four times — two .agg jobs for the token totals, a
    // lazy llr re-evaluation at every model broadcast — and the decimal
    // aggregation is the measured bulk of a trainFold pass (7–12 s of task
    // time at sf0.1). `agg` is buckets-bounded by contract, so localize it
    // once; the totals and the llr table derive from the LOCAL relation
    // through the same engine expressions as before (the trainLogisticFold
    // bias convention — driver state never computes arithmetic the oracle
    // doesn't), at zero further cluster work.
    val aggL = localize(agg)
    val tots = aggL.agg(sum("cp"), sum("cn")).head
    def totAt(i: Int): Long =
      if (tots.isNullAt(i)) 0L else tots.getDecimal(i).longValueExact()
    val np = totAt(0)
    val nn = totAt(1)
    val dP = lit((np + buckets).toDouble)
    val dN = lit((nn + buckets).toDouble)
    def dec919(c: Column): Column = round(c, 9).cast("decimal(19,9)")
    val pPos = (col("cp").cast("double") + lit(1.0)) / dP
    val pNeg = (col("cn").cast("double") + lit(1.0)) / dN
    // localized like the GD weights (buckets-bounded): as lazy distributed
    // lineage every broadcast of the model re-ran the aggregation pass
    val llr = localize(
      aggL.select(col("b"), dec919(log(pPos / pNeg)).as("llr")))
    // count(when(pred, 1)) skips null-predicate rows exactly as the
    // two .filter(...).count() actions this replaces did
    val dc = labels.agg(count(when(col("is_pos"), lit(1))),
      count(when(!col("is_pos"), lit(1)))).head
    NbModel(llr,
      defaultLlr = dec919(log(dN / dP)),
      prior = dec919(log(lit((dc.getLong(0) + 1).toDouble) /
        lit((dc.getLong(1) + 1).toDouble))),
      buckets, salt)
  }

  /** [[score]] from a shared [[tokenFold]] frame: per-doc token count is
    * the exact sum of `cnt`, and the llr sum becomes sum(llr×cnt) — both
    * bit-identical to the per-token path because every token in a bucket
    * carries the same decimal llr. The llr is narrowed to decimal(19,9)
    * before the multiply so the (19,9)×(10,0) product is (30,9)-exact on
    * both engines (a (28,9) operand would push past precision 38 and
    * silently drop scale). */
  def scoreFold(docs: DataFrame, idCol: String, fold: DataFrame,
                m: NbModel): DataFrame = {
    assertFoldMatches(fold, m.buckets, m.salt, "scoreFold")
    val llr19 = coalesce(col("llr"), m.defaultLlr).cast("decimal(19,9)")
    val perDoc = fold
      .join(broadcast(m.llr), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_tokens"),
        sum(llr19 * col("cnt")).as("sllr"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(coalesce(col("sllr").cast("decimal(28,9)"),
            lit(0).cast("decimal(28,9)")) + m.prior.cast("decimal(28,9)"), 6)
          .cast("double").as("log_odds"))
      .withColumn("keep", col("log_odds") > 0.0)
  }

  /** Persist a trained model under `dir` (train-once / score-many: the
    * labeled seed sets live with the curation team, scoring jobs only need
    * the bucket table). `defaultLlr`/`prior` are constant-foldable decimal
    * expressions — evaluating them to store is value-preserving because
    * dec9 already rounded them to decimal(28,9), so the reloaded literal
    * scores bit-identically. */
  def save(m: NbModel, dir: String): Unit = {
    val spark = m.llr.sparkSession
    m.llr.coalesce(1).write.mode("overwrite").parquet(s"$dir/llr")
    spark.range(1).select(m.defaultLlr.as("default_llr"), m.prior.as("prior"),
        lit(m.buckets).as("buckets"), lit(m.salt).as("salt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a model persisted by [[save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): NbModel = {
    val meta = spark.read.parquet(s"$dir/meta").head
    NbModel(spark.read.parquet(s"$dir/llr"),
      defaultLlr = lit(meta.getAs[java.math.BigDecimal]("default_llr"))
        .cast("decimal(28,9)"),
      prior = lit(meta.getAs[java.math.BigDecimal]("prior"))
        .cast("decimal(28,9)"),
      buckets = meta.getAs[Int]("buckets"), salt = meta.getAs[String]("salt"))
  }

  /** Score every document: (doc_id, n_tokens, log_odds, keep). Token-less
    * documents score the prior alone. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            m: NbModel): DataFrame = {
    val perDoc = tokenBuckets(docs, idCol, textCol, m.buckets, m.salt)
      .join(broadcast(m.llr), Seq("b"), "left")
      .select(col("doc_id"), coalesce(col("llr"), m.defaultLlr).as("llr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("llr").as("sllr"))
    // both sides are corpus-scaled (one row per doc): pin shuffle_hash so
    // neither side sorts (see jaccardPairs)
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        // round to 6 while still DECIMAL (half-away-from-zero in both
        // engines — a double-path round() diverges on exact …5 ties, and a
        // decimal downscale CAST truncates in DuckDB). The sum must be
        // narrowed to (28,9) first: Spark types sum(decimal(28,9)) as
        // (38,9), and (38,9)+(28,9) overflows precision 38, silently
        // dropping to scale 8 — a double-rounding that flips …499 rows
        round(coalesce(col("sllr").cast("decimal(28,9)"),
            lit(0).cast("decimal(28,9)")) + m.prior, 6)
          .cast("double").as("log_odds"))
      .withColumn("keep", col("log_odds") > 0.0)
  }

  // ================ gradient-trained logistic filter ================

  /** Trained logistic model: the buckets-bounded weight frame plus the
    * bias as a decimal(28,9) value (driver-held, the HITS driver-scalar
    * convention — one tiny collect per iteration, never a corpus row). */
  case class LogitModel(w: DataFrame, bias: java.math.BigDecimal,
                        buckets: Int, salt: String)

  /** Batch gradient descent for the fastText-class LOGISTIC quality filter
    * — the genuinely gradient-trained sibling of [[train]]'s closed-form
    * Naive Bayes (NB assumes feature independence; the logistic weights
    * co-adapt, which is why published pipelines ship linear classifiers,
    * not NB, as the final quality tier).
    *
    * Determinism contract (what makes a bit-exact cross-engine oracle
    * possible for an ITERATIVE float algorithm):
    *  - features are integer bucket counts; predictions are rounded to 9
    *    decimals immediately after the sigmoid (the calibration-gate
    *    convention), so per-doc errors are decimal(28,9) EXACT;
    *  - every corpus-scale sum (gradients) is a sum of exact decimals —
    *    order-independent, partial-agg friendly;
    *  - the only float ops are per-slot: `w + lrEff·grad` in IEEE doubles
    *    with `lrEff = lr / nDocs` computed by one double division of
    *    identical operands on any engine, re-rounded to 9 decimals.
    *
    * `x` is an externally-built (and ideally persisted) [[tokenFold]]
    * frame — the caller keeps ownership of the fold, so one tokenization
    * can feed this trainer, [[scoreLogisticFold]], AND the NB pair under
    * the same salt (the bake-off's score-once shape). Per-iteration cost is
    * one broadcast join of the buckets-bounded weight frame and two
    * partial aggs. */
  def trainLogisticFold(docs: DataFrame, idCol: String, label: Column,
                        x: DataFrame, iters: Int = 3, lr: Double = 0.5,
                        buckets: Int = 4096,
                        salt: String = ":bk1"): LogitModel = {
    require(iters >= 1, "iters must be >= 1")
    assertFoldMatches(x, buckets, salt, "trainLogisticFold")
    val spark = docs.sparkSession
    // EXPLICIT narrow decimal operand types throughout: Spark caps decimal
    // products at precision 38 by REDUCING SCALE (decimal(28,9) × bigint
    // silently becomes scale 6 — three decimals gone and the oracle
    // diverges). weights (19,9) × counts (10,0) → (30,9); errors (10,9) ×
    // counts (10,0) → (21,9): every product and sum stays exact.
    // persisted: y is two narrow columns per doc, but its label expression
    // (langId / qualityScore — fat scan-stage column trees) would otherwise
    // re-evaluate on BOTH actions of every GD iteration
    val y = docs.select(col(idCol).as("doc_id"),
      when(label, lit(1.0)).otherwise(lit(0.0)).cast("decimal(10,9)").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = docs.count()
    val lrEff = lr / n // one IEEE division of identical operands per engine
    def dec9w(c: Column): Column = round(c, 9).cast("decimal(19,9)")
    val w0 = lit(0).cast("decimal(19,9)")
    var w: DataFrame = null
    var bias: java.math.BigDecimal = java.math.BigDecimal.ZERO.setScale(9)
    var t = 0
    while (t < iters) {
      // margins: bias + sum_b w(b) * cnt(doc,b); w = 0 on the first pass
      val margins =
        if (w == null)
          y.select(col("doc_id"), lit(bias).cast("decimal(28,9)").as("m"))
        else
          y.join(
            x.join(broadcast(w), Seq("b"), "left")
              .groupBy("doc_id")
              .agg(sum(coalesce(col("w"), w0) * col("cnt")).as("s"))
              .hint("shuffle_hash"),
            Seq("doc_id"), "left")
            .select(col("doc_id"),
              (coalesce(col("s").cast("decimal(28,9)"),
                lit(0).cast("decimal(28,9)")) +
                lit(bias).cast("decimal(28,9)")).as("m"))
      // exact per-doc error: label minus the 9-decimal-rounded sigmoid.
      // Persisted for the iteration (two narrow columns per doc): the
      // gradient collect and the bias aggregate below both consume it, and
      // unpersisted each re-ran the whole margins chain — one extra
      // fold-decimal pass per iteration (r19 profile).
      val err = y.join(margins, Seq("doc_id"))
        .select(col("doc_id"),
          (col("y") - round(lit(1.0) /
              (lit(1.0) + exp(-col("m").cast("double"))), 9)
            .cast("decimal(10,9)")).cast("decimal(10,9)").as("e"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val grads = x.join(err, Seq("doc_id"))
        .groupBy("b").agg(sum(col("cnt") * col("e")).as("g"))
      val wPrev = w
      // localize instead of persist-swap: the weight frame is
      // buckets-bounded, and as a driver-local relation every following
      // iteration (and the scorer) broadcasts it with a FLAT plan — the
      // persist-swap variant re-analyzed the full compounding lineage on
      // every action, which dominated wall time at any corpus size
      w = localize(
        (if (wPrev == null) grads.select(col("b"), w0.as("w"), col("g"))
         else grads.join(broadcast(wPrev), Seq("b"), "left")
            .select(col("b"), coalesce(col("w"), w0).as("w"), col("g")))
        .select(col("b"), dec9w(col("w").cast("double") +
          lit(lrEff) * col("g").cast("double")).as("w")))
      // bias update through the SAME engine expression as the weights, so
      // driver state can never drift from what the oracle computes
      val gBias = err.agg(sum("e").cast("decimal(28,9)")).head.getDecimal(0)
      err.unpersist(blocking = false) // both consumers done for this iter
      bias = spark.range(1).select(dec9w(lit(bias).cast("double") +
          lit(lrEff) * lit(gBias).cast("double")).as("nb"))
        .head.getDecimal(0)
      t += 1
    }
    y.unpersist(blocking = false) // w/bias are driver-local; nothing lazy remains
    LogitModel(w, bias, buckets, salt)
  }

  /** Score every document under a trained [[LogitModel]]:
    * (doc_id, n_tokens, margin, p, keep), over a shared [[tokenFold]] frame
    * (must have been built under the model's buckets/salt). Margins stay
    * decimal-exact up to the final 6-decimal presentation round; `keep` is
    * the rounded margin against zero (what a reader of the report would
    * apply). Token-less documents score the bias alone. */
  def scoreLogisticFold(docs: DataFrame, idCol: String, fold: DataFrame,
                        m: LogitModel): DataFrame = {
    assertFoldMatches(fold, m.buckets, m.salt, "scoreLogisticFold")
    val w0 = lit(0).cast("decimal(19,9)")
    val perDoc = fold
      .join(broadcast(m.w), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum("cnt").cast("decimal(20,0)").as("n_tokens"),
        sum(coalesce(col("w"), w0) * col("cnt")).as("s"))
    val mDec = coalesce(col("s").cast("decimal(28,9)"),
      lit(0).cast("decimal(28,9)")) + lit(m.bias).cast("decimal(28,9)")
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"),
        round(mDec, 6).cast("double").as("margin"),
        round(lit(1.0) / (lit(1.0) + exp(-mDec.cast("double"))), 9).as("p"))
      .withColumn("keep", col("margin") > 0.0)
  }
}
