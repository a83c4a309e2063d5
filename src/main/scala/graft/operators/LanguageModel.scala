package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Parallelism
import graft.functions.TextFunctions

/** N-gram language-model quality scoring — the CCNet-style perplexity
  * filter (Wenzek et al. 2020: a KenLM scored on Wikipedia ranks web text by
  * fluency; low-perplexity ≈ well-formed prose). This is the classic
  * pretraining-corpus quality knob the heuristic gates
  * ([[graft.functions.TextFunctions.qualityScore]], Gopher rules) cannot
  * express: it scores agreement with a REFERENCE CORPUS, not surface shape.
  *
  * Model: bigram counts with stupid backoff (Brants et al. 2007 — at web
  * scale the unnormalized 0.4-backoff score is the standard cheap stand-in
  * for Kneser-Ney) over a capped vocabulary; out-of-vocabulary tokens
  * normalize to `<unk>` BEFORE counting, so train and score see one closed
  * token universe (the SentencePiece+KenLM shape).
  *
  * Scale design: training is two groupBy-count aggregations (map-side
  * partial) over the reference tokens plus two distributed top-k cuts
  * (TakeOrdered — per-partition pruning, only vocabCap/bigramCap rows reach
  * the driver); the model frames are CAP-BOUNDED, so scoring is pure
  * scan-stage work: a zip-derived (prev, token) stream (no window, no extra
  * shuffle) with three BROADCAST model lookups, then one groupBy(doc) sum.
  * The corpus is never shuffled except by that per-doc aggregation; at
  * 100 TB the model broadcasts are megabytes against terabyte scans.
  *
  * Oracle parity: every per-token log-probability is rounded to 9 decimals
  * and summed as decimal(28,9) — decimal addition is exact and commutative,
  * so the per-doc sum is independent of partition order and an engine
  * running the same arithmetic hash-matches bit-for-bit (double-sum order
  * would not be). JVM and DuckDB `ln`/`exp` agree to the bit on the rational
  * inputs this model produces (verified empirically; both are
  * correctly-rounded libm implementations).
  */
object LanguageModel {

  /** Normalized out-of-vocabulary token. A literal "<unk>" in the data
    * merges with it (counts are grouped after the union) — acceptable
    * collision, documented contract. */
  val Unk = "<unk>"

  /** Stupid-backoff multiplier (Brants et al. 2007). */
  val Backoff = 0.4

  /** A trained bigram model: `unigrams` (tok, c) over the NORMALIZED stream
    * (vocab types plus the `<unk>` mass), `bigrams` (prev, w, cb) of the
    * top-`bigramCap` normalized adjacent pairs, and the two scalars the
    * smoothed unigram denominator needs. Both frames are cap-bounded —
    * broadcastable by construction. */
  case class BigramLm(unigrams: DataFrame, bigrams: DataFrame,
                      totalTokens: Long, vocabTypes: Long) {
    /** The in-vocabulary token set (the trained vocab without the unk row). */
    def vocab: DataFrame = unigrams.filter(col("tok") =!= Unk).select("tok", "c")
  }

  /** (doc_id, extra..., toks) with the compute-dense-stage parallelism
    * guard (skipped for streaming inputs — repartition is not applicable
    * to an unbound source; micro-batch parallelism follows the source). */
  private def tokFrame(docs: DataFrame, idCol: String, textCol: String,
                       extra: Seq[String] = Nil): DataFrame = {
    // fanOut the RAW text and tokenize after the exchange (r20): an
    // expression inside the pre-repartition projection executes in the
    // scan stage — a single task when the input is one parquet split —
    // serializing the tokenize on one core (same fix as
    // QualityClassifier.tokenBuckets; bit-exact, partitioning-independent)
    val base = docs.select((col(idCol).as("doc_id") +: extra.map(col)) :+
      col(textCol): _*)
    val fanned = if (docs.isStreaming) base else Parallelism.fanOut(base)
    fanned.select((col("doc_id") +: extra.map(col)) :+
      TextFunctions.tokens(col(textCol)).as("toks"): _*)
  }

  /** The raw (doc_id, extra..., pos, tok, prevRaw) positional token stream
    * shared by the single- and dual-model scorers: the token array zipped
    * with its own 1-shifted copy BEFORE exploding — scan-stage only; a
    * lag() window would add a corpus shuffle on doc_id for the same
    * result. */
  private def rawStream(toks: DataFrame,
                        extra: Seq[String] = Nil): DataFrame = {
    val prevs = when(size(col("toks")) >= 1,
      concat(array(lit(null).cast("string")),
        slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0)))))
      .otherwise(col("toks"))
    toks
      .select((col("doc_id") +: extra.map(col)) :+
        posexplode(zip_with(col("toks"), prevs,
          (t, p) => struct(t.as("t"), p.as("p")))): _*)
      .select((col("doc_id") +: extra.map(col)) ++ Seq(
        (col("pos") + 1).as("pos"),
        col("col.t").as("tok"), col("col.p").as("prevRaw")): _*)
  }

  /** The normalized (doc_id, pos, prev, w) token stream: `w` is the token
    * (vocab member or `<unk>`), `prev` its normalized predecessor (null at
    * position 1). Both membership lookups are broadcast joins against the
    * cap-bounded vocab. */
  private def normStream(toks: DataFrame, vocab: DataFrame,
                         extra: Seq[String] = Nil): DataFrame = {
    val z = rawStream(toks, extra)
    val invW = broadcast(vocab.select(col("tok").as("__vw"), lit(1).as("__mw")))
    val invP = broadcast(vocab.select(col("tok").as("__vp"), lit(1).as("__mp")))
    z.join(invW, col("tok") === col("__vw"), "left")
      .join(invP, col("prevRaw") === col("__vp"), "left")
      .select((col("doc_id") +: extra.map(col)) ++ Seq(
        col("pos"),
        when(col("prevRaw").isNull, lit(null).cast("string"))
          .when(col("__mp").isNotNull, col("prevRaw"))
          .otherwise(lit(Unk)).as("prev"),
        when(col("__mw").isNotNull, col("tok")).otherwise(lit(Unk)).as("w")): _*)
  }

  /** Append one model's round-9 per-token log-prob as `lp$sfx` to a
    * [[rawStream]]-shaped frame — the per-model half of the FUSED
    * dual-model scorer (r20): chaining two of these scores both models in
    * ONE pass over the exploded token stream. Every lookup (two vocab
    * memberships, bigram, two unigrams) is a 1:1 left broadcast join
    * against a cap-bounded model frame, so chaining preserves row
    * multiplicity and each lp expression is the [[tokenLogProbsToks]] tree
    * verbatim — the fused frame is row- and value-identical to joining the
    * two single-model score frames on (doc_id, pos). */
  private def withLp(df: DataFrame, lm: BigramLm, sfx: String): DataFrame = {
    val vocab = lm.vocab
    val invW = broadcast(vocab.select(
      col("tok").as(s"__vw$sfx"), lit(1).as(s"__mw$sfx")))
    val invP = broadcast(vocab.select(
      col("tok").as(s"__vp$sfx"), lit(1).as(s"__mp$sfx")))
    val big = broadcast(lm.bigrams.select(col("prev").as(s"__bp$sfx"),
      col("w").as(s"__bw$sfx"), col("cb").as(s"__cb$sfx")))
    val uniW = broadcast(lm.unigrams.select(
      col("tok").as(s"__uw$sfx"), col("c").as(s"__cu$sfx")))
    val uniP = broadcast(lm.unigrams.select(
      col("tok").as(s"__up$sfx"), col("c").as(s"__cprev$sfx")))
    val w = when(col(s"__mw$sfx").isNotNull, col("tok")).otherwise(lit(Unk))
    val prev = when(col("prevRaw").isNull, lit(null).cast("string"))
      .when(col(s"__mp$sfx").isNotNull, col("prevRaw"))
      .otherwise(lit(Unk))
    val denom = lit((lm.totalTokens + lm.vocabTypes + 1).toDouble)
    val sUni = (coalesce(col(s"__cu$sfx"), lit(0L)).cast("double") + lit(1.0)) / denom
    val s = when(col(s"__prev$sfx").isNull, sUni)
      .when(col(s"__cb$sfx").isNotNull && col(s"__cprev$sfx") > 0,
        col(s"__cb$sfx").cast("double") / col(s"__cprev$sfx").cast("double"))
      .otherwise(lit(Backoff) * sUni)
    df.join(invW, col("tok") === col(s"__vw$sfx"), "left")
      .join(invP, col("prevRaw") === col(s"__vp$sfx"), "left")
      .withColumn(s"__w$sfx", w)
      .withColumn(s"__prev$sfx", prev)
      .join(big, col(s"__prev$sfx") === col(s"__bp$sfx") &&
        col(s"__w$sfx") === col(s"__bw$sfx"), "left")
      .join(uniW, col(s"__w$sfx") === col(s"__uw$sfx"), "left")
      .join(uniP, col(s"__prev$sfx") === col(s"__up$sfx"), "left")
      .withColumn(s"lp$sfx", round(log(s), 9).cast("decimal(28,9)"))
  }

  /** ONE-pass dual-model per-token scores over a pre-built [[tokFrame]]:
    * (doc_id, pos, lp_t, lp_g). Replaces two full token-stream scoring
    * passes PLUS a token-scaled (doc_id, pos) shuffle join with a single
    * scan-stage pass through both models' broadcast lookups (r20; profiled
    * on q_pipeline_select_v2 as 11.9 s + 9.4 s of pass task-time + a 9.3 MB
    * token-scaled exchange into the join — at 100 TB that join alone
    * shuffles the corpus's token count). Value-identical by the [[withLp]]
    * 1:1-join argument; both models score every position (OOV folds to
    * unk), exactly the old join's lossless contract. */
  private def dualTokenLogProbsToks(toks: DataFrame, lmT: BigramLm,
                                    lmG: BigramLm): DataFrame =
    withLp(withLp(rawStream(toks), lmT, "_t"), lmG, "_g")
      .select(col("doc_id"), col("pos"), col("lp_t"), col("lp_g"))

  /** Train a stupid-backoff bigram model on a reference corpus.
    *
    * `vocabCap` / `bigramCap` are the scale levers: both cuts are
    * distributed top-k by (count desc, key asc) — a total order, so the
    * capped model is deterministic even when counts tie at the boundary.
    * The unigram table is counted over the RAW stream and then folded
    * (vocab rows keep their counts; all out-of-vocab mass becomes the
    * `<unk>` row: N - sum(vocab counts)) — one aggregation pass instead of
    * a second normalized count. Bigrams must see normalized tokens, so they
    * count over [[normStream]] (scan-stage zip + broadcast membership, one
    * groupBy). */
  def trainBigramLm(ref: DataFrame, idCol: String, textCol: String,
                    vocabCap: Int = 65536, bigramCap: Int = 1 << 20,
                    scope: graft.core.CacheScope.Handle =
                      graft.core.CacheScope.detached): BigramLm = {
    val spark = ref.sparkSession
    import spark.implicits._
    val toks = tokFrame(ref, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val uraw = toks.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val vocab = scope.pin(uraw.orderBy(desc("c"), asc("tok")).limit(vocabCap)
      .persist(StorageLevel.MEMORY_AND_DISK))
    // two metadata scalars (single-row aggregates, not data collects)
    val n = Option(uraw.agg(sum("c")).head.get(0)).fold(0L)(_.asInstanceOf[Long])
    val vRow = vocab.agg(count(lit(1)), coalesce(sum("c"), lit(0L))).head
    val (u, inVocabMass) = (vRow.getLong(0), vRow.getLong(1))
    // normalized unigrams: vocab counts + the <unk> mass row; grouped so a
    // literal "<unk>" token in the vocab merges instead of duplicating.
    // Both model frames are LOCALIZED (cap-bounded by construction): left
    // as distributed lineage over `toks` — which this trainer unpersists on
    // exit — every downstream broadcast would re-run the corpus
    // tokenization+aggregation from scratch, once per scoring consumer
    // (see BoundedFrames.localize).
    val uni = graft.core.BoundedFrames.localize(vocab
      .unionByName(Seq((Unk, n - inVocabMass)).toDF("tok", "c"))
      .groupBy("tok").agg(sum("c").as("c")))
    val big = graft.core.BoundedFrames.localize(
      normStream(toks, vocab).filter(col("prev").isNotNull)
        .groupBy("prev", "w").agg(count(lit(1)).as("cb"))
        .orderBy(desc("cb"), asc("prev"), asc("w")).limit(bigramCap))
    val lm = BigramLm(uni, big, totalTokens = n, vocabTypes = u)
    toks.unpersist()
    lm
  }

  /** Per-document average log-probability and perplexity under `lm`.
    *
    * Token score S: position 1 scores by the add-one-smoothed unigram
    * (`(c(w)+1) / (N+U+1)` — always positive, so ln is defined for any
    * input token); later positions score `c(prev,w)/c(prev)` when the
    * bigram survives the cap, else `0.4 *` the smoothed unigram (stupid
    * backoff). Output per doc: `n_scored` tokens, `avg_logp` (rounded 6),
    * `ppl = exp(-avg_logp)` (rounded 4). Docs with zero tokens produce no
    * row (nothing to score).
    *
    * Shape: scan-stage stream + three broadcast lookups + one groupBy(doc)
    * — composes into batch curation and Structured Streaming alike (the
    * model frames are static broadcasts; only the final per-doc sum is an
    * aggregation). */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
                 lm: BigramLm): DataFrame =
    tokenLogProbs(docs, idCol, textCol, lm)
      .groupBy("doc_id")
      .agg(pplAggs.head, pplAggs.tail: _*)

  /** The shared scoring aggregate list: token count, rounded avg log-prob,
    * perplexity (see [[perplexity]] for the rounding contract). */
  private def pplAggs: Seq[org.apache.spark.sql.Column] = {
    val avg = sum("lp").cast("double") / count(lit(1))
    Seq(count(lit(1)).as("n_scored"),
      round(sum("lp").cast("double") / count(lit(1)), 6).as("avg_logp"),
      round(exp(-avg), 4).as("ppl"))
  }

  /** Per-token rounded log-probabilities: (doc_id, extra..., lp) — the
    * stateless part of [[perplexity]]'s scoring (scan-stage stream + three
    * broadcast model lookups). `extra` columns pass through untouched. */
  private[graft] def tokenLogProbs(docs: DataFrame, idCol: String,
                                   textCol: String, lm: BigramLm,
                                   extra: Seq[String] = Nil): DataFrame =
    tokenLogProbsToks(tokFrame(docs, idCol, textCol, extra), lm, extra)

  /** [[tokenLogProbs]] over a pre-built [[tokFrame]] (see
    * [[perplexityToks]]). */
  private def tokenLogProbsToks(toks: DataFrame, lm: BigramLm,
                                extra: Seq[String] = Nil): DataFrame = {
    val ns = normStream(toks, lm.vocab, extra)
    val uniW = broadcast(lm.unigrams.select(col("tok").as("__uw"), col("c").as("cu")))
    val uniP = broadcast(lm.unigrams.select(col("tok").as("__up"), col("c").as("cprev")))
    val big = broadcast(lm.bigrams.select(
      col("prev").as("__bp"), col("w").as("__bw"), col("cb")))
    val denom = lit((lm.totalTokens + lm.vocabTypes + 1).toDouble)
    val sUni = (coalesce(col("cu"), lit(0L)).cast("double") + lit(1.0)) / denom
    val s = when(col("prev").isNull, sUni)
      .when(col("cb").isNotNull && col("cprev") > 0,
        col("cb").cast("double") / col("cprev").cast("double"))
      .otherwise(lit(Backoff) * sUni)
    ns.join(big, col("prev") === col("__bp") && col("w") === col("__bw"), "left")
      .join(uniW, col("w") === col("__uw"), "left")
      .join(uniP, col("prev") === col("__up"), "left")
      .select((col("doc_id") +: extra.map(col)) ++ Seq(col("pos"),
        round(log(s), 9).cast("decimal(28,9)").as("lp")): _*)
  }

  /** Train-and-score convenience: model on `ref`, scores over `docs`. */
  def perplexityAgainst(docs: DataFrame, ref: DataFrame,
                        idCol: String, textCol: String,
                        vocabCap: Int = 65536, bigramCap: Int = 1 << 20,
                        scope: graft.core.CacheScope.Handle =
                          graft.core.CacheScope.detached): DataFrame =
    perplexity(docs, idCol, textCol,
      trainBigramLm(ref, idCol, textCol, vocabCap, bigramCap, scope))

  /** ONE materialized tokenization of the scoring corpus, shared by both
    * passes of every two-model scorer below: tokenizing per scorer re-runs
    * the corpus text split (and its fan-out exchange) once per model —
    * r18's per-gate cache hygiene exposed exactly that re-derivation once
    * the accidental cross-gate cache reuse was gone. Pinned to the current
    * gate scope (no-op outside a harness; a streaming frame cannot persist
    * and keeps its inline lineage — the streaming twins score ONE model per
    * query anyway). */
  private def sharedToks(docs: DataFrame, idCol: String, textCol: String,
                         scope: Option[graft.core.CacheScope.Handle] = None)
      : DataFrame = {
    val tf = tokFrame(docs, idCol, textCol)
    if (docs.isStreaming) tf
    else {
      // route through the caller's handle when the operator takes one (its
      // release() must free EVERYTHING the call pinned); otherwise the
      // harness's current gate scope
      val pinned = scope match {
        case Some(h) => h.pin(tf.persist(StorageLevel.MEMORY_AND_DISK))
        case None => graft.core.CacheScope.gatePersist(tf)
      }
      pinned.count()
      pinned
    }
  }

  /** Moore–Lewis cross-entropy-difference selection: score every document
    * under an IN-DOMAIN model (trained on `targetRef`) and a GENERAL model
    * (trained on `generalRef`), rank by the gap `avg_logp_target −
    * avg_logp_general`, keep the top `k` — the classic "looks like my
    * target domain, not just generically fluent" data-selection rule
    * (perplexity alone keeps fluent-but-off-domain text; the difference
    * cancels generic fluency).
    *
    * Output: (doc_id, logp_target, logp_general, gap) — top-k by
    * (gap desc, doc_id).
    *
    * Scale shape: both scorers are the [[perplexity]] scan-stage stream
    * with cap-bounded broadcast models over ONE shared tokenization
    * ([[sharedToks]]); the only added work is one doc_id equi-join of two
    * per-doc score frames and a global top-k (TakeOrdered, never a full
    * sort). */
  def crossEntropySelect(docs: DataFrame, idCol: String, textCol: String,
                         targetRef: DataFrame, generalRef: DataFrame,
                         vocabCap: Int, bigramCap: Int, k: Int): DataFrame = {
    val lmT = trainBigramLm(targetRef, idCol, textCol, vocabCap, bigramCap)
    val lmG = trainBigramLm(generalRef, idCol, textCol, vocabCap, bigramCap)
    val toks = sharedToks(docs, idCol, textCol)
    dualDocScores(toks, lmT, lmG)
      .withColumn("gap", round(col("logp_target") - col("logp_general"), 6))
      .orderBy(col("gap").desc, col("doc_id"))
      .limit(k)
  }

  /** Per-doc (logp_target, logp_general) averages off the FUSED dual-model
    * token pass (r20): one scan-stage scoring stream and ONE per-doc
    * aggregation where the unfused shape paid two streams, two
    * aggregations, and a per-doc join. Both rounded averages divide by the
    * same count (both models score every position), so each equals the
    * [[perplexityToks]] avg_logp bit for bit. */
  private def dualDocScores(toks: DataFrame, lmT: BigramLm,
                            lmG: BigramLm): DataFrame =
    dualTokenLogProbsToks(toks, lmT, lmG)
      .groupBy("doc_id")
      .agg(
        round(sum("lp_t").cast("double") / count(lit(1)), 6).as("logp_target"),
        round(sum("lp_g").cast("double") / count(lit(1)), 6).as("logp_general"))


  /** Corpus-proportional variant of [[crossEntropySelect]]: keep the top
    * `keepFrac` of documents by gap via a PERCENTILE THRESHOLD (one
    * aggregate, broadcast scalar, scan-stage filter ≥) instead of a top-k.
    * Use THIS when the selection scales with the corpus: a TakeOrdered at
    * k = frac·|corpus| merges k candidates per partition on the driver,
    * which is exactly the driver-side funnel the rest of the engine
    * avoids. Ties at the threshold are kept, so the realized fraction can
    * exceed `keepFrac` by the tie mass.
    *
    * Output: (doc_id, logp_target, logp_general, gap), unranked. */
  def crossEntropyCut(docs: DataFrame, idCol: String, textCol: String,
                      targetRef: DataFrame, generalRef: DataFrame,
                      vocabCap: Int, bigramCap: Int, keepFrac: Double,
                      scope: graft.core.CacheScope.Handle =
                        graft.core.CacheScope.detached): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0, 1]")
    val lmT = trainBigramLm(targetRef, idCol, textCol, vocabCap, bigramCap,
      scope)
    val lmG = trainBigramLm(generalRef, idCol, textCol, vocabCap, bigramCap,
      scope)
    val toks = sharedToks(docs, idCol, textCol, Some(scope))
    // read twice (threshold aggregate + the cut): persist + materialize so
    // the (fused, r20) dual-model scoring pass runs ONCE — same discipline
    // as the Dedup self-joins (unmaterialized branches would recompute it)
    val scored = scope.pin(dualDocScores(toks, lmT, lmG)
      .withColumn("gap", round(col("logp_target") - col("logp_general"), 6))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    scored.count()
    val th = scored.agg(percentile(col("gap"), lit(1.0 - keepFrac)).as("__th"))
    scored.crossJoin(broadcast(th))
      .filter(col("gap") >= col("__th"))
      .drop("__th")
  }

  /** RHO-1-style SELECTIVE token filter (Lin et al., 2024): score every
    * token under an in-domain reference model (trained on `targetRef`) and
    * a general model (trained on `generalRef`), rank tokens WITHIN each
    * document by the excess log-prob `lp_target − lp_general`, and keep the
    * top `keepFrac` per document — the token-level analog of
    * [[crossEntropySelect]]: instead of dropping whole documents, training
    * masks the tokens the target-domain model does NOT prefer (boilerplate,
    * noise, off-domain spans inside otherwise-good pages).
    *
    * Output, one row per non-empty document: (doc_id, n_tokens, n_kept,
    * kept_frac, mean_excess, kept_md5) — `kept_md5` fingerprints the kept
    * POSITIONS in ascending order, so two engines agree on exactly WHICH
    * tokens survive, not just how many. Ties in excess break by position
    * (earlier token wins) — a total order. Empty docs emit nothing (no
    * scorable tokens).
    *
    * Scale shape: two scan-stage scoring streams (cap-bounded broadcast
    * models), one (doc_id, pos) equi-join, one doc-keyed window —
    * per-document state only; no corpus-global ordering anywhere. The
    * excess is exact DECIMAL arithmetic on the round-9 per-token
    * log-probs, so the ranking (and the md5) is engine-independent. */
  def selectiveTokens(docs: DataFrame, idCol: String, textCol: String,
                      targetRef: DataFrame, generalRef: DataFrame,
                      vocabCap: Int, bigramCap: Int,
                      keepFrac: Double): DataFrame =
    selectiveTokensLm(docs, idCol, textCol,
      trainBigramLm(targetRef, idCol, textCol, vocabCap, bigramCap),
      trainBigramLm(generalRef, idCol, textCol, vocabCap, bigramCap),
      keepFrac)

  /** [[selectiveTokens]] against PRE-TRAINED models — the train-once /
    * score-many deployment shape: a selection pipeline trains its
    * in-domain and general models once per corpus snapshot and feeds the
    * same pair to every stage that scores against it (token selection,
    * DoReMi reweighting, CE selection), instead of re-running the
    * corpus-scale training scans per stage. */
  def selectiveTokensLm(docs: DataFrame, idCol: String, textCol: String,
                        lmT: BigramLm, lmG: BigramLm,
                        keepFrac: Double): DataFrame =
    selectiveTokensScored(dualTokenScores(docs, idCol, textCol, lmT, lmG),
      keepFrac)

  /** Per-token DUAL-model scores — score once, consume many: (doc_id, pos,
    * lp_t, lp_g), one row per token position (both models score every
    * position — OOV folds to the unk row, it is never dropped — so the
    * position join is lossless). A selection pipeline computes this frame
    * ONCE (persisting it via the caller's CacheScope if it roots several
    * consumers) and feeds BOTH the RHO-1 token filter
    * ([[selectiveTokensScored]]) and the DoReMi reweighting
    * ([[doremiWeightsScored]]) — two corpus-scale scoring scans total,
    * instead of the four that separate Lm-operator calls pay. */
  def dualTokenScores(docs: DataFrame, idCol: String, textCol: String,
                      lmT: BigramLm, lmG: BigramLm): DataFrame =
    dualTokenLogProbsToks(sharedToks(docs, idCol, textCol), lmT, lmG)

  /** [[selectiveTokens]] from a pre-scored [[dualTokenScores]] frame. */
  def selectiveTokensScored(scored: DataFrame, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id")
    val ranked = scored
      .withColumn("excess", (col("lp_t") - col("lp_g")).cast("decimal(28,9)"))
      .withColumn("__r", row_number().over(
        wDoc.orderBy(col("excess").desc, col("pos"))))
      .withColumn("__n", count(lit(1)).over(wDoc))
    ranked
      .filter(col("__r") <= ceil(lit(keepFrac) * col("__n")).cast("long"))
      .groupBy("doc_id")
      .agg(max("__n").cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_kept"),
        round(count(lit(1)).cast("double") / max("__n"), 6).as("kept_frac"),
        round(sum("excess").cast("double") / count(lit(1)), 6).as("mean_excess"),
        md5(array_join(transform(sort_array(collect_list(col("pos"))),
          _.cast("string")), " ")).as("kept_md5"))
  }

  /** One DoReMi-style domain-reweighting step (Xie et al., 2023): measure
    * each domain's EXCESS LOSS — how much worse the proxy model (trained on
    * `proxyRef`) scores the domain than the reference model (trained on
    * `refRef`), clipped at zero — and update the mixture weights
    * multiplicatively: `w'_i ∝ w_init · exp(η · excess_i)`, then mix with
    * the uniform distribution at rate `smoothing` so no domain's weight
    * can collapse to zero. Domains the proxy handles WORSE than the
    * reference (high headroom) gain weight — the DoReMi signal that
    * up-weighting them most improves the final model. `w_init` is uniform
    * over the observed domains (DoReMi's initialization).
    *
    * Output: (sourceCol, n_docs, excess, w_init, w_updated), one row per
    * domain with data, weights summing to 1 up to round-6.
    *
    * Scale shape: two [[perplexity]] scan-stage scoring passes (cap-bounded
    * broadcast models) + ONE per-doc equi-join and one partial-agg groupBy
    * to the domains-bounded frame; all weight math runs on that bounded
    * frame with exact DECIMAL normalization sums (order-independent), so
    * the weights are engine-reproducible. */
  def doremiWeights(docs: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, proxyRef: DataFrame, refRef: DataFrame,
                    vocabCap: Int, bigramCap: Int,
                    eta: Double, smoothing: Double): DataFrame = {
    require(eta > 0.0, "eta must be positive")
    require(smoothing >= 0.0 && smoothing < 1.0, "smoothing must be in [0, 1)")
    doremiWeightsLm(docs, idCol, textCol, sourceCol,
      trainBigramLm(proxyRef, idCol, textCol, vocabCap, bigramCap),
      trainBigramLm(refRef, idCol, textCol, vocabCap, bigramCap),
      eta, smoothing)
  }

  /** [[doremiWeights]] against PRE-TRAINED proxy/reference models — see
    * [[selectiveTokensLm]] for the train-once rationale; a selection
    * capstone shares ONE (in-domain, general) model pair across its token
    * filter and its domain reweighting. */
  def doremiWeightsLm(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, lmProxy: BigramLm, lmRef: BigramLm,
                      eta: Double, smoothing: Double): DataFrame = {
    val toks = sharedToks(docs, idCol, textCol)
    // fused dual pass (r20): lp_t scores the proxy, lp_g the reference —
    // one token-stream scan instead of two plus a per-doc join
    doremiFromDocScores(docs, idCol, sourceCol,
      dualDocScores(toks, lmProxy, lmRef)
        .select(col("doc_id"), col("logp_target").as("lp_p"),
          col("logp_general").as("lp_r")),
      eta, smoothing)
  }

  /** [[doremiWeights]] from a pre-scored [[dualTokenScores]] frame (lp_t =
    * the REFERENCE model, lp_g = the PROXY): per-doc averages fold from the
    * shared frame in ONE aggregation with the same round-6 contract as
    * [[perplexity]], so the result is bit-identical to the ref-trained
    * path. */
  def doremiWeightsScored(docs: DataFrame, idCol: String, sourceCol: String,
                          scored: DataFrame, eta: Double,
                          smoothing: Double): DataFrame =
    doremiFromDocScores(docs, idCol, sourceCol,
      scored.groupBy("doc_id").agg(
        round(sum("lp_g").cast("double") / count(lit(1)), 6).as("lp_p"),
        round(sum("lp_t").cast("double") / count(lit(1)), 6).as("lp_r")),
      eta, smoothing)

  private def doremiFromDocScores(docs: DataFrame, idCol: String,
                                  sourceCol: String, scores: DataFrame,
                                  eta: Double, smoothing: Double): DataFrame = {
    require(eta > 0.0, "eta must be positive")
    require(smoothing >= 0.0 && smoothing < 1.0, "smoothing must be in [0, 1)")
    val gap = greatest(lit(0.0), round(col("lp_r") - col("lp_p"), 6))
    // sources-bounded, localized: three consumers derive from it (the k
    // broadcast, the z broadcast, the final select) and each would re-run
    // the corpus-scale score join+agg upstream (BoundedFrames.localize)
    val perDomain = graft.core.BoundedFrames.localize(
      docs.select(col(idCol).as("doc_id"), col(sourceCol))
        .join(scores, Seq("doc_id"))
        .groupBy(col(sourceCol))
        .agg(count(lit(1)).as("n_docs"),
          sum(gap.cast("decimal(28,6)")).as("__gapSum"))
        .withColumn("excess",
          round(col("__gapSum").cast("double") / col("n_docs"), 6)))
    val k = broadcast(perDomain.agg(
      count(lit(1)).cast("double").as("__k")))
    val termed = perDomain.crossJoin(k)
      .withColumn("w_init", lit(1.0) / col("__k"))
      .withColumn("__term",
        round(exp(lit(eta) * col("excess")) / col("__k"), 9)
          .cast("decimal(28,9)"))
    val z = broadcast(termed.agg(sum(col("__term")).as("__z")))
    termed.crossJoin(z)
      .select(col(sourceCol), col("n_docs"), col("excess"), col("w_init"),
        round(lit(1.0 - smoothing) *
            (col("__term").cast("double") / col("__z").cast("double")) +
          lit(smoothing) / col("__k"), 6).as("w_updated"))
  }

  // ==================== trigram order ====================

  /** A trained TRIGRAM stupid-backoff model: the [[BigramLm]] plus a capped
    * (prev2, prev, w, ct) table. A higher order matters for the CCNet role:
    * the production filter is a 5-gram KenLM, and each added order sharpens
    * the fluency signal (a bigram model cannot tell "the the the" prose
    * from real syntax beyond adjacent pairs). The trigram frame is
    * `trigramCap`-bounded — broadcastable by construction, like the other
    * model frames. */
  case class TrigramLm(base: BigramLm, trigrams: DataFrame) {
    def unigrams: DataFrame = base.unigrams
    def bigrams: DataFrame = base.bigrams
  }

  /** The (doc_id, pos, prev2, prev, w) normalized stream — [[normStream]]
    * with a second 2-shifted predecessor (null at positions 1-2). Built by
    * zipping the token array with both shifted copies BEFORE exploding —
    * still scan-stage only; two lag() windows would shuffle the corpus
    * twice for the same result. */
  private def normStream3(toks: DataFrame, vocab: DataFrame): DataFrame = {
    val n = size(col("toks"))
    val nullS = lit(null).cast("string")
    val prev1 = when(n >= 1,
      concat(array(nullS), slice(col("toks"), lit(1), greatest(n - 1, lit(0)))))
      .otherwise(col("toks"))
    val prev2 = when(n >= 2,
      concat(array(nullS, nullS),
        slice(col("toks"), lit(1), greatest(n - 2, lit(0)))))
      .otherwise(transform(col("toks"), _ => nullS))
    val zipped = zip_with(
      zip_with(col("toks"), prev1, (t, p) => struct(t.as("t"), p.as("p1"))),
      prev2,
      (s, p2) => struct(s.getField("t").as("t"), s.getField("p1").as("p1"),
        p2.as("p2")))
    val z = toks.select(col("doc_id"), posexplode(zipped))
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        col("col.t").as("tok"), col("col.p1").as("prev1Raw"),
        col("col.p2").as("prev2Raw"))
    def member(name: String) = broadcast(
      vocab.select(col("tok").as(s"__v$name"), lit(1).as(s"__m$name")))
    def norm(raw: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
      when(raw.isNull, lit(null).cast("string"))
        .when(m.isNotNull, raw).otherwise(lit(Unk))
    z.join(member("w"), col("tok") === col("__vw"), "left")
      .join(member("p"), col("prev1Raw") === col("__vp"), "left")
      .join(member("q"), col("prev2Raw") === col("__vq"), "left")
      .select(col("doc_id"), col("pos"),
        norm(col("prev2Raw"), col("__mq")).as("prev2"),
        norm(col("prev1Raw"), col("__mp")).as("prev"),
        when(col("__mw").isNotNull, col("tok")).otherwise(lit(Unk)).as("w"))
  }

  /** Train the trigram model: the bigram training pass plus ONE more
    * groupBy-count over the 3-token stream and one more distributed top-k
    * cut (count desc, then keys asc — a total order, deterministic at tie
    * boundaries like the other caps). */
  def trainTrigramLm(ref: DataFrame, idCol: String, textCol: String,
                     vocabCap: Int = 65536, bigramCap: Int = 1 << 20,
                     trigramCap: Int = 1 << 22): TrigramLm = {
    val base = trainBigramLm(ref, idCol, textCol, vocabCap, bigramCap)
    val toks = tokFrame(ref, idCol, textCol)
    // localized like the base model's frames (cap-bounded; the lineage
    // would otherwise re-tokenize the reference corpus per broadcast)
    val tri = graft.core.BoundedFrames.localize(normStream3(toks, base.vocab)
      .filter(col("prev2").isNotNull)
      .groupBy("prev2", "prev", "w").agg(count(lit(1)).as("ct"))
      .orderBy(desc("ct"), asc("prev2"), asc("prev"), asc("w"))
      .limit(trigramCap))
    TrigramLm(base, tri)
  }

  /** Per-document perplexity under a trigram model. Token score S:
    *  - position 1: add-one-smoothed unigram (as the bigram model);
    *  - position 2: the bigram chain (`c(prev,w)/c(prev)` when the bigram
    *    survived its cap, else `0.4 x` smoothed unigram);
    *  - position >= 3: `c(prev2,prev,w) / c(prev2,prev)` when BOTH the
    *    trigram and its context pair survived their caps (the cap plays
    *    the role count>0 plays in uncapped stupid backoff — one documented
    *    contract for every order), else `0.4 x` the bigram chain (which
    *    itself backs off, so the full fallback is `0.16 x` unigram).
    * Same rounding/decimal-sum parity contract as [[perplexity]]. */
  def perplexityTrigram(docs: DataFrame, idCol: String, textCol: String,
                        lm: TrigramLm): DataFrame = {
    val ns = normStream3(tokFrame(docs, idCol, textCol), lm.base.vocab)
    val uniW = broadcast(lm.unigrams.select(col("tok").as("__uw"), col("c").as("cu")))
    val uniP = broadcast(lm.unigrams.select(col("tok").as("__up"), col("c").as("cprev")))
    val big = broadcast(lm.bigrams.select(
      col("prev").as("__bp"), col("w").as("__bw"), col("cb")))
    val bigCtx = broadcast(lm.bigrams.select(
      col("prev").as("__cp"), col("w").as("__cw"), col("cb").as("cbc")))
    val tri = broadcast(lm.trigrams.select(
      col("prev2").as("__t2"), col("prev").as("__t1"), col("w").as("__tw"),
      col("ct")))
    val denom = lit((lm.base.totalTokens + lm.base.vocabTypes + 1).toDouble)
    val sUni = (coalesce(col("cu"), lit(0L)).cast("double") + lit(1.0)) / denom
    val sBi = when(col("cb").isNotNull && col("cprev") > 0,
        col("cb").cast("double") / col("cprev").cast("double"))
      .otherwise(lit(Backoff) * sUni)
    val s = when(col("prev").isNull, sUni)
      .when(col("prev2").isNull, sBi)
      .when(col("ct").isNotNull && col("cbc").isNotNull,
        col("ct").cast("double") / col("cbc").cast("double"))
      .otherwise(lit(Backoff) * sBi)
    ns.join(tri, col("prev2") === col("__t2") && col("prev") === col("__t1") &&
        col("w") === col("__tw"), "left")
      .join(bigCtx, col("prev2") === col("__cp") && col("prev") === col("__cw"), "left")
      .join(big, col("prev") === col("__bp") && col("w") === col("__bw"), "left")
      .join(uniW, col("w") === col("__uw"), "left")
      .join(uniP, col("prev") === col("__up"), "left")
      .select(col("doc_id"),
        round(log(s), 9).cast("decimal(28,9)").as("lp"))
      .groupBy("doc_id")
      .agg(pplAggs.head, pplAggs.tail: _*)
  }

  /** Train-and-score convenience for the trigram order. */
  def perplexityTrigramAgainst(docs: DataFrame, ref: DataFrame,
                               idCol: String, textCol: String,
                               vocabCap: Int = 65536, bigramCap: Int = 1 << 20,
                               trigramCap: Int = 1 << 22): DataFrame =
    perplexityTrigram(docs, idCol, textCol,
      trainTrigramLm(ref, idCol, textCol, vocabCap, bigramCap, trigramCap))

  // ==================== interpolated Kneser–Ney ====================

  /** Absolute-discount value (the standard fixed choice; 0.75 is exact in
    * binary, so discounted numerators are reproducible arithmetic). */
  val KnDiscount = 0.75

  /** An interpolated Kneser–Ney bigram model — the CANONICAL n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999 found the
    * interpolated form best-in-class), kept beside stupid backoff because
    * the two disagree exactly where quality filtering cares: backoff
    * scores a word after an unseen context by its RAW frequency, KN by its
    * CONTINUATION frequency — "Francisco" is frequent but follows almost
    * nothing except "San", so KN correctly distrusts it in fresh contexts.
    *
    * Frames (all cap-bounded, broadcastable): `vocab` (tok, c) raw top
    * types; `bigrams` (prev, w, cb) the capped normalized pair counts;
    * `ctx` (prev, cv, n1v) per-context totals and distinct-continuation
    * counts; `cont` (w, n1w) per-word distinct-context counts — ctx/cont
    * derive from the CAPPED pair table, so the pruned model is internally
    * consistent (Σ_w P(w|v) = 1 over its own support, the standard
    * pruned-KN convention). `bigramTypes`/`vocabTypes` feed the smoothed
    * continuation denominator. */
  case class KneserNeyLm(vocab: DataFrame, bigrams: DataFrame,
                         ctx: DataFrame, cont: DataFrame,
                         bigramTypes: Long, vocabTypes: Long)

  /** Train an interpolated-KN bigram model: one raw unigram count for the
    * vocab cut, one normalized pair count (the [[trainBigramLm]] shape),
    * then two groupBys over the CAP-BOUNDED pair table for the context and
    * continuation statistics — model-sized work after the two corpus
    * passes. */
  def trainKneserNey(ref: DataFrame, idCol: String, textCol: String,
                     vocabCap: Int = 65536, bigramCap: Int = 1 << 20,
                     scope: graft.core.CacheScope.Handle =
                       graft.core.CacheScope.detached): KneserNeyLm = {
    val toks = tokFrame(ref, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val vocab = scope.pin(
      toks.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("tok")).limit(vocabCap)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val big = scope.pin(
      normStream(toks, vocab).filter(col("prev").isNotNull)
        .groupBy("prev", "w").agg(count(lit(1)).as("cb"))
        .orderBy(desc("cb"), asc("prev"), asc("w")).limit(bigramCap)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // all four lookup frames localized (vocab/bigram-cap-bounded): the
    // scorer broadcasts each one, and distributed lineage would re-run
    // the training aggregations per broadcast (BoundedFrames.localize)
    val vb = graft.core.BoundedFrames.localize(vocab)
    val bg = graft.core.BoundedFrames.localize(big)
    val ctx = graft.core.BoundedFrames.localize(bg.groupBy(col("prev"))
      .agg(sum("cb").as("cv"), count(lit(1)).as("n1v")))
    val cont = graft.core.BoundedFrames.localize(
      bg.groupBy(col("w")).agg(count(lit(1)).as("n1w")))
    val meta = bg.count()
    val u = vb.count()
    val lm = KneserNeyLm(vb, bg, ctx, cont, bigramTypes = meta, vocabTypes = u)
    toks.unpersist()
    lm
  }

  /** Per-document perplexity under interpolated Kneser–Ney. Token score:
    *
    *  - smoothed continuation unigram
    *    `pc(w) = (n1w + 1) / (T + U + 1)` (add-one over continuation
    *    TYPES — always positive, so ln is defined for any token,
    *    including `<unk>` in a corpus where it never continues anything);
    *  - position 1 or unseen context: `pc(w)`;
    *  - seen context: `max(cb − D, 0)/cv + ((D · n1v)/cv) · pc(w)` — the
    *    interpolated form, with the fixed parenthesization both engines
    *    replay.
    *
    * Output shape matches [[perplexity]]: (doc_id, n_scored, avg_logp,
    * ppl), round-9 decimal log sums. Shape: the same scan-stage stream +
    * FOUR broadcast lookups (pair, context, continuation, vocab) + one
    * groupBy(doc). */
  def perplexityKneserNey(docs: DataFrame, idCol: String, textCol: String,
                          lm: KneserNeyLm): DataFrame =
    knTokenLogProbs(docs, idCol, textCol, lm)
      .groupBy("doc_id")
      .agg(pplAggs.head, pplAggs.tail: _*)

  /** The stateless half of KN scoring — (doc_id, extra..., lp): scan-stage
    * stream + four broadcast model lookups, mirroring [[tokenLogProbs]]'s
    * contract. */
  private[graft] def knTokenLogProbs(docs: DataFrame, idCol: String,
                                     textCol: String, lm: KneserNeyLm,
                                     extra: Seq[String] = Nil): DataFrame = {
    val ns = normStream(tokFrame(docs, idCol, textCol, extra),
      lm.vocab.select("tok"), extra)
    val big = broadcast(lm.bigrams.select(
      col("prev").as("__bp"), col("w").as("__bw"), col("cb")))
    val ctx = broadcast(lm.ctx.select(
      col("prev").as("__cp"), col("cv"), col("n1v")))
    val cont = broadcast(lm.cont.select(col("w").as("__cw"), col("n1w")))
    val denom = lit((lm.bigramTypes + lm.vocabTypes + 1).toDouble)
    val pc = (coalesce(col("n1w"), lit(0L)).cast("double") + lit(1.0)) / denom
    val d = lit(KnDiscount)
    val s = when(col("prev").isNull || col("cv").isNull, pc)
      .otherwise(
        greatest(coalesce(col("cb"), lit(0L)).cast("double") - d, lit(0.0)) /
          col("cv").cast("double") +
          ((d * col("n1v").cast("double")) / col("cv").cast("double")) * pc)
    ns.join(big, col("prev") === col("__bp") && col("w") === col("__bw"), "left")
      .join(ctx, col("prev") === col("__cp"), "left")
      .join(cont, col("w") === col("__cw"), "left")
      .select((col("doc_id") +: extra.map(col)) :+
        round(log(s), 9).cast("decimal(28,9)").as("lp"): _*)
  }
}
