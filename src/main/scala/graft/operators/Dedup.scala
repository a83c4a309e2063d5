package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{CacheScope, Parallelism}
import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash group-by — one shuffle on the content hash;
  *  - near-dup never materializes the O(n^2) pair space: candidates come from
  *    an inverted index (Jaccard), LSH band buckets (MinHash), or signature
  *    band buckets (SimHash), so the join is bucket-local;
  *  - the known skew lever is high-document-frequency tokens; `maxTokenDf`
  *    drops them from candidate generation (standard stopword-df cut).
  */
object Dedup {

  /** Exact dedup by content hash: every row keeps its dup-group id and a
    * deterministic keeper flag (lowest id in the group wins). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grp = Window.partitionBy(md5(col(textCol)))
    docs.select(
      col(idCol),
      md5(col(textCol)).as("content_hash"),
      (col(idCol) === min(col(idCol)).over(grp)).as("is_keeper"),
      count(lit(1)).over(grp).as("dup_count"))
  }

  /** Keeper POLICY over any clustering — exact groups, LSH clusters, or
    * [[connectedComponents]] labels: within each cluster keep the row with
    * the BEST `score` (ties to the smallest id), instead of the default
    * min-id keeper. This is the curation move that makes dedup quality-
    * aware: when near-duplicates differ in extraction quality, the cluster
    * should contribute its best exemplar, not its oldest. Window partitions
    * are cluster-bounded, never corpus-bounded — the same scale argument as
    * every per-doc window in the suite. */
  def clusterKeepersBy(labeled: DataFrame, idCol: Column, clusterCol: Column,
                       score: Column): DataFrame = {
    val w = Window.partitionBy(clusterCol).orderBy(score.desc, idCol.asc)
    labeled.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1).drop("__r")
  }

  /** SOFT dedup labeling: every document gets its near-dup cluster label,
    * the cluster's size, and a resampling weight 1/|cluster| — the
    * "downweight, don't drop" alternative to keeper selection (Muennighoff
    * et al., "Scaling Data-Constrained Language Models", use repeated data
    * at reduced weight rather than discarding it; cluster-size reweighting
    * is the standard soft variant). Documents in no pair are singleton
    * clusters with weight 1. Dropping duplicates loses paraphrase diversity;
    * weighting keeps every surface form while restoring the content's
    * effective frequency to ~1.
    *
    * Scale shape: labels come from the star-contraction loop (edge-bounded);
    * cluster sizes are a partial-agg groupBy over the LABEL frame (cluster-
    * count-sized), joined back — the corpus is touched by exactly one left
    * join against clustered-doc-sized frames, never windowed. */
  def softDedupWeights(docs: DataFrame, idCol: String,
                       pairs: DataFrame): DataFrame = {
    // sizes fold from the LABEL frame (clustered docs only — bounded by the
    // pair graph), never from the labeled corpus: a corpus-side groupBy
    // would emit one row per singleton and turn both the agg and the
    // back-join into corpus-wide shuffles. Singletons take size 1 by
    // coalesce instead.
    val labels = connectedComponents(pairs)
      .select(col("id").as("__sd_id"), col("comp").as("__sd_comp"))
    val sizes = labels.groupBy(col("__sd_comp"))
      .agg(count(lit(1)).as("__sd_n"))
    val withSizes = labels.join(sizes, Seq("__sd_comp"))
    docs.join(withSizes, docs(idCol) === col("__sd_id"), "left")
      .withColumn("comp", coalesce(col("__sd_comp"), docs(idCol)))
      .withColumn("cluster_size", coalesce(col("__sd_n"), lit(1L)))
      .drop("__sd_id", "__sd_comp", "__sd_n")
      .withColumn("weight", lit(1.0) / col("cluster_size"))
  }

  /** Realize [[softDedupWeights]] as a deterministic sample: keep each row
    * iff its raw 60-bit hash falls below floor(2^60 / cluster_size) — pure
    * integer arithmetic, so the expected exemplar count per cluster is
    * size·floor(2^60/size)/2^60 ∈ (1 − size/2^60, 1] at ANY cluster size
    * (a bucket-space-bounded rule like b·size < 2^20 would floor P(keep) at
    * 2^-20 and over-keep giant boilerplate cliques linearly), and any
    * engine computing the same md5-prefix hash draws the identical sample.
    * The `kept` flag is emitted rather than filtered so callers can audit
    * what a pipeline would drop. */
  def softDedupSample(docs: DataFrame, idCol: String, pairs: DataFrame,
                      salt: String = ""): DataFrame =
    softDedupWeights(docs, idCol, pairs).withColumn("kept",
      tokenFp60(concat(col(idCol).cast("string"), lit(salt)))
        < expr(s"${1L << 60}L div cluster_size"))

  /** (doc_id, token) inverted-index edge list over distinct features of the
    * text. `tokens` picks the feature space: unigram token sets by default;
    * pass `t => array_distinct(TextFunctions.shingles(t, k))` for word
    * k-shingles — the right choice at scale, since shingle document
    * frequencies stay low where a small word vocabulary would make the
    * inverted-index self-join quadratic. */
  def tokenIndex(docs: DataFrame, idCol: String, textCol: String,
                 tokens: Column => Column = TextFunctions.tokenSet): DataFrame =
    Parallelism.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), explode(tokens(col(textCol))).as("tok"))

  /** Token-set (n-gram=1) Jaccard near-duplicate pairs above `threshold`.
    * Inverted-index self-join: |A∩B| = count of shared tokens, sizes joined
    * back, J = common / (|A| + |B| - common). Returns (id_a < id_b, jaccard).
    * `maxTokenDf`: tokens present in more than this many documents are
    * excluded from candidate generation (skew/scale lever; <=0 disables). */
  /** 60-bit token fingerprint (first 15 hex nibbles of md5 read big-endian):
    * shuffles and joins compare a long instead of an arbitrary-length token
    * string. Collision odds at 2^60 are negligible (~1e-8 for a million
    * distinct tokens), and any engine mirroring the same md5 prefix computes
    * identical values. */
  def tokenFp60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, maxTokenDf: Long = 0L,
                   tokens: Column => Column = TextFunctions.tokenSet,
                   scope: CacheScope.Handle = CacheScope.detached): DataFrame =
    pairCommonSizes(docs, idCol, textCol, maxTokenDf, tokens, scope)
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** CROSS-CORPUS Jaccard linkage: near-duplicate pairs BETWEEN two
    * document frames (id_left from `left`, id_right from `right`) — the
    * record-linkage / corpus-alignment shape: match a fresh crawl against a
    * curated corpus, align two dump versions, or score a vendor delivery
    * against what you already hold. The self-join variant
    * ([[jaccardPairs]]) cannot express this: its `id_a < id_b` orientation
    * assumes one id space, and a unioned corpus would also pay for
    * within-side pairs nobody asked for.
    *
    * Same scale discipline as the self-join: both sides become fp60
    * inverted indexes; the document-frequency cut is computed over the
    * UNION of the two token streams (a token ubiquitous in either corpus
    * makes the join bucket quadratic, so both occurrences must go);
    * candidates come from the tok equi-join (shuffle_hash-pinned — either
    * side may be corpus-scaled), partial-agg to (id_left, id_right,
    * common), and sizes join back from the post-cut per-doc counts. */
  def jaccardJoinAcross(left: DataFrame, right: DataFrame, idCol: String,
                        textCol: String, threshold: Double,
                        maxTokenDf: Long = 0L,
                        tokens: Column => Column = TextFunctions.tokenSet,
                        scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    val tl0 = tokenIndex(left, idCol, textCol, tokens)
      .select(col("doc_id"), tokenFp60(col("tok")).as("tok"))
    val tr0 = tokenIndex(right, idCol, textCol, tokens)
      .select(col("doc_id"), tokenFp60(col("tok")).as("tok"))
    // each side feeds two consumers (candidate join + its sizes agg), and
    // with a df cut the pre-cut index additionally feeds the union-df
    // aggregation: persist the frame each consumer actually reads — the
    // POST-cut one when cutting (and release the pre-cut cache once the cut
    // frame is materialized, the pairCommonSizes discipline), the raw index
    // otherwise. Without this the union-df shuffle and both semi-joins
    // would re-execute once per consumer.
    val tl = tl0.persist(StorageLevel.MEMORY_AND_DISK)
    val tr = tr0.persist(StorageLevel.MEMORY_AND_DISK)
    tl.count(); tr.count()
    val (cl, cr) = if (maxTokenDf > 0) {
      val keep = tl.select("tok").unionAll(tr.select("tok"))
        .groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxTokenDf)
        .select("tok")
      val l = scope.pin(tl.hint("shuffle_hash")
        .join(keep.hint("shuffle_hash"), Seq("tok"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
      val r = scope.pin(tr.hint("shuffle_hash")
        .join(keep.hint("shuffle_hash"), Seq("tok"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
      l.count(); r.count()
      tl.unpersist(); tr.unpersist()
      (l, r)
    } else (scope.pin(tl), scope.pin(tr))
    val sizesL = cl.groupBy("doc_id").agg(count(lit(1)).as("n_l"))
      .withColumnRenamed("doc_id", "id_left").hint("shuffle_hash")
    val sizesR = cr.groupBy("doc_id").agg(count(lit(1)).as("n_r"))
      .withColumnRenamed("doc_id", "id_right").hint("shuffle_hash")
    val common = cl.as("a").hint("shuffle_hash")
      .join(cr.as("b").hint("shuffle_hash"), col("a.tok") === col("b.tok"))
      .groupBy(col("a.doc_id").as("id_left"), col("b.doc_id").as("id_right"))
      .agg(count(lit(1)).as("common"))
    common.join(sizesL, "id_left").join(sizesR, "id_right")
      .withColumn("jaccard",
        col("common").cast("double") / (col("n_l") + col("n_r") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** Symmetric containment near-dup pairs: containment = common /
    * min(|A|, |B|) — flags SUB-document duplication (one document quoted or
    * embedded inside another) that Jaccard dilutes away when the containing
    * document is much larger. Same inverted-index candidate generation as
    * [[jaccardPairs]]. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxTokenDf: Long = 0L,
                       tokens: Column => Column = TextFunctions.tokenSet,
                       scope: CacheScope.Handle = CacheScope.detached): DataFrame =
    pairCommonSizes(docs, idCol, textCol, maxTokenDf, tokens, scope)
      .withColumn("containment",
        col("common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")

  /** Shared inverted-index pair statistics: (id_a < id_b, common, n_a, n_b)
    * over the distinct feature sets of the two documents. */
  private def pairCommonSizes(docs: DataFrame, idCol: String, textCol: String,
                              maxTokenDf: Long,
                              tokens: Column => Column,
                              scope: CacheScope.Handle): DataFrame = {
    val tok1 = tokenIndex(docs, idCol, textCol, tokens)
      .select(col("doc_id"), tokenFp60(col("tok")).as("tok"))
    // df cut as a partial-aggregable groupBy + shuffle_hash semi-join, NOT a
    // broadcast-joined df table (the distinct-token table grows with the
    // corpus — billions at 100 TB — so broadcasting it would overflow the
    // driver) and NOT a window over tok (token frequencies are zipfian, so a
    // stopword's window partition is corpus-sized on one straggler task and
    // AQE cannot split a window partition; the groupBy collapses each map
    // partition to one row per token before the shuffle, and the semi-join's
    // build side is the already-df-bounded qualifying-token set)
    // the pre-cut index is read twice (the df aggregation + the semi-join
    // left side): persist + materialize so tokenization/hashing runs once,
    // then release it as soon as the cut frame below is cache-backed
    val (tok0, preCut) = if (maxTokenDf > 0) {
      val all = tok1.persist(StorageLevel.MEMORY_AND_DISK)
      all.count()
      val keep = all.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxTokenDf)
        .select("tok")
      (all.hint("shuffle_hash")
        .join(keep.hint("shuffle_hash"), Seq("tok"), "left_semi"), Some(all))
    } else (tok1, None)
    // the edge list is read three times (self-join both sides + sizes);
    // persist so tokenization/hashing runs once, not three times. The
    // count() materializes the cache up front — otherwise the join branches
    // race to populate it and can each recompute the full pipeline.
    val tok = scope.pin(tok0.persist(StorageLevel.MEMORY_AND_DISK))
    tok.count()
    preCut.foreach(_.unpersist())
    // shuffle_hash hints on every join of corpus-scaled frames: their cached
    // size estimates straddle autoBroadcastJoinThreshold at bench SFs, so the
    // planner otherwise FLIPS between broadcasting the whole token index and
    // shuffle-joining it from run to run (observed as bimodal bench timings),
    // and a broadcast whose build side grows with the corpus is never the
    // plan we'd want at scale. shuffle_hash is also the cheap strategy here:
    // the df-cut semi-join already hash-partitioned the cache on tok, and
    // per-partition build sides stay bounded by the same df cut.
    val toks = tok.hint("shuffle_hash")
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
      .hint("shuffle_hash")
    val common = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_tok", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_tok", "n_b"), "id_b")
  }

  /** 2^31-1: every universal-hash intermediate a*x+b stays far below 2^63,
    * so the arithmetic is exact in any engine with 64-bit integers. */
  val HashPrime = 2147483647L

  /** Fixed (a, b) pairs for the per-permutation universal hashes, drawn once
    * from a seeded PRNG (so both the Spark plan and any mirroring oracle SQL
    * are generated from the same constants). */
  val HashParams: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(64)(
      (rnd.nextInt(Int.MaxValue - 1).toLong + 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** 28-bit token fingerprint: the first 7 hex nibbles of md5(tok) read
    * big-endian, plus 1 (keeps x > 0 so a*x never degenerates to b). */
  private def tokenFingerprint(tok: Column): Column =
    conv(substring(md5(tok), 1, 7), 16, 10).cast("long") + 1L

  /** MinHash signature: one row per doc with columns h0..h{k-1}, where
    * h_i = min over tokens of ((a_i * x(tok) + b_i) mod HashPrime).
    *
    * Scale shape: ONE md5 per (doc, token) edge — the k permutations are
    * cheap integer ops on the same fingerprint, not k separate hashes — and
    * the minima are plain agg columns, so partial (map-side) aggregation
    * collapses each partition to one row per doc before the single shuffle.
    * No row blowup by k, no collect_list. */
  def minhashSig(docs: DataFrame, idCol: String, textCol: String, k: Int,
                 tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    require(k <= HashParams.length, s"k <= ${HashParams.length}")
    val x = tokenFingerprint(col("tok"))
    val mins = (0 until k).map { i =>
      val (a, b) = HashParams(i)
      min(pmod(lit(a) * x + lit(b), lit(HashPrime))).as(s"h$i")
    }
    tokenIndex(docs, idCol, textCol, tokens)
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
  }

  /** Per-ROW minhash signature h0..h{k-1} — the stateless twin of
    * [[minhashSig]]: the same (a*x + b) mod P permutation minima, computed
    * as array folds over the row's own token set instead of a min-groupBy
    * over the exploded token index: zero shuffles and zero state, and the
    * differential reference OperatorsSpec checks [[minhashSig]] against.
    * Values are identical to [[minhashSig]] for any non-empty token set —
    * min over the same multiset. A doc with
    * NO tokens (absent from minhashSig's grouped output entirely) yields
    * null minima here; its bands hash a constant that can only collide
    * with other empty docs, and exact-Jaccard verification (null on empty
    * sets) then rejects the pair — so both formulations produce the same
    * verified PAIRS.
    *
    * The token fingerprints are STAGED in their own projection (one md5
    * per token), and only the cheap (a*x + b) mod P folds repeat per
    * permutation. Inlining the fingerprint into each permutation lambda
    * instead costs k md5s per token — measured 40x slower at k = 32
    * (ScaleCheck sig_row, SCALE.md r12) — and the two projections stay
    * separate precisely because CollapseProject refuses to duplicate a
    * non-cheap alias referenced k times. */
  def withMinhashSigCols(df: DataFrame, textCol: Column, k: Int,
                         tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    require(k <= HashParams.length, s"k <= ${HashParams.length}")
    val taken = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val fpsCol = Iterator.from(0).map(i => s"__graft_fps_$i")
      .find(n => !taken.contains(n)).get
    val sigs = (0 until k).map { i =>
      val (a, b) = HashParams(i)
      array_min(transform(col(fpsCol),
        x => pmod(lit(a) * x + lit(b), lit(HashPrime)))).as(s"h$i")
    }
    df.withColumn(fpsCol, transform(tokens(textCol), t => tokenFingerprint(t)))
      .select(col("*") +: sigs: _*)
      .drop(fpsCol)
  }

  /** ONE-PERMUTATION MinHash signature (OPH — Li/Owen/Zhang 2012) with
    * rotation densification (Shrivastava/Li 2014): the k-permutation
    * signature's big-corpus variant. [[minhashSig]] pays k permutation
    * min-aggregates PER TOKEN EDGE (cheap integer ops, but k of them);
    * OPH hashes each token ONCE into bin `fp mod k`, takes one permuted
    * min per bin, and fills EMPTY bins by rotating to the nearest
    * non-empty bin clockwise with an offset of `t · HashPrime` per step —
    * distinct rotation distances can never collide with true minima, so
    * banding over densified slots keeps the collision semantics the LSH
    * join needs. Per token edge the map side now does ONE bin assignment
    * + ONE permutation instead of k — the 100 TB signature-build lever.
    *
    * Output schema matches [[minhashSig]] (doc_id, h0..h{k-1}), so
    * [[minhashBands]] and every banded join downstream consume OPH
    * signatures unchanged. (OPH slots are NOT value-compatible with the
    * k-permutation slots — pick one scheme per index.) Slot j of a doc
    * whose bin j is occupied is `min((a0·x + b0) mod P)` over that bin's
    * tokens; the structural densification pattern is spec-pinned. Scale
    * shape: the (doc, bin) min fold is map-side combined (one shuffle of
    * ≤k rows per doc), the densification a scan-stage coalesce chain over
    * a k-bounded map. */
  def minhashSigOph(docs: DataFrame, idCol: String, textCol: String, k: Int,
                    tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    require(k > 0 && k <= 64, s"k in 1..64, got $k")
    val (a0, b0) = HashParams(0)
    val g = tokenIndex(docs, idCol, textCol, tokens)
      // the fingerprint is staged in its own projection (ONE md5 per
      // token) — bin and permutation are cheap ops over it
      .select(col("doc_id"), tokenFingerprint(col("tok")).as("x"))
      .select(col("doc_id"), pmod(col("x"), lit(k.toLong)).as("bin"),
        pmod(lit(a0) * col("x") + lit(b0), lit(HashPrime)).as("pv"))
      .groupBy("doc_id", "bin")
      .agg(min("pv").as("v"))
    // densify through a nearest-occupied-bin search per slot (3 array ops
    // over the <=k keys) rather than a k-term coalesce per slot — the
    // k^2-term expression tree blows Janino's method limit and drops the
    // whole stage to interpreted execution. `__filled` is staged in its
    // own projection so the k getItems don't each re-evaluate it.
    val filled = transform(sequence(lit(0L), lit((k - 1).toLong)), j => {
      val nb = coalesce(
        array_min(filter(col("__keys"), b => b >= j)),
        array_min(col("__keys")) + lit(k.toLong))
      element_at(col("__m"), pmod(nb, lit(k.toLong))) +
        (nb - j) * lit(HashPrime)
    })
    g.groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("bin"), col("v"))))
        .as("__m"))
      .withColumn("__keys", map_keys(col("__m")))
      .withColumn("__filled", filled)
      .select(col("doc_id") +:
        (0 until k).map(j => col("__filled").getItem(j).as(s"h$j")): _*)
  }

  /** The banding expression shared by [[minhashBands]] and the streaming
    * probes: an array of (band, band_hash) structs over signature columns
    * h0..h{k-1}, band_hash = md5 over the band's signature slice. */
  private[graft] def bandStructs(k: Int, rowsPerBand: Int): Column = {
    val nBands = k / rowsPerBand
    array((0 until nBands).map { b =>
      val slice = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => col(s"h$i").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("band_hash"))
    }: _*)
  }

  /** LSH band buckets from a minhashSig frame: one row per (doc, band) with
    * band_hash = md5 over the band's signature slice. */
  def minhashBands(sig: DataFrame, k: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("doc_id"), explode(bandStructs(k, rowsPerBand)).as("e"))
      .select(col("doc_id"), col("e.band"), col("e.band_hash"))

  /** LSH recall/cost report: one row per (signature family × banding
    * config), both families measured against
    * ONE shared truth set. The truth computation (df-filtered all-pairs
    * Jaccard) dominates the report's cost and is family-independent, so a
    * bake-off that ran the report once per family paid it twice for no
    * information — this is the single-scan replacement (r18 suite trim).
    * `families`: false = k independent permutations ([[minhashSig]]),
    * true = one-permutation with rotation densification
    * ([[minhashSigOph]]). */
  def lshRecallMatrix(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, configs: Seq[(Int, Int)],
                      maxTokenDf: Long = 0L,
                      tokens: Column => Column = TextFunctions.tokenSet,
                      scope: CacheScope.Handle = CacheScope.detached,
                      families: Seq[Boolean] = Seq(false)): DataFrame = {
    require(configs.nonEmpty, "need at least one (k, rowsPerBand) config")
    require(families.nonEmpty, "need at least one signature family")
    val truth = scope.pin(
      jaccardPairs(docs, idCol, textCol, threshold, maxTokenDf, tokens, scope)
        .select("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK))
    truth.count()
    val tAgg = truth.agg(count(lit(1)).as("n_true_pairs"))
    // ONE persisted signature frame per (family, k) — r19 perf: the
    // signature is banding-independent, but built inline it re-ran once per
    // config AND once per self-join side (the bands frame below is derived,
    // not persisted): 2 configs × 2 sides = ~4 signature passes per family.
    // Persist + materialize, and every config's band derivation and both
    // join sides read the cache. Values are unchanged (the signature is a
    // deterministic function of the corpus).
    val sigCache = scala.collection.mutable.Map[(Boolean, Int), DataFrame]()
    def sigFor(oph: Boolean, k: Int): DataFrame =
      sigCache.getOrElseUpdate((oph, k), {
        val s0 = scope.pin(
          (if (oph) minhashSigOph(docs, idCol, textCol, k, tokens)
           else minhashSig(docs, idCol, textCol, k, tokens))
            .persist(StorageLevel.MEMORY_AND_DISK))
        s0.count() // materialize before the banded self-joins race on it
        s0
      })
    (for (oph <- families; (k, rpb) <- configs) yield {
      require(k % rpb == 0, s"k=$k not divisible by rowsPerBand=$rpb")
      val bands = minhashBands(sigFor(oph, k), k, rpb)
        .hint("shuffle_hash")
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_hash") === col("b.band_hash") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      scope.pin(cand)
      cand.count() // two consumers below — materialize before they race
      val cAgg = cand.agg(count(lit(1)).as("n_candidates"))
      val rAgg = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("n_recovered"))
      tAgg.crossJoin(cAgg).crossJoin(rAgg)
        .select(lit(if (oph) "oph" else "kperm").as("family"),
          lit(k).as("k"), lit(rpb).as("rows_per_band"),
          lit(k / rpb).as("n_bands"),
          col("n_true_pairs"), col("n_candidates"), col("n_recovered"),
          when(col("n_true_pairs") > 0,
              col("n_recovered").cast("double") /
                col("n_true_pairs").cast("double"))
            .as("recall"))
    }).reduce(_ unionByName _)
  }

  /** MinHash-LSH near-dup pairs: candidates collide on >=1 band bucket, then
    * are verified with the exact token-set Jaccard. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, rowsPerBand: Int, threshold: Double,
                      tokens: Column => Column = TextFunctions.tokenSet,
                      scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    // signatures are expensive to build and the band frame is tiny (a few
    // rows per doc); persist it so the self-join doesn't recompute the
    // whole minhash pipeline for each side
    val bands0 = scope.pin(
      minhashBands(minhashSig(docs, idCol, textCol, k, tokens), k, rowsPerBand)
        .persist(StorageLevel.MEMORY_AND_DISK))
    bands0.count() // materialize before the self-join (see jaccardPairs note)
    // corpus-scaled frame: pin the join strategy (see jaccardPairs)
    val bands = bands0.hint("shuffle_hash")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val verified = jaccardVerify(docs, idCol, textCol, cand, tokens, scope)
    verified.filter(col("jaccard") >= threshold)
  }

  /** Exact Jaccard restricted to a candidate-pair set (verification step). */
  def jaccardVerify(docs: DataFrame, idCol: String, textCol: String,
                    pairs: DataFrame,
                    tokens: Column => Column = TextFunctions.tokenSet,
                    scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    val sets0 = scope.pin(
      Parallelism.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
        .select(col("doc_id"), tokens(col(textCol)).as("toks"))
        .persist(StorageLevel.MEMORY_AND_DISK)) // read twice (a-side + b-side)
    sets0.count() // materialize before the double join (see jaccardPairs note)
    // corpus-scaled frame: pin the join strategy (see jaccardPairs)
    val sets = sets0.hint("shuffle_hash")
    pairs
      .join(sets.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          size(array_union(col("toks_a"), col("toks_b")))).as("jaccard"))
  }

  /** 64-bit SimHash signature as a 16-char lowercase hex string.
    *
    * Bit source: bit j of md5(token) (j in 0..63, big-endian within each hex
    * nibble), extracted with pure string/integer arithmetic so any engine
    * reproduces it. Each distinct token votes +1/-1 per bit; the signature
    * bit is 1 when the vote sum is positive.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    val tok = tokenIndex(docs, idCol, textCol, tokens)
      .withColumn("h", md5(col("tok")))
    // nibble values decoded ONCE per token row (16 string extracts), so the
    // vote aggregates below are pure integer shift/mask arithmetic
    val nibbles16 = (0 until 16).map { n =>
      (instr(lit("0123456789abcdef"), substring(col("h"), n + 1, 1)) - 1).as(s"n$n")
    }
    val decoded = tok.select(col("doc_id") +: nibbles16: _*)
    def bit(j: Int): Column =
      shiftright(col(s"n${j / 4}"), 3 - j % 4).bitwiseAND(lit(1)).cast("long")
    // two 32-bit set-bit counters packed per agg column (32 sums instead of
    // 64 keeps the generated aggregate code half the size); vote_j > 0 is
    // then 2*count_j > n_tokens
    val packed = (0 until 32).map { m =>
      sum(bit(2 * m) + bit(2 * m + 1) * lit(4294967296L)).as(s"p$m")
    }
    val agg = decoded.groupBy("doc_id")
      .agg(count(lit(1)).as("cnt"), packed: _*)
    def bitCount(j: Int): Column =
      if (j % 2 == 0) col(s"p${j / 2}").bitwiseAND(lit(0xFFFFFFFFL))
      else shiftright(col(s"p${j / 2}"), 32)
    val nibbles = (0 until 16).map { n =>
      val value = (0 until 4).map { b =>
        when(bitCount(4 * n + b) * 2 > col("cnt"), lit(1 << (3 - b))).otherwise(lit(0))
      }.reduce(_ + _)
      substring(lit("0123456789abcdef"), value + 1, lit(1))
    }
    agg.select(col("doc_id"), concat(nibbles: _*).as("simhash"))
  }

  /** SimHash near-dup candidates: pairs agreeing on at least one of four
    * 16-bit bands (4 hex chars), verified by full 64-bit hamming distance. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int,
                   tokens: Column => Column = TextFunctions.tokenSet,
                   scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    val sig = simhash(docs, idCol, textCol, tokens)
    val bands = scope.pin(sig.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), substring(col("simhash"), 1 + 4 * b, 4).as("bh"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.band"), col("e.bh"))
      // tiny (4 rows/doc); persist so the self-join doesn't rebuild the
      // signature pipeline for each side
      .persist(StorageLevel.MEMORY_AND_DISK))
    bands.count() // materialize before the self-join (see jaccardPairs note)
    // corpus-scaled frame: pin the join strategy (see jaccardPairs)
    val b = bands.hint("shuffle_hash")
    val cand = b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("a.simhash").as("sig_a"),
        col("b.doc_id").as("id_b"), col("b.simhash").as("sig_b"))
      .distinct()
    // native codegen'd expression: XOR + popcount per pair instead of the
    // equivalent 64-term nibble-compare Column tree
    graft.GraftExtensions.register(docs.sparkSession)
    cand.select(col("id_a"), col("id_b"),
        graft.functions.Hamming64.hamming64(col("sig_a"), col("sig_b"))
          .cast("int").as("hamming")) // int like the nibble-sum formulation
      .filter(col("hamming") <= maxHamming)
  }

  /** Rounds executed by the most recent connectedComponents* call in this
    * JVM. Instrumentation for specs/benchmarks only (harnesses run one
    * operator at a time) — not part of any result contract. */
  @volatile var lastRunRounds: Int = 0

  /** Size-aware partition layout for an iterative edge frame: near-dup
    * graphs are usually a sliver of the corpus, so a tiny edge list iterates
    * on few partitions (per-round task overhead would otherwise dwarf the
    * work); large graphs keep the parallel layout. */
  private def edgeParts(pairs: DataFrame, nEdges: Long): Int =
    math.max(1, math.min(
      pairs.sparkSession.sparkContext.defaultParallelism,
      (nEdges / 500000L).toInt + 1))

  /** Connected components over a near-dup pair graph: every doc in a
    * duplicate cluster gets the cluster's minimum doc id as its component
    * label (the canonical "keep one representative per cluster" step after
    * pair generation).
    *
    * Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", public): each round
    * relinks every node's larger neighbors (large-star) and then its smaller
    * neighbors (small-star) to the minimum of the local neighborhood. The
    * edge set converges to one star per component rooted at the component's
    * minimum id in ~O(log n) rounds — vs O(graph diameter) for min-label
    * propagation ([[connectedComponentsPropagation]]) — while every round
    * stays a pair of shuffle-bounded groupBy+join steps with no driver
    * state. On chain-shaped graphs the round count is the difference
    * between log2(length) and length; on the tiny-clique graphs near-dup
    * emits it still saves a barrier round or two.
    */
  // Driver-memory budget for the bounded fast path (r20, VERDICT r19 item
  // 9): one collected edge Row is two ids + Row overhead — ~112 bytes for
  // bigint ids (measured: 4M-row Array[Row] of (long, long) retains ~450 MB
  // on JDK 17), ~2x that for typical 32-64 char string ids. The 1<<22
  // default therefore budgets ~0.5-1 GB of transient driver heap against
  // the repo's 8 GB default driver JVM (build.sbt SPARK_DRIVER_MEM) — and
  // the union-find itself is O(nodes) longs on top. Callers on slimmer
  // drivers pass a smaller bound; 0 disables the fast path outright.
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          checkpointInterval: Int = 3,
                          scope: CacheScope.Handle = CacheScope.detached,
                          maxLocalEdges: Int = 1 << 22): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    // orient src > dst (drops self-loops); both star steps preserve the
    // orientation, so it is a loop invariant
    val init0 = pairs.select(
        greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = init0.count()
    // Bounded-graph fast path (r19 perf): near-dup pair graphs are usually a
    // sliver of the corpus, and on them the star alternation's cost is pure
    // JOB LATENCY — ~3 shuffle/agg jobs per round × ~4-6 rounds (profiled as
    // the bulk of q_dedup_semantic / the components gates). The same bounded
    // driver union-find [[componentsIncrement]] runs on increments emits
    // IDENTICAL labels (min-id representative ≡ the alternation's fixpoint;
    // [[localComponents]] doc + spec), and nEdges is already counted, so the
    // switch costs nothing. Graphs past the bound run the distributed
    // alternation unchanged — the 100 TB contract is untouched.
    if (nEdges <= maxLocalEdges) {
      val edgeRows = init0.collect()
      val dt = init0.schema("src").dataType
      init0.unpersist(blocking = false)
      lastRunRounds = 0
      return localComponents(pairs.sparkSession, edgeRows, dt)
        .select(col("id"), col("comp"),
          (col("id") === col("comp")).as("is_keeper"))
    }
    val parts = edgeParts(pairs, nEdges)
    var (edges, pinned) = truncateRound(init0.coalesce(parts), 0,
      checkpointDir, checkpointInterval, defer = true)
    // Fixpoint = the edge set is unchanged by a full round, checked by
    // [[edgeChecksum]] — one agg job instead of a per-round except() join.
    // The checksum doubles as the round's cache MATERIALIZER (truncateRound
    // is called with defer = true): one agg job per round instead of a
    // count() job plus a checksum job — on small near-dup graphs the
    // per-round job latency, not the data, dominates the loop.
    var chk = edgeChecksum(edges) // materializes the deferred round-0 frame
    init0.unpersist()         // only after the truncated copy is cache-backed
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, nextPinned) = truncateRound(smallStar(largeStar(edges)),
        iter + 1, checkpointDir, checkpointInterval, defer = true)
      val chk1 = edgeChecksum(next)
      pinned.foreach(_.unpersist()) // superseded; next is materialized
      pinned = nextPinned
      edges = next
      converged = chk1 == chk
      chk = chk1
      iter += 1
    }
    lastRunRounds = iter
    // the final round's frame backs the lazy labeling below for the life of
    // the caller's action — pin it so a scoped caller can release it
    pinned.foreach(scope.pin)
    // converged state is a star forest: every non-root node carries an edge
    // to its component's minimum id, so one min-over-neighbors agg labels
    // every node (roots label themselves via least(id, min_nbr))
    val sym = edges.select(col("src").as("id"), col("dst").as("nbr"))
      .union(edges.select(col("dst").as("id"), col("src").as("nbr")))
    sym.groupBy("id").agg(min(col("nbr")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("comp"))
      .select(col("id"), col("comp"), (col("id") === col("comp")).as("is_keeper"))
  }

  /** Edge-set identity checksum backing the star loop's convergence test:
    * (count, sum(src), sum(xxhash64(src, dst))). A false fixpoint needs two
    * DIFFERENT consecutive edge sets to collide on all three components at
    * once — equal count and src-sum happen on crafted inputs (the spec
    * builds one), but a simultaneous xxhash64-sum collision is negligible
    * (and the oracle gate pins end-to-end results). The claim is pinned by
    * `OperatorsSpec`: same-count same-src-sum edge sets with different
    * pairings produce different checksums.
    * The sums run in decimal(38,0): summing raw xxhash64 longs overflows
    * int64 almost surely, which ANSI mode turns into a runtime error (and
    * non-ANSI into a wrap — workable, but the decimal form is exact and
    * mode-independent). */
  private[graft] def edgeChecksum(df: DataFrame): (Long, String, String) = {
    val r = df.agg(count(lit(1)),
      sum(col("src").cast("decimal(38,0)")),
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
    (r.getLong(0),
      if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString,
      if (r.isNullAt(2)) "0" else r.getDecimal(2).toPlainString)
  }

  /** One large-star round: every node u links its strictly-larger neighbors
    * to m = min(N(u) ∪ {u}). Every edge is re-emitted exactly once from its
    * smaller endpoint's neighborhood, so the output is the complete next
    * edge set; output keeps the src > dst orientation (m <= u < v). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    // graph-scaled frames on both sides: pin the join strategy (the groupBy
    // already hash-partitioned mins on u — see the jaccardPairs note)
    nbrs.hint("shuffle_hash").join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** One small-star round over src > dst oriented edges: every node relinks
    * its smaller neighbors (and itself) to m = min of that neighborhood.
    * The one distinct() per full round keeps duplicate emissions (the same
    * (v, m) from two different centers) from compounding across rounds. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy("src").agg(min("dst").as("m"))
    val moved = edges.hint("shuffle_hash").join(mins.hint("shuffle_hash"), "src")
      .select(col("dst").as("src"), col("m").as("dst"))
    moved.union(mins.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** INCREMENTAL connected components — fold a batch of NEW edges into an
    * existing labeling without recomputing the graph: the clustering twin
    * of [[exactIncrement]]/[[minhashLshIncrementIndexed]] (whose matched
    * pairs are exactly such edge batches), completing the incremental
    * near-dup chain.
    *
    * `labels` is a prior (id, comp) labeling — e.g. a persisted
    * [[connectedComponents]] output; `newEdges` is the increment
    * (id_a, id_b), mixing known and unseen ids freely. Because every
    * existing label IS the min id of its component, collapsing components
    * to their labels loses nothing: both endpoints of every new edge
    * project onto label space (unseen ids stay themselves), the star
    * alternation runs on that PROJECTED graph — bounded by the increment,
    * never the corpus — and the merged minima are the true minima over the
    * union's original ids. Untouched components keep their labels.
    *
    * Scale shape (100 TB corpus, bounded increment): the corpus-scaled
    * `labels` frame is only ever SCANNED — once to look up touched
    * endpoints (inner join against the broadcast edge-id set) and once for
    * the final relabel (left-outer against the broadcast merge mapping);
    * zero corpus shuffles and zero corpus-sized loop state. A corpus-sized
    * "increment" is a rebuild — use [[connectedComponents]].
    *
    * Output: (id, comp, is_keeper) for every id in `labels` plus every id
    * in `newEdges` — the [[connectedComponents]] contract. Isolated NEW
    * documents (no edges) are their own components by definition; union
    * them as (id, id) if the output must list them.
    *
    * The projected graph is DRIVER-LOCAL by contract (it is bounded by the
    * ingest batch, never the corpus), so its closure runs as a union-find
    * on collected edges — zero iterative Spark jobs, where the star
    * alternation paid ~3 shuffle/agg jobs per round on a graph of a few
    * thousand edges (pure job-latency, the measured bulk of the gate). An
    * increment whose projection exceeds `maxLocalEdges` falls back to the
    * distributed star alternation unchanged, so a contract-violating
    * "increment" degrades to the batch shape instead of a driver OOM.
    * Heap budget of the default bound: see the [[connectedComponents]]
    * comment — ~0.5-1 GB transient driver heap at 1<<22 edges against the
    * repo's 8 GB default driver JVM. */
  def componentsIncrement(labels: DataFrame, newEdges: DataFrame,
                          maxIter: Int = 20,
                          maxLocalEdges: Int = 1 << 22): DataFrame = {
    val l = labels.select(col("id"), col("comp"))
    val edges = newEdges.select(col("id_a"), col("id_b"))
    val ids = edges.select(col("id_a").as("id"))
      .unionByName(edges.select(col("id_b").as("id"))).distinct()
    // touched endpoints' prior labels: ONE corpus scan, increment-bounded out
    val touched = l.join(broadcast(ids), Seq("id"))
    val projected = edges
      .join(broadcast(touched.select(col("id").as("id_a"), col("comp").as("ca"))),
        Seq("id_a"), "left_outer")
      .join(broadcast(touched.select(col("id").as("id_b"), col("comp").as("cb"))),
        Seq("id_b"), "left_outer")
      .select(coalesce(col("ca"), col("id_a")).as("id_a"),
        coalesce(col("cb"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b")) // intra-component edges are no-ops
    // merged labeling of the projected (increment-bounded) graph: local
    // union-find when it fits (min-id representative ≡ the star
    // alternation's fixpoint labels), distributed alternation otherwise
    val probe = projected.limit(maxLocalEdges + 1).collect()
    val merged =
      if (probe.length <= maxLocalEdges)
        localComponents(labels.sparkSession, probe,
          projected.schema("id_a").dataType)
      else connectedComponents(projected, maxIter).select("id", "comp")
    // endpoints with no prior label = genuinely new documents (derived from
    // the already-bounded frames — never an anti-join against the corpus)
    val newRows = ids.join(broadcast(touched.select("id")), Seq("id"), "left_anti")
      .join(broadcast(merged), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    // a prior label is itself a NODE of the projected graph; components it
    // did not touch fall through the coalesce unchanged
    val mapping = merged.select(col("id").as("comp"), col("comp").as("__m"))
    val oldRows = l.join(broadcast(mapping), Seq("comp"), "left_outer")
      .select(col("id"), coalesce(col("__m"), col("comp")).as("comp"))
    oldRows.unionByName(newRows)
      .select(col("id"), col("comp"), (col("id") === col("comp")).as("is_keeper"))
  }

  /** Union-find closure of a collected (increment-bounded) edge list —
    * [[componentsIncrement]]'s local path. Output labels are the MINIMUM id
    * reachable from each node, i.e. exactly the star alternation's fixpoint
    * labeling, so the local and distributed paths are interchangeable bit
    * for bit. String ids compare as UTF-8 bytes (Spark's UTF8String order,
    * which differs from Java's UTF-16 compareTo above the BMP); numeric and
    * decimal ids take their natural Comparable order — both match what
    * `least`/`min` computed on the distributed path. */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              edgeRows: Array[org.apache.spark.sql.Row],
                              dt: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord: Ordering[Any] = dt match {
      case org.apache.spark.sql.types.StringType => new Ordering[Any] {
        def compare(a: Any, b: Any): Int = {
          val x = a.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val y = b.asInstanceOf[String]
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val c = (x(i) & 0xff) - (y(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          x.length - y.length
        }
      }
      case _ => new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          a.asInstanceOf[Comparable[Any]].compareTo(b)
      }
    }
    val idx = scala.collection.mutable.HashMap.empty[Any, Int]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    def nodeOf(v: Any): Int =
      idx.getOrElseUpdate(v, { vals += v; vals.length - 1 })
    edgeRows.foreach { r => nodeOf(r.get(0)); nodeOf(r.get(1)) }
    val parent = Array.tabulate(vals.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edgeRows.foreach { r =>
      val ra = find(idx(r.get(0))); val rb = find(idx(r.get(1)))
      if (ra != rb) parent(rb) = ra
    }
    val minOf = scala.collection.mutable.HashMap.empty[Int, Any]
    for (i <- vals.indices) {
      val root = find(i)
      val v = vals(i)
      if (!minOf.get(root).exists(m => ord.compare(m, v) <= 0))
        minOf.update(root, v)
    }
    val rows: Seq[org.apache.spark.sql.Row] = vals.indices
      .map(i => org.apache.spark.sql.Row(vals(i), minOf(find(i))))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", dt),
        org.apache.spark.sql.types.StructField("comp", dt))))
  }

  /** Min-label propagation components — the O(graph diameter) fallback kept
    * alongside [[connectedComponents]]: labels start as own id and each
    * iteration takes the min over neighbors. One join + one agg per round
    * (a shallower per-round plan than the star alternation), so it can edge
    * out the alternation on bounded-diameter graphs; on deep graphs the
    * O(diameter) round count loses to the alternation's O(log n).
    * Identical output contract.
    */
  def connectedComponentsPropagation(pairs: DataFrame, maxIter: Int = 20,
                                     checkpointDir: Option[String] = None,
                                     checkpointInterval: Int = 3,
                                     scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val edges0 = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges0.count() // materialize once; every iteration re-reads
    val parts = edgeParts(pairs, nEdges)
    val (edges, edgesPinned) = truncateRound(edges0.coalesce(parts), 0,
      checkpointDir, checkpointInterval)
    edges0.unpersist()
    var (labels, labelsPinned) = truncateRound(
      edges.select(col("src").as("id")).distinct().withColumn("comp", col("id")),
      0, checkpointDir, checkpointInterval, defer = true)
    // decimal(38,0) like the star-alternation checksum: a long sum of ids
    // overflows at ANSI-error (or wraps non-ANSI) on large graphs.
    // As in the star loop, the checksum is also the round's materializer
    // (defer = true above and below): one agg job per round, no count().
    def checksum(df: DataFrame): String = {
      val r = df.agg(sum(col("comp").cast("decimal(38,0)"))).head()
      // null on an empty label set (sum over zero rows), like the star loop
      if (r.isNullAt(0)) "0" else r.getDecimal(0).toPlainString
    }
    var sum0 = checksum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, nextPinned) = truncateRound(
        labels.join(
            edges
              .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp")), "dst")
              .groupBy(col("src").as("id"))
              .agg(min("nbr_comp").as("nbr_comp")),
            Seq("id"), "left_outer")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp")),
        iter + 1, checkpointDir, checkpointInterval, defer = true)
      // labels only ever decrease, so the label sum strictly decreases until
      // the fixpoint — one agg over the checkpointed frame replaces a diff join
      val sum1 = checksum(next)
      labelsPinned.foreach(_.unpersist()) // superseded; next is materialized
      labelsPinned = nextPinned
      labels = next
      converged = sum1 == sum0
      sum0 = sum1
      iter += 1
    }
    lastRunRounds = iter
    // the edge list is superseded once the final labels are materialized;
    // only the final round's frame stays cached, for the caller to consume
    // (released via the scope handle, or an ordinary cache sweep)
    edgesPinned.foreach(_.unpersist())
    labelsPinned.foreach(scope.pin)
    labels.select(col("id"), col("comp"), (col("id") === col("comp")).as("is_keeper"))
  }

  /** Per-round lineage control shared by the iterative component loops.
    * Selectable per deployment (the GraphFrames trade):
    *  - default (no checkpointDir): eager per-round plan truncation — the
    *    materialized round is re-wrapped as a scan of its own RDD, so the
    *    logical plan stays constant-size (an iterative DataFrame loop
    *    otherwise re-analyzes/re-optimizes a plan that grows by one join per
    *    round: quadratic planning, measured >1 s/round on a 256-edge graph).
    *    Storage stays at the DataFrame cache layer — unlike localCheckpoint,
    *    whose RDD-layer persist is unreleasable without destroying the
    *    (lineage-less) data: it pinned one RDD per round for the life of the
    *    session (observed as leftover getPersistentRDDs entries in the bench
    *    sweep). Every superseded round is unpersisted in-loop by the caller
    *    and the final frame is released by an ordinary `clearCache` sweep;
    *    an evicted entry recomputes through the captured child plan, so
    *    early release degrades to recompute, never to data loss. The flip
    *    side: because each round's only durable ancestor is the previous
    *    round's cache, memory-pressure eviction MID-LOOP recomputes through
    *    the entire round chain (an O(rounds) replay cliff localCheckpoint
    *    never had) — for deep graphs under tight memory, prefer
    *    checkpointDir mode.
    *  - checkpointDir set: RELIABLE checkpoint every `checkpointInterval`
    *    rounds (survives executor loss — the right mode for a long cluster
    *    job); persist+materialize between checkpoints, so lineage growth is
    *    bounded by the interval and recompute after a failure replays at
    *    most `checkpointInterval` rounds from HDFS/S3.
    * Returns the truncated frame plus itself when persist-backed, so the
    * loop can UNPERSIST it once the following round materializes — without
    * the release, one superseded frame stays pinned per round for the whole
    * run. Materialization: by default a count() populates the cache before
    * returning, so the subsequent RDD scan / checksum reads it instead of
    * racing to re-trigger the un-truncated plan. With `defer = true` the
    * count() is skipped and the CALLER's immediately-following single
    * action (the convergence checksum in both loops) materializes instead
    * — one job per round, not two; safe only because the loops are
    * sequential single-consumer code, and the caller must not unpersist
    * the frame's inputs until after that action. */
  private def truncateRound(df: DataFrame, round: Int,
                            checkpointDir: Option[String],
                            checkpointInterval: Int,
                            defer: Boolean = false): (DataFrame, Option[DataFrame]) =
    checkpointDir match {
      case None =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (!defer) p.count()
        val fresh = df.sparkSession.createDataFrame(p.rdd, p.schema)
        (fresh, Some(p))
      case Some(_) if round % checkpointInterval == 0 => (df.checkpoint(true), None)
      case Some(_) =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (!defer) p.count()
        (p, Some(p))
    }

  /** Exact INCREMENTAL dedup: the survivors of a new batch against an
    * already-ingested corpus. A new document survives when its content hash
    * matches no corpus document and it is the first occurrence (lowest id)
    * of its hash within the batch.
    *
    * This is the production shape at scale: the corpus is 100 TB and
    * already deduped — re-running batch dedup over corpus+increment would
    * rescan everything, while this scans only the increment plus a
    * hash-join probe of the corpus content hashes (in a deployed pipeline a
    * stored index column; computed here when handed raw text). The corpus
    * side is corpus-scaled, so the anti-join is pinned shuffle_hash — never
    * a broadcast that grows with the corpus. */
  def exactIncrement(newDocs: DataFrame, corpus: DataFrame,
                     idCol: String, textCol: String): DataFrame = {
    val grp = Window.partitionBy("content_hash")
    val firstInBatch = newDocs
      .select(col(idCol), md5(col(textCol)).as("content_hash"))
      .withColumn("__first", min(col(idCol)).over(grp))
      .filter(col(idCol) === col("__first"))
      .drop("__first")
    val corpusHashes = corpus
      .select(md5(col(textCol)).as("content_hash")).distinct()
    firstInBatch
      .join(corpusHashes.hint("shuffle_hash"), Seq("content_hash"), "left_anti")
      .select(col(idCol), col("content_hash"))
  }

  /** [[exactIncrement]] with a Bloom pre-filter on the corpus probe — the
    * 100 TB ingest shape: a broadcast bit-array built once over the corpus
    * content hashes answers "definitely new" in the increment's scan stage,
    * and only the might-contain fraction (true duplicates + the filter's
    * ~1 % false positives) pays the corpus-sized anti-join shuffle. Because
    * false negatives are impossible, the result is IDENTICAL to
    * [[exactIncrement]] — the gate pins that equivalence against the same
    * oracle. In deployment the filter is built at index-update time and
    * reused across batches (build it with [[Bloom.build]] over the stored
    * hash index and pass it in); handed raw corpus text, this derives it. */
  def exactIncrementBloomGated(newDocs: DataFrame, corpus: DataFrame,
                               idCol: String, textCol: String,
                               numBits: Int = 1 << 20, k: Int = 5,
                               filter: DataFrame = null): DataFrame = {
    val grp = Window.partitionBy("content_hash")
    val firstInBatch = newDocs
      .select(col(idCol), md5(col(textCol)).as("content_hash"))
      .withColumn("__first", min(col(idCol)).over(grp))
      .filter(col(idCol) === col("__first"))
      .drop("__first")
    val corpusHashes = corpus
      .select(md5(col(textCol)).as("content_hash")).distinct()
    val bloom = Option(filter).getOrElse(
      Bloom.build(corpusHashes, col("content_hash"), numBits, k))
    val probed = Bloom.mightContain(firstInBatch, col("content_hash"),
      bloom, numBits, k, "__might")
    val definiteNew = probed.filter(!col("__might")).drop("__might")
    val needExact = probed.filter(col("__might")).drop("__might")
      .join(corpusHashes.hint("shuffle_hash"), Seq("content_hash"), "left_anti")
    definiteNew.unionByName(needExact)
      .select(col(idCol), col("content_hash"))
  }

  /** MinHash-LSH INCREMENTAL near-dup from RAW corpus text: derives the
    * corpus band index and token sets on the fly, then delegates to
    * [[minhashLshIncrementIndexed]]. Convenient for one-off runs and the
    * oracle gate, but the derivation re-hashes the WHOLE corpus every call
    * — per-batch cost scales with the corpus. A deployed pipeline stores
    * the index once at ingest and calls the Indexed variant directly, which
    * is the shape whose per-batch cost scales with the batch. */
  def minhashLshIncrement(newDocs: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          k: Int, rowsPerBand: Int, threshold: Double,
                          tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    val corpusBands =
      minhashBands(minhashSig(corpus, idCol, textCol, k, tokens), k, rowsPerBand)
        .withColumnRenamed("doc_id", "id_corpus")
    val corpusSets = Parallelism.fanOut(
        corpus.select(col(idCol).as("id_corpus"), col(textCol)))
      .select(col("id_corpus"), tokens(col(textCol)).as("toks_corpus"))
    minhashLshIncrementIndexed(newDocs, corpusBands, corpusSets,
      idCol, textCol, k, rowsPerBand, threshold, tokens)
  }

  /** MinHash-LSH INCREMENTAL near-dup against a STORED corpus index:
    * candidate (new, corpus) pairs collide on >= 1 LSH band bucket of
    * `corpusBands` (`id_corpus`, `band`, `band_hash` — a persisted
    * [[minhashBands]] output), then verify with exact feature-set Jaccard
    * against `corpusSets` (`id_corpus`, `toks_corpus`). Returns the matched
    * pairs (id_new, id_corpus, jaccard >= threshold); the caller anti-joins
    * on id_new to keep the increment's survivors. Only the increment is
    * signature-hashed at ingest time — the corpus side is a bucket-local
    * index probe, so per-batch cost scales with the batch, not the corpus.
    * Both probes are pinned shuffle_hash: the index grows with the corpus
    * and must never broadcast. */
  def minhashLshIncrementIndexed(newDocs: DataFrame, corpusBands: DataFrame,
                                 corpusSets: DataFrame,
                                 idCol: String, textCol: String,
                                 k: Int, rowsPerBand: Int, threshold: Double,
                                 tokens: Column => Column = TextFunctions.tokenSet): DataFrame = {
    val newBands =
      minhashBands(minhashSig(newDocs, idCol, textCol, k, tokens), k, rowsPerBand)
        .withColumnRenamed("doc_id", "id_new")
    val cand = newBands.hint("shuffle_hash")
      .join(corpusBands.hint("shuffle_hash"), Seq("band", "band_hash"))
      .select(col("id_new"), col("id_corpus"))
      .distinct()
    val nSets = Parallelism.fanOut(
        newDocs.select(col(idCol).as("id_new"), col(textCol)))
      .select(col("id_new"), tokens(col(textCol)).as("toks_new"))
    cand
      .join(nSets.hint("shuffle_hash"), "id_new")
      .join(corpusSets.hint("shuffle_hash"), "id_corpus")
      .select(col("id_new"), col("id_corpus"),
        (size(array_intersect(col("toks_new"), col("toks_corpus"))).cast("double") /
          size(array_union(col("toks_new"), col("toks_corpus")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-document repeated-span dedup (the substring-dedup family of
    * C4 and Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): maximal token spans whose k-token shingles appear in
    * at least one OTHER document. Doc-level exact/near dedup misses
    * boilerplate repeated INSIDE otherwise-distinct documents — licenses,
    * navigation chrome, quoted passages; this flags the spans themselves so
    * callers can cut or down-weight them.
    *
    * Output: one row per (doc, maximal span) — `span_start` / `span_end`
    * (1-based token indices, inclusive) and `n_tokens`. Flagged shingles
    * whose start positions are <= k apart merge into one span: their
    * duplicated k-token windows overlap or are exactly adjacent, so every
    * token inside a span lies in some flagged window — a span never bridges
    * unflagged tokens. A start-distance > k splits spans — the standard
    * islands formulation. Documents shorter
    * than k tokens contribute their whole text as one shingle (the
    * [[TextFunctions.shingles]] short-doc contract), so exact short-doc
    * duplicates surface as full-doc spans.
    *
    * Scale shape (100 TB):
    *  - the (doc, pos, fp60) positional shingle edges are scan-stage;
    *  - the cross-document shingle df is a partial-agg groupBy over the
    *    DISTINCT (doc, fp) pairs — never a window over the zipfian fp key
    *    (the jaccard df-cut rule: a boilerplate shingle's window partition
    *    would be corpus-sized on one task) and never a driver collect;
    *  - shared fps probe back into the edges with a shuffle_hash left-semi
    *    join (the shared-fp table is corpus-scaled: never broadcast);
    *  - span merging is one window per doc_id ordered by pos — partitions
    *    are document-bounded, never corpus-bounded. */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    // The positional edge frame feeds two branches (df aggregation + probe)
    // but is deliberately NOT persisted: it is token-scaled (one row per
    // shingle position — the largest frame in the operator), so caching it
    // either pins corpus-sized memory/disk for the session (the leak the
    // r11 review flagged) or costs an extra materialization pass to cache
    // and release. Recomputing it per branch is two SCAN-STAGE passes of
    // tokenize/shingle/md5 — embarrassingly parallel, no shuffle. Measured
    // at sf0.1 (REPS=3 medians, SCALE.md r12): recompute 1.87 s ≈
    // cache-then-release 1.98 s, both ~0.5 s over the leaking persist —
    // the price of zero residue; at 100 TB the trade inverts entirely,
    // since caching a token-scaled frame would spill ~corpus-sized data
    // per call while a second scan pass just rides the input.
    val edges0 = positionalShingleEdges(docs, idCol, textCol, k)
    // a shingle repeated WITHIN one document does not make it shared — df
    // counts distinct documents per fingerprint
    val shared = edges0.select("doc_id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select("fp")
    mergeSpans(edges0.hint("shuffle_hash")
      .join(shared.hint("shuffle_hash"), Seq("fp"), "left_semi"), k)
  }

  /** (doc_id, n_toks, pos, fp) positional shingle edges: pos is the 0-based
    * shingle start, fp the 60-bit shingle fingerprint, n_toks the document's
    * token count (for clamping the last span). Scan-stage. Shared by
    * [[duplicateSpans]] and [[Decontaminate.contaminatedSpans]]. */
  private[operators] def positionalShingleEdges(docs: DataFrame, idCol: String,
                                                textCol: String, k: Int): DataFrame =
    Parallelism.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"),
        size(TextFunctions.tokens(col(textCol))).as("n_toks"),
        posexplode(TextFunctions.shingles(col(textCol), k)).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("n_toks"), col("pos"),
        tokenFp60(col("tok")).as("fp"))

  /** Merge flagged positional shingles (doc_id, n_toks, pos) into maximal
    * 1-based inclusive spans — the lag + cumulative-sum islands step shared
    * by the span-dedup and span-decontamination operators. Window partitions
    * are per-document: document-bounded, never corpus-bounded. */
  private[operators] def mergeSpans(flagged: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      // new island when the previous flagged shingle starts more than k
      // positions back (its k-token window no longer touches this one);
      // the null lag on each doc's first row falls to the no-break branch
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) > k, lit(1)).otherwise(lit(0)))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("n_toks"), col("island"))
      .agg(min(col("pos")).as("mn"), max(col("pos")).as("mx"))
      .select(col("doc_id"),
        (col("mn") + 1).cast("bigint").as("span_start"),
        // the last shingle covers tokens [mx+1, mx+k], clamped for the
        // whole-doc shingle of a shorter-than-k document
        least(col("mx") + k, col("n_toks")).cast("bigint").as("span_end"))
      .withColumn("n_tokens", col("span_end") - col("span_start") + 1L)
  }

  /** WITHIN-document repeated spans: maximal token spans made of k-shingles
    * that already occurred EARLIER in the same document — the C4
    * "remove repeated three-sentence spans" rule generalized to token
    * windows (and the span-shaped big sibling of
    * [[graft.functions.TextFunctions.dedupLines]], which only catches exact
    * whole-line repeats). First occurrences are never flagged, so cutting
    * the returned frame with [[cutSpans]] keeps one copy of the repeated
    * material and removes the echoes.
    *
    * Scale shape: flagging is a row_number window over (doc_id, fp) —
    * partitions are bounded by a single document's occurrences of ONE
    * shingle, far below even the per-document bound; the islands merge is
    * the shared per-document machinery. No joins at all: everything is a
    * function of one document, so the operator is scan + two
    * document-bounded windows. */
  def repeatedSpansWithinDoc(docs: DataFrame, idCol: String, textCol: String,
                             k: Int): DataFrame = {
    val occ = Window.partitionBy("doc_id", "fp").orderBy("pos")
    val flagged = positionalShingleEdges(docs, idCol, textCol, k)
      .withColumn("occ", row_number().over(occ))
      .filter(col("occ") > 1) // repeats only; the first occurrence stays
      .drop("occ")
    mergeSpans(flagged, k)
  }

  /** The rewrite [[duplicateSpans]] motivates — the aggressive C4-style
    * boilerplate strip: every token covered by a cross-document duplicated
    * span is removed from EVERY document, so the repeated license block or
    * navigation chrome disappears corpus-wide. Returns one row per document
    * with `n_tokens` (before the cut), `n_removed`, and `text` rebuilt from
    * the surviving tokens (single-space joined, lowercased by the
    * tokenizer). Keeper-preserving cuts (remove all but one occurrence)
    * need a cross-document choice of canonical copy — callers wanting that
    * consume the span frame directly.
    *
    * Scale shape: spans collect per document (document-bounded arrays, one
    * doc_id shuffle) and join back shuffle_hash (the span frame is
    * corpus-scaled — never broadcast); the cut itself is a scan-stage
    * higher-order filter, O(n_toks * n_spans_doc) per row. The nested HOFs
    * are CodegenFallback, which is acceptable OFF the hot path — this runs
    * once per curation pass, not once per candidate pair like the ANN
    * kernels that earned native expressions. */
  def cutSpans(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame =
    cutSpans(docs, idCol, textCol, duplicateSpans(docs, idCol, textCol, k))

  /** Cut an EXPLICIT span frame (doc_id, span_start, span_end — 1-based
    * inclusive) out of `docs` — the generalized rewrite behind the k-based
    * overload, also the hook for keeper-preserving cuts (filter the span
    * frame first) and for span-level decontamination
    * ([[Decontaminate.cutContaminated]] feeds benchmark-overlap spans). */
  def cutSpans(docs: DataFrame, idCol: String, textCol: String,
               spanFrame: DataFrame): DataFrame = {
    val spans = spanFrame
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    docs.select(col(idCol).as("doc_id"), col(textCol))
      .select(col("doc_id"),
        coalesce(TextFunctions.tokens(col(textCol)),
          typedLit(Seq.empty[String])).as("toks"))
      .join(spans.hint("shuffle_hash"), Seq("doc_id"), "left_outer")
      // docs with no duplicated span keep every token (the null branch —
      // a HOF over a null spans array would null out and drop the row's
      // tokens instead)
      .withColumn("kept",
        when(col("spans").isNull, col("toks"))
          .otherwise(filter(col("toks"), (_, i) =>
            !exists(col("spans"), s =>
              (i + 1) >= s("span_start") && (i + 1) <= s("span_end")))))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("bigint").as("n_removed"),
        array_join(col("kept"), " ").as("text"))
  }

  /** Embedding-cosine near-duplicate pairs within sign-LSH buckets: vectors
    * only compare within their random-hyperplane sign bucket (see
    * [[graft.functions.VectorFunctions.hyperplaneBucket]]), so the pair join
    * is bucket-local instead of O(n^2). */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, bucketBits: Int = 8,
                       dim: Int = 64,
                       scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    graft.GraftExtensions.register(emb.sparkSession)
    val b = scope.pin(
      Parallelism.fanOut(emb.select(col(idCol).as("vec_id"), col(vecCol).as("v")))
        .select(col("vec_id"), col("v"),
          VectorFunctions.hyperplaneBucket(col("v"), bucketBits, dim).as("bucket"))
        // persist + materialize like every other self-join in this file:
        // exchange reuse is unreliable, and without the count() the two join
        // branches race to populate the cache and can each recompute the full
        // fanOut + bucket pipeline (the observed bimodal-timing failure mode)
        .persist(StorageLevel.MEMORY_AND_DISK))
    b.count()
    // corpus-scaled frame: pin the join strategy (see jaccardPairs)
    val bh = b.hint("shuffle_hash")
    bh.as("a").join(bh.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        graft.functions.VecCosine.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication through a coarse
    * clustering — vectors are assigned to their nearest centroid, cosine
    * near-duplicate pairs are found CELL-LOCALLY, duplicate groups are the
    * connected components of that pair graph, and each group keeps the
    * vector FARTHEST from its cluster centroid (the paper's
    * diversity-preserving choice; ties break to the lowest id).
    *
    * `centroids` is any (cell, centroid) frame — k-means trained via
    * [[Similarity.buildIvf]]'s quantizer in production, or any deterministic
    * assignment (the oracle gate uses exact per-hash-bucket dimension
    * means). Output: (vec_id, cell, component, d2c, keep) — `component` is
    * the duplicate-group id (singletons label themselves), `d2c` the
    * squared distance to the assigned centroid.
    *
    * Scale shape: assignment is [[Similarity.assignCells]]'s broadcast
    * join (plan constant-sized in the cell count); the pair join is
    * cell-local (never all-pairs — the cell plays the role the sign-LSH
    * bucket plays in [[embeddingNearDup]]); components run on the
    * near-dup edges only (output-sized, not corpus-sized); the keeper
    * window partitions by duplicate group, which is clique-bounded. The
    * assigned frame stays DataFrame-persisted for its consumers (edge
    * join + labeling join + the caller's action) like
    * [[embeddingNearDup]]'s bucket frame — without it each self-join
    * branch recomputes the full assignment pipeline; the harness sweeps
    * DF-level caches between gates. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double,
                    scope: CacheScope.Handle = CacheScope.detached): DataFrame = {
    graft.GraftExtensions.register(emb.sparkSession)
    val assigned = scope.pin(semanticAssign(emb, idCol, vecCol, centroids)
      .persist(StorageLevel.MEMORY_AND_DISK))
    assigned.count() // materialize: two consumers below must not race
    val edges = semanticPairs(assigned, threshold)
    val labels = connectedComponents(edges.select("id_a", "id_b"), scope = scope)
    val lab = assigned
      .join(labels.select(col("id").as("nbr_id"), col("comp")), Seq("nbr_id"), "left")
      .select(col("nbr_id").as("vec_id"), col("cell"),
        coalesce(col("comp"), col("nbr_id")).as("component"),
        col("d2").as("d2c"))
    val w = Window.partitionBy("component").orderBy(desc("d2c"), asc("vec_id"))
    lab.withColumn("keep", row_number().over(w) === 1)
  }

  /** [[semanticDedup]]'s assignment stage, exposed unpersisted so the plan
    * spec can pin the pair join below it (the operator itself caches this
    * frame, which hides the join inside an InMemoryTableScan). */
  private[graft] def semanticAssign(emb: DataFrame, idCol: String,
                                    vecCol: String,
                                    centroids: DataFrame): DataFrame =
    Similarity.assignCells(
        Parallelism.fanOut(emb.select(col(idCol).as("nbr_id"),
          col(vecCol).cast("array<double>").as("nbr_v"))),
        centroids)
      .join(broadcast(centroids), Seq("cell"))
      .select(col("nbr_id"), col("nbr_v"), col("cell"),
        graft.functions.VecCosine.dist2(col("nbr_v"), col("centroid")).as("d2"))

  /** [[semanticDedup]]'s cell-local pair stage: a corpus-scaled self-join,
    * equi-keyed on the cell and pinned shuffle_hash (see [[jaccardPairs]]). */
  private[graft] def semanticPairs(assigned: DataFrame,
                                   threshold: Double): DataFrame = {
    val a = assigned.hint("shuffle_hash")
    a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.nbr_id") < col("y.nbr_id"))
      .select(col("x.nbr_id").as("id_a"), col("y.nbr_id").as("id_b"),
        graft.functions.VecCosine.cosine(col("x.nbr_v"), col("y.nbr_v")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
