package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Parallelism
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with the (small) query set broadcast —
  * one pass over the corpus, one shuffle for the per-query rank. Scale path:
  * sign-LSH bucketing (queries only scan their bucket) trades recall for a
  * corpus-partition-local join; with 8 sign bits the candidate set is ~1/256
  * of the corpus per query.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. `queries` is assumed
    * small (it is broadcast); ties broken by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.register(corpus.sparkSession)
    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_v"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Brute-force top-k over an INT8-QUANTIZED corpus — the memory path for
    * an embedding store at scale: the index holds 1 byte/dim plus one scale
    * per vector (~4x smaller than float32, ~8x than float64), the standard
    * first compression step before IVF/PQ. Queries stay full precision;
    * corpus vectors dequantize ONCE per row in the scan stage (`round(x *
    * scale) / scale` — exact-roundable IEEE ops, so any engine mirrors the
    * scores bit-for-bit), then pair scoring runs the native codegen'd
    * cosine kernel like the exact path. Ranking error vs exact search is
    * bounded by the quantization error (|x - q/scale| <= 0.5/scale),
    * asserted in `SimilaritySpec`. */
  def bruteForceTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.register(corpus.sparkSession)
    val c = Parallelism.fanOut(
        corpus.select(col("vec_id").as("nbr_id"),
          col("embedding").cast("array<double>").as("v")))
      .withColumn("scale", VectorFunctions.quantScaleI8(col("v")))
      .select(col("nbr_id"),
        VectorFunctions.dequantizeI8(
          VectorFunctions.quantizeI8(col("v"), col("scale")), col("scale")).as("nbr_v"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_v"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer splits the corpus
    * into `nLists` cells; each query probes only its `nProbe` nearest cells.
    * The classic FAISS-style scale path: the expensive full scan becomes a
    * cell-local scan of ~nProbe/nLists of the corpus.
    *
    * Scale shape: centroids live in a tiny (cell, centroid) DataFrame —
    * trained once and BROADCAST-JOINED into assignment and probing (never
    * embedded as plan literals: nLists x dim literal doubles per expression
    * tree blow the 64 KB codegen method limit around a few hundred cells and
    * fall back to interpreted evaluation, while a 100 TB index wants
    * thousands of cells — the join's cost is independent of nLists). The
    * corpus is scanned once for assignment and the probe join is an
    * equi-join on cell id. Recall rises with nProbe (nProbe = nLists is
    * exact search).
    */
  /** A built IVF index: corpus vectors with their cell assignment, plus the
    * (cell, centroid) table — the same frame [[saveIvf]] persists, so built
    * and loaded indexes share one code path. Build once, search many times —
    * training and assignment never rerun per query batch. The assigned frame
    * is either (nbr_id, nbr_v, cell) or, after [[quantizeIvf]],
    * (nbr_id, codes, scale, cell). */
  case class IvfIndex(assigned: DataFrame, centroids: DataFrame)

  /** Nearest-cell assignment via a broadcast join against the centroid
    * table: every (vector, centroid) pair is scored with the native codegen
    * `vec_dist2` kernel in the scan stage, then `min_by` keeps each vector's
    * closest cell (distance ties broken by cell id — a total order, so the
    * winner is unique and the result deterministic under any partial-agg
    * order). `vecs` must be (`nbr_id`, `nbr_v`) with unique ids.
    *
    * Scale shape: the broadcast side is nLists rows (tiny at any realistic
    * nLists); the expression tree is CONSTANT-SIZED in nLists, so codegen
    * never degrades as the cell count grows (asserted in SimilaritySpec at
    * nLists = 256). The min_by groupBy partial-aggregates each map
    * partition's xnLists expansion back to one row per vector before its
    * single corpus-wide shuffle — paid once at BUILD time in the
    * build-once/search-many lifecycle, never per query. */
  def assignCells(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.GraftExtensions.register(vecs.sparkSession)
    vecs.crossJoin(broadcast(centroids))
      .groupBy(col("nbr_id"))
      .agg(min_by(
        struct(col("cell"), col("nbr_v")),
        struct(graft.functions.VecCosine.dist2(col("nbr_v"), col("centroid")).as("d"),
          col("cell"))).as("m"))
      .select(col("nbr_id"), col("m.nbr_v").as("nbr_v"), col("m.cell").as("cell"))
  }

  /** Full-corpus Lloyd refinement of a centroid table: `iters` rounds of
    * assign-to-nearest ([[assignCells]]) followed by per-cell mean — the
    * step [[buildIvf]] deliberately skips (its sample-trained quantizer
    * only needs diversity) but a QUALITY clustering needs: topic modeling
    * over embeddings, SemDeDup cell structure, and IVF recall all improve
    * when centroids see the whole corpus, and the sample-train +
    * full-refine split is exactly how large-scale k-means is run (the
    * sample gives a good seed cheaply; each refine round is one linear
    * corpus pass).
    *
    * Input contract: `vecs` carries (nbr_id, nbr_v), `init` carries
    * (cell, centroid). Output: (cell, centroid: array<double>, n_vecs).
    * A cell that captures no vectors in a round drops out (its mass moved
    * to better seeds); callers needing fixed k should re-seed from the
    * output.
    *
    * Scale shape per round: the assignment is the broadcast-centroid
    * min_by (corpus scanned once, nothing corpus-sized shuffled); the mean
    * is a posexplode into (cell, pos) rows that partial-aggregate map-side
    * before the (cells × dim)-bounded shuffle. The loop unrolls into the
    * plan, so keep `iters` small (2-5) or checkpoint between rounds.
    *
    * Determinism: per-dimension values are rounded to 9 decimals and
    * summed as decimal(28,9) (order-independent), the mean re-enters
    * double arithmetic via one exact cast-and-divide, and assignment ties
    * break on cell id — bit-reproducible on any engine mirroring the
    * sequential-fold distance. */
  def refineCentroids(vecs: DataFrame, init: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one refinement round")
    var cents = init.select(col("cell"),
      col("centroid").cast("array<double>").as("centroid"))
    var out: DataFrame = null
    for (_ <- 1 to iters) {
      out = assignCells(vecs, cents)
        .select(col("cell"),
          posexplode(col("nbr_v").cast("array<double>")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(round(col("v"), 9).cast("decimal(28,9)")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("m", col("s").cast("double") / col("n"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("centroid"),
          max(col("n")).as("n_vecs"))
      cents = out.select("cell", "centroid")
    }
    out
  }

  /** The query-side twin of [[assignCells]]: each query's `nProbe` nearest
    * cells, one output row per (query, probed cell). Same broadcast join +
    * native dist2; the rank filter collapses to WindowGroupLimit and the
    * query set is small, so the window shuffle is negligible. Cell order
    * (distance asc, cell id asc) matches the assignment tie-break. */
  private[operators] def probeCells(queries: DataFrame, centroids: DataFrame,
                         nProbe: Int): DataFrame =
    probeCellsExtra(queries, centroids, nProbe, Nil)

  /** [[probeCells]] carrying extra query-side columns (e.g. a component
    * label) through the probe — same broadcast join + native dist2. */
  private[operators] def probeCellsExtra(queries: DataFrame, centroids: DataFrame,
                         nProbe: Int, extra: Seq[String]): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("__d"), col("cell"))
    queries
      .select(Seq(col("vec_id").as("query_id"), col("embedding").as("q_v")) ++
        extra.map(col): _*)
      .crossJoin(broadcast(centroids))
      .withColumn("__d",
        graft.functions.VecCosine.dist2(col("q_v"), col("centroid")))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select(Seq(col("query_id"), col("q_v"), col("cell")) ++ extra.map(col): _*)
  }

  /** The candidate store of an index for probe joins: a quantized index's
    * codes dequantize once per row in the scan stage; a raw index scans
    * as-is. */
  private def probeStore(index: IvfIndex): DataFrame =
    if (index.assigned.columns.contains("codes"))
      index.assigned.select(col("cell"), col("nbr_id"),
        VectorFunctions.dequantizeI8(col("codes"), col("scale")).as("nbr_v"))
    else index.assigned.select(col("cell"), col("nbr_id"), col("nbr_v"))

  /** Train the coarse quantizer and assign every corpus vector to its cell.
    * The assignment frame is persisted: it is the reusable index. */
  def buildIvf(corpus: DataFrame, nLists: Int = 16, seed: Long = 42L): IvfIndex = {
    graft.GraftExtensions.register(corpus.sparkSession) // vec_dist2 kernel
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.storage.StorageLevel

    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")))
    // quantizer training: centroid quality needs vector DIVERSITY, not the
    // full corpus — train on a deterministic hash sample capped at ~100
    // rows/list. The sample rate comes from one distributed count (cheap
    // metadata pass vs the 5 full-corpus passes the fit would otherwise
    // make), and the salt is seed-derived so the quantizer is reproducible.
    val n = c.count()
    val targetRows = nLists.toLong * 100L
    val pct = math.min(100, math.max(1,
      math.ceil(targetRows * 100.0 / math.max(n, 1L)).toInt))
    // repartition, NOT coalesce: coalesce pushes the partition merge upstream
    // so the corpus-wide sample FILTER itself would funnel through 4 scan
    // tasks. A shuffle here moves only the bounded sample (~nLists*100 rows)
    // into a few fat partitions for the iterative fit — 32 near-empty tasks
    // per k-means iteration otherwise dominate wall time.
    val train = Sampling.sampleByHash(c, col("nbr_id"), pct, salt = s"ivf$seed")
      .select(array_to_vector(col("nbr_v").cast("array<double>")).as("features"))
      .repartition(4)
    // 5 iterations: a coarse quantizer needs balanced-ish cells, not
    // converged centroids — recall is governed by nProbe, and each extra
    // iteration is a full distributed pass
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setInitMode("random").fit(train)
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = model.clusterCenters.toIndexedSeq.zipWithIndex
      .map { case (cent, i) => (i, cent.toArray.toSeq) }
      .toDF("cell", "centroid")
    val assigned = assignCells(c, cents).persist(StorageLevel.MEMORY_AND_DISK)
    IvfIndex(assigned, cents)
  }

  /** Probe the `nProbe` nearest cells per query and rank cell-local cosine.
    * A [[quantizeIvf]]-compressed index dequantizes its int8 codes once per
    * candidate row in the probe's scan stage (exact-roundable arithmetic —
    * identical scores to quantized brute force); the pruned cell equi-join
    * is the same either way. */
  def searchIvf(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    val probed = probeCells(queries, index.centroids, nProbe)
    val scored = probeStore(index).join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Compress a built index to the int8 deployment shape: the assigned frame
    * stores 1-byte codes plus one scale per vector (~8x smaller than float64
    * — the actual memory shape of a compressed ANN index at 100 TB) instead
    * of raw vectors. Quantization matches [[bruteForceTopKQuantized]]'s
    * exact-roundable arithmetic bit for bit, so a quantized-IVF search at
    * nProbe = nLists equals quantized brute force row for row (the oracle
    * gate), and its recall vs exact search is bounded by the same int8
    * rounding error. Composes with [[saveIvf]]/[[loadIvf]]/[[appendIvf]]
    * unchanged — the codes/scale columns ride the same cell-partitioned
    * layout. */
  def quantizeIvf(index: IvfIndex): IvfIndex = {
    val a = index.assigned
      .withColumn("__v", col("nbr_v").cast("array<double>"))
      .withColumn("scale", VectorFunctions.quantScaleI8(col("__v")))
      .select(col("nbr_id"),
        VectorFunctions.quantizeI8(col("__v"), col("scale")).as("codes"),
        col("scale"), col("cell"))
    index.copy(assigned = a)
  }

  /** TWO-STAGE search — the standard compressed-index serving pattern
    * (FAISS's IVF+refine): a cheap first stage over the (typically
    * [[quantizeIvf]]-compressed) index proposes `kCandidates` per query,
    * then only those candidates are re-scored against the FULL-precision
    * `corpus` vectors and the top `k` re-ranked exactly. Buys back the
    * quantization ranking error while touching k'/|corpus| of the raw
    * store per query.
    *
    * Scale shape: the candidate frame is |queries| x kCandidates rows —
    * tiny — so BOTH rerank joins broadcast it against the corpus scan; the
    * raw store is read once, pruned by the broadcast hash join, and the
    * final window ranks |queries| x kCandidates rows. The expensive
    * full-vector store is never shuffled. */
  def searchIvfRerank(index: IvfIndex, corpus: DataFrame, queries: DataFrame,
                      k: Int, kCandidates: Int, nProbe: Int): DataFrame = {
    require(kCandidates >= k, "kCandidates must be >= k")
    val cand = searchIvf(index, queries, kCandidates, nProbe)
      .select(col("query_id"), col("nbr_id"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_v"))
    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")))
    val rescored = c.join(broadcast(cand), Seq("nbr_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  private val ivfMemo = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String, Int, Long), IvfIndex]

  /** Memoized build — the build-once/search-many path. Every caller in one
    * session sharing (corpusKey, nLists, seed) gets the SAME trained
    * quantizer; k-means never reruns per query batch. Results are identical
    * to a fresh build (seeded training on a deterministic hash sample), so
    * memoization only removes repeated work. `corpusKey` names the corpus
    * (e.g. its path) — the caller owns the contract that the same key means
    * the same data. Keyed per session for correctness (a dropped session
    * can't leak stale frames into a new one) AND for retention: stopped
    * sessions are evicted on every lookup, so the map never pins a dead
    * SparkSession or its frames past the next call.
    *
    * A shared harness (Bench/Verify) sweeps the whole DataFrame cache
    * between gates, which silently unpersists the memoized index's
    * assignment frame — without repair every later search would recompute
    * the full corpus assignment scan uncached, contradicting
    * build-once/search-many. The lookup re-registers persistence when it
    * finds the storage level cleared (the quantizer itself is the tiny
    * local centroid frame and never retrains; only the one assignment scan
    * re-materializes). */
  def sharedIvf(corpus: DataFrame, corpusKey: String,
                nLists: Int = 16, seed: Long = 42L): IvfIndex = ivfMemo.synchronized {
    // synchronized: evict / lookup / repair are three steps on a shared
    // process-global map — two concurrent callers could otherwise race into
    // a duplicate buildIvf (wasted k-means fit) or a double-persist warning.
    // The lock guards driver-side bookkeeping only (the k-means build inside
    // getOrElseUpdate runs at most once per key either way).
    import org.apache.spark.storage.StorageLevel
    ivfMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    val index = ivfMemo.getOrElseUpdate(
      (corpus.sparkSession, corpusKey, nLists, seed),
      buildIvf(corpus, nLists, seed))
    // re-persist after a harness cache sweep: persist alone does not
    // re-materialize, so the FIRST search after a sweep repays one uncached
    // assignment scan while repopulating the cache. Acceptable: each search
    // is the frame's single consumer, so there is no recompute race (unlike
    // the self-join branches elsewhere that must count() after persist).
    if (index.assigned.storageLevel == StorageLevel.NONE)
      index.assigned.persist(StorageLevel.MEMORY_AND_DISK)
    index
  }

  private val savedIndexMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** Memoized BUILD+SAVE of an index fixture under a fresh temp dir — the
    * saved-artifact twin of [[sharedIvf]] for the load-and-probe lifecycle
    * gates (r20, VERDICT r19 item 5): production publishes an index once at
    * ingest and every later query batch loads + probes it, so a gate that
    * rebuilds and re-saves the identical index per run measures
    * construction, not retrieval. `build` runs AT MOST ONCE per (session,
    * variantKey) and must fully write the fixture into the directory it is
    * given (save* calls are actions, so nothing stays lazy); the directory
    * is immutable afterwards — maintenance gates that mutate their index
    * (append/retrain/delete) keep building private dirs. `variantKey` names
    * the exact saved bytes (corpus + build params + encoding); the caller
    * owns the contract that equal keys mean equal artifacts. Session-scoped
    * like [[sharedIvf]]: the memo dies with the process, every
    * bench/verify invocation rebuilds the fixture once, and stopped
    * sessions are evicted on each lookup. A `build` that throws leaves no
    * directory and no memo entry behind: the next call builds afresh. */
  def sharedSavedIndex(spark: SparkSession, variantKey: String)
                      (build: String => Unit): String =
    savedIndexMemo.synchronized {
      savedIndexMemo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
      savedIndexMemo.getOrElseUpdate((spark, variantKey), {
        val dir = java.nio.file.Files
          .createTempDirectory("graft_shared_idx").toString
        try build(dir)
        catch {
          case e: Throwable =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
            throw e
        }
        dir
      })
    }

  /** Persist a built index under `dir` — the deployment shape where the
    * index outlives the building job (ingest builds and saves once; every
    * later query batch loads and probes). The assignment frame is written
    * PARTITIONED BY cell, so a loaded index's probe join reads only the
    * probed cells' files (nProbe/nLists of the index) instead of scanning
    * all of it; the centroid table is a tiny (cell, centroid) parquet.
    *
    * PUBLISH CONTRACT: save targets a FRESH (or disposable) dir — the two
    * halves are written sequentially, so overwriting a LIVE index risks
    * the mixed-halves state on a crash between them (new assignment + old
    * centroids probes the wrong cells silently). Publish-then-rename at
    * the caller, or use the staged maintenance op [[retrainIvf]] to
    * mutate an index in place. */
  def saveIvf(index: IvfIndex, dir: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/assigned")
    index.centroids
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Load an index persisted by [[saveIvf]]. Both halves stay lazy scans —
    * the centroid table (nLists rows) broadcasts into assignment/probe
    * joins without ever touching the driver, and the assignment frame is a
    * partitioned scan pruned to the probed cells by [[searchIvf]]'s cell
    * equi-join. */
  def loadIvf(spark: SparkSession, dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/assigned"),
      spark.read.parquet(s"$dir/centroids"))

  /** INCREMENTAL index maintenance — the ANN twin of
    * [[Dedup.exactIncrement]]: assign a NEW document batch against the
    * existing index's centroids (the quantizer is never retrained per
    * ingest batch — retraining would re-cell the whole corpus) and APPEND
    * the assigned rows to `dir/assigned`. Dynamic partition append writes
    * files only under the cells the batch actually lands in; every other
    * cell's files are untouched (asserted in SimilaritySpec), so per-batch
    * write cost scales with the batch, not the index. A quantized index
    * ([[quantizeIvf]]) appends in its own codes/scale shape, keeping the
    * stored layout homogeneous. `loadIvf(dir)` after append is
    * row-identical to a fresh assignment of the unioned corpus under the
    * same centroids — assignment is a pure per-row function of
    * (vector, centroid table). */
  def appendIvf(index: IvfIndex, newBatch: DataFrame, dir: String): Unit = {
    val fresh = IvfIndex(
      assignCells(Parallelism.fanOut(
          newBatch.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v"))),
        index.centroids),
      index.centroids)
    val shaped =
      if (index.assigned.columns.contains("codes")) quantizeIvf(fresh).assigned
      else fresh.assigned
    shaped.write.mode("append").partitionBy("cell").parquet(s"$dir/assigned")
  }

  /** CENTROID REFRESH for a persisted index — the lifecycle op that closes
    * the drift gap: [[appendIvf]] deliberately freezes the coarse
    * quantizer (retraining per batch would re-cell the corpus), so after
    * enough OFF-DISTRIBUTION appends the new mass piles into a few stale
    * cells and probe recall decays (spec-measured). Refresh re-trains the
    * quantizer on a hash sample of the CURRENT stored corpus (the exact
    * [[buildIvf]] recipe — same sample cap, same fixed-seed k-means),
    * re-assigns every stored vector to the new cells, and swaps BOTH
    * halves (assignment layout + centroid table) in together from one
    * staged temp root — they are only consistent as a pair — so
    * [[appendIvf]] keeps composing against the refreshed `dir` unchanged
    * and a crash at any point leaves a documented roll-forward/roll-back
    * state (see the in-body recovery note).
    *
    * A quantized index keeps its EXACT stored codes/scale — quantization
    * is per-vector and independent of cell, so re-celling moves rows
    * without a second rounding pass; the re-train sees the dequantized
    * vectors (what the index actually holds). Run it on the cadence drift
    * dictates (e.g. when probe recall dips below target); it assumes a
    * quiesced index, and readers pick the new cells up on their next
    * [[loadIvf]].
    *
    * Scale shape: one bounded-sample k-means fit + ONE assignment pass
    * over the stored corpus (broadcast centroids, min_by — the build
    * shape) + one partitioned rewrite. Nothing corpus-sized ever reaches
    * the driver. */
  def retrainIvf(spark: SparkSession, dir: String, nLists: Int = 16,
                 seed: Long = 42L): Unit = {
    // a two-level dir carries a coarse table consistent with its LEAF
    // centroids; rebuilding flat centroids under it would leave loadIvf2
    // descending a stale hierarchy into cells that no longer exist —
    // fail fast instead of silently corrupting the index
    val fsChk = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    require(!fsChk.exists(new org.apache.hadoop.fs.Path(s"$dir/coarse")),
      s"$dir holds a two-level (IVF2) index — retrainIvf would orphan its " +
        "coarse table; rebuild with buildIvf2 and publish to a fresh dir")
    requireNoStaleSwap(fsChk, s"$dir/__retraining")
    val stored = spark.read.parquet(s"$dir/assigned")
    val coded = storedIsCoded(stored)
    val vecs = storedVectors(spark, dir, stored)
    val fresh = buildIvf(vecs.select(col("nbr_id").as("vec_id"),
      col("nbr_v").as("embedding")), nLists, seed)
    try {
      // keep the stored byte shape: a coded index (int8 or PQ) carries its
      // original codes/scale to the new cell — quantization is per-vector
      // and independent of cell, so re-celling never re-rounds; a raw
      // index takes the re-assignment
      val reassigned =
        if (coded)
          stored.drop("cell").join(
            fresh.assigned.select("nbr_id", "cell").hint("shuffle_hash"),
            Seq("nbr_id"))
        else fresh.assigned
      // CRASH CONSISTENCY: both halves are staged FULLY under one temp root
      // before any rename touches the live index, then swapped by four
      // metadata renames with the originals moved ASIDE (never deleted
      // early). The layouts must flip
      // TOGETHER: new cells + old centroid table (or the reverse) is the
      // silent-row-loss state (probes never reach cells the centroid table
      // does not name). Recovery if a crashed run left `__retraining`
      // behind: roll FORWARD by moving its `assigned`/`centroids` dirs into
      // place (skipping any already moved — `old__*` presence marks those),
      // or roll BACK by restoring the `old__*` dirs; then delete the temp
      // root and rerun. The swap assumes a quiesced index.
      val tmpRoot = s"$dir/__retraining"
      reassigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$tmpRoot/assigned")
      fresh.centroids.coalesce(1).write.mode("overwrite")
        .parquet(s"$tmpRoot/centroids")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(tmpRoot), spark.sparkContext.hadoopConfiguration)
      def p(s: String) = new org.apache.hadoop.fs.Path(s)
      mustRename(fs, p(s"$dir/assigned"), p(s"$tmpRoot/old__assigned"))
      mustRename(fs, p(s"$tmpRoot/assigned"), p(s"$dir/assigned"))
      mustRename(fs, p(s"$dir/centroids"), p(s"$tmpRoot/old__centroids"))
      mustRename(fs, p(s"$tmpRoot/centroids"), p(s"$dir/centroids"))
      fs.delete(p(tmpRoot), true)
      spark.catalog.refreshByPath(s"$dir/assigned")
      spark.catalog.refreshByPath(s"$dir/centroids")
    } finally fresh.assigned.unpersist(blocking = false)
  }

  /** True when the stored assignment layout carries codes instead of raw
    * vectors (int8 `codes`/`scale` or PQ `pq_codes`). */
  private def storedIsCoded(stored: DataFrame): Boolean =
    stored.columns.contains("codes") || stored.columns.contains("pq_codes")

  /** The retrain TRAINING VIEW of a stored assignment layout, in any of its
    * three byte shapes: raw vectors pass through, an int8 index dequantizes
    * (codes × scale — what the index actually holds), and a PQ index
    * RECONSTRUCTS from its codes under the codebooks persisted beside it by
    * [[savePq]] (the only vectors a PQ index still has — retraining on them
    * is exactly retraining on what every probe scores). Fails fast when a
    * PQ layout has no codebook artifacts in `dir`. */
  private def storedVectors(spark: SparkSession, dir: String,
                            stored: DataFrame): DataFrame =
    if (stored.columns.contains("pq_codes")) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
      require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/pq_meta")),
        s"$dir/assigned holds PQ codes but no savePq artifacts — retrain " +
          "needs the codebooks to reconstruct the vectors it re-trains on")
      pqReconStore(stored, loadPq(spark, dir)).select("nbr_id", "nbr_v")
    }
    else if (stored.columns.contains("codes"))
      stored.select(col("nbr_id"),
        VectorFunctions.dequantizeI8(col("codes"), col("scale")).as("nbr_v"))
    else stored.select("nbr_id", "nbr_v")

  /** Fail fast when a previous retrain's temp root survived a crash: its
    * staged parts and `old__*` backups are the RECOVERY material, and the
    * swap renames of a fresh run against it would fail (or, on
    * LocalFileSystem, nest directories) only to have the closing
    * tmp-root delete destroy both the staged parts and the backups while
    * the live dir sits in a mixed state. Manual recovery per the retrain
    * contract, then rerun. */
  private def requireNoStaleSwap(fs: org.apache.hadoop.fs.FileSystem,
                                 tmpRoot: String): Unit =
    require(!fs.exists(new org.apache.hadoop.fs.Path(tmpRoot)),
      s"$tmpRoot exists — a previous retrain crashed mid-swap; roll its " +
        "contents forward or back per the retrain recovery contract and " +
        "delete the temp root before retraining again")

  /** A swap rename that must succeed: a silently-false rename would leave
    * the staged/live halves inconsistent and the closing cleanup would then
    * delete the only good copy. */
  private def mustRename(fs: org.apache.hadoop.fs.FileSystem,
                         src: org.apache.hadoop.fs.Path,
                         dst: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(src, dst),
      s"rename $src -> $dst failed mid-swap — the index dir needs the " +
        "retrain recovery procedure (roll the temp root forward or back) " +
        "before it is probed or retrained again")

  // ==================== two-level (residual) IVF ====================

  /** A two-level coarse quantizer over an [[IvfIndex]]: `index.centroids`
    * is the LEAF table (nParents·fanout rows, each row carrying its
    * `parent`), `coarse` the parent table (nParents rows), and leaf
    * centroids are parent + shared residual codeword. The inner `index`
    * obeys the whole flat contract — [[saveIvf]]/[[loadIvf]]/[[searchIvf]]
    * work on it unchanged (flat search just scans all leaf centroids
    * exhaustively instead of descending the hierarchy). */
  case class Ivf2Index(index: IvfIndex, coarse: DataFrame, fanout: Int)

  /** Hierarchical nearest-leaf assignment: nearest PARENT first (nParents
    * distance evals, broadcast parent table), then nearest LEAF among that
    * parent's `fanout` children (broadcast equi-join on parent) — per
    * vector nParents + fanout ≈ 2·√nLists evals instead of the flat
    * assignment's nLists. This is the 65k-list fix: SCALE.md's re-sizing
    * row prices the flat corpus × nLists assignment at 3.5× per 10×; the
    * two-level form keeps the per-vector term √-bounded.
    *
    * Plan shape: the parent min_by partial-aggregates map-side before ONE
    * corpus shuffle on nbr_id; the child stage's broadcast join preserves
    * that hash partitioning, so its min_by aggregates WITHOUT a second
    * exchange (asserted in SimilaritySpec). Ties break (distance, id) at
    * both levels — deterministic like [[assignCells]]. Hierarchical
    * descent is the standard coarse-quantizer approximation: a vector near
    * a parent boundary may land in a slightly farther leaf than the flat
    * argmin; recall is governed by the probe budget either way (the spec
    * pins parity against flat IVF at equal budget). */
  def assignCells2(vecs: DataFrame, coarse: DataFrame,
                   leaves: DataFrame): DataFrame = {
    graft.GraftExtensions.register(vecs.sparkSession)
    val byParent = vecs.crossJoin(broadcast(coarse))
      .groupBy(col("nbr_id"))
      .agg(min_by(
        struct(col("parent"), col("nbr_v")),
        struct(graft.functions.VecCosine.dist2(col("nbr_v"), col("pcentroid")).as("d"),
          col("parent"))).as("m"))
      .select(col("nbr_id"), col("m.nbr_v").as("nbr_v"),
        col("m.parent").as("parent"))
    byParent
      .join(broadcast(leaves.select(col("parent"), col("cell"), col("centroid"))),
        Seq("parent"))
      .groupBy(col("nbr_id"))
      .agg(min_by(
        struct(col("cell"), col("nbr_v")),
        struct(graft.functions.VecCosine.dist2(col("nbr_v"), col("centroid")).as("d"),
          col("cell"))).as("m"))
      .select(col("nbr_id"), col("m.nbr_v").as("nbr_v"), col("m.cell").as("cell"))
  }

  /** Train the two-level quantizer and assign the corpus: one k-means fit
    * of `nParents` parent cells on a hash sample (the [[buildIvf]] recipe,
    * sized to the LEAF count), a second fit of `fanout` SHARED residual
    * codewords on the sample's parent residuals (the residual-codebook
    * trick: one codebook serves every parent, so training stays two fits
    * however many leaves there are), leaf table = parent ⊕ residual
    * (driver-built, nParents·fanout rows), then ONE hierarchical
    * assignment pass. nLists = nParents·fanout; size nParents ≈ fanout ≈
    * √nLists for the 2·√nLists assignment cost. */
  def buildIvf2(corpus: DataFrame, nParents: Int = 4, fanout: Int = 4,
                seed: Long = 42L): Ivf2Index = {
    graft.GraftExtensions.register(corpus.sparkSession)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.storage.StorageLevel
    require(nParents >= 1 && fanout >= 1, "nParents and fanout must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")))
    val n = c.count()
    val targetRows = nParents.toLong * fanout * 100L
    val pct = math.min(100, math.max(1,
      math.ceil(targetRows * 100.0 / math.max(n, 1L)).toInt))
    val train = Sampling.sampleByHash(c, col("nbr_id"), pct, salt = s"ivf2$seed")
      .select(col("nbr_id"),
        array_to_vector(col("nbr_v").cast("array<double>")).as("features"))
      .repartition(4)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val fit1 = new KMeans().setK(nParents).setSeed(seed).setMaxIter(5)
      .setInitMode("random").fit(train.select("features"))
    val parents = fit1.clusterCenters.toIndexedSeq.zipWithIndex
      .map { case (cent, i) => (i, cent.toArray.toSeq) }
      .toDF("parent", "pcentroid")
    // sample residuals against the NEAREST parent (same tie-break as the
    // assignment), then one shared residual fit
    val resid = train
      .select(col("nbr_id"),
        vector_to_array(col("features")).as("nbr_v"))
      .crossJoin(broadcast(parents))
      .groupBy(col("nbr_id"))
      .agg(min_by(struct(col("pcentroid"), col("nbr_v")),
        struct(graft.functions.VecCosine.dist2(col("nbr_v"), col("pcentroid")).as("d"),
          col("parent"))).as("m"))
      .select(zip_with(col("m.nbr_v").cast("array<double>"),
        col("m.pcentroid"), (a, b) => a - b).as("r"))
      .select(array_to_vector(col("r")).as("features"))
    val fit2 = new KMeans().setK(fanout).setSeed(seed + 1).setMaxIter(5)
      .setInitMode("random").fit(resid)
    train.unpersist(blocking = false)
    val leaves = (for {
      (pc, i) <- fit1.clusterCenters.toIndexedSeq.zipWithIndex
      (rc, j) <- fit2.clusterCenters.toIndexedSeq.zipWithIndex
    } yield (i * fanout + j, pc.toArray.zip(rc.toArray).map { case (a, b) => a + b }.toSeq, i))
      .toDF("cell", "centroid", "parent")
    val assigned = assignCells2(c, parents, leaves)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Ivf2Index(IvfIndex(assigned, leaves), parents, fanout)
  }

  /** Query-side hierarchical probe: rank parents per query, expand the top
    * `probeParents` parents' children, rank the expanded LEAVES by leaf
    * distance, keep `nProbe` — per query nParents + probeParents·fanout
    * distance evals instead of the flat probe's nLists. */
  private def probeCells2(queries: DataFrame, i2: Ivf2Index,
                          nProbe: Int, probeParents: Int): DataFrame = {
    val wp = Window.partitionBy("query_id").orderBy(col("__dp"), col("parent"))
    val wl = Window.partitionBy("query_id").orderBy(col("__d"), col("cell"))
    queries
      .select(col("vec_id").as("query_id"), col("embedding").as("q_v"))
      .crossJoin(broadcast(i2.coarse))
      .withColumn("__dp",
        graft.functions.VecCosine.dist2(col("q_v"), col("pcentroid")))
      .withColumn("__rp", row_number().over(wp))
      .filter(col("__rp") <= probeParents)
      .select(col("query_id"), col("q_v"), col("parent"))
      .join(broadcast(i2.index.centroids
        .select(col("parent"), col("cell"), col("centroid"))), Seq("parent"))
      .withColumn("__d",
        graft.functions.VecCosine.dist2(col("q_v"), col("centroid")))
      .withColumn("__r", row_number().over(wl))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("q_v"), col("cell"))
  }

  /** [[searchIvf]] through the two-level probe. `probeParents` defaults to
    * enough parents to expose nProbe leaves (⌈nProbe/fanout⌉ + 1 — one
    * extra parent absorbs boundary queries whose best leaves straddle two
    * parents); pass `probeParents = nParents` for an exhaustive-leaf probe
    * (≡ flat search ≡ brute force at nProbe = nLists — the oracle gate). */
  def searchIvf2(i2: Ivf2Index, queries: DataFrame, k: Int, nProbe: Int,
                 probeParents: Int = 0): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    // a budget larger than nParents is harmless: the rank filter passes
    // every parent and the probe degrades gracefully to exhaustive
    val pp = if (probeParents > 0) probeParents else nProbe / i2.fanout + 2
    val probed = probeCells2(queries, i2, nProbe, pp)
    val scored = probeStore(i2.index).join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist / load the two-level index: the inner flat index under the
    * [[saveIvf]] layout (the `parent` column rides along in the leaf
    * table), the parent table + fanout under `dir/coarse`. A directory
    * saved this way still loads as a FLAT index via [[loadIvf]]. */
  def saveIvf2(i2: Ivf2Index, dir: String): Unit = {
    // same publish contract as saveIvf (fresh dir / publish-then-rename):
    // three sequential halves here, and the hierarchical probe needs the
    // coarse table consistent with the leaf centroids it descends into
    saveIvf(i2.index, dir)
    i2.coarse.withColumn("fanout", lit(i2.fanout))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/coarse")
  }

  /** Load an index persisted by [[saveIvf2]]. */
  def loadIvf2(spark: SparkSession, dir: String): Ivf2Index = {
    val coarse = spark.read.parquet(s"$dir/coarse")
    Ivf2Index(loadIvf(spark, dir),
      coarse.select("parent", "pcentroid"),
      coarse.select("fanout").head.getInt(0))
  }

  // ==================== product quantization (IVF+PQ) ====================

  /** Trained PQ codebooks: `m` subspaces of `dim / m` dims each, `nCodes`
    * codewords per subspace (≤ 256 so a code fits one biased byte).
    * `codebooks` is (subspace, code, codeword: array<double>) — any
    * deterministic construction works (the gates use exact hash-bucket
    * subvector means, the same swap [[Dedup.semanticDedup]] makes for its
    * centroids, so the oracle can reproduce them). */
  case class PqCodebooks(m: Int, dim: Int, nCodes: Int, codebooks: DataFrame) {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(nCodes <= 256, s"nCodes $nCodes exceeds one byte per code")
    def subDim: Int = dim / m
  }

  /** Encode a built index's vectors to PQ codes: each subvector is assigned
    * its nearest codeword ([[assignCells]]'s broadcast + min_by shape, per
    * subspace; distance ties break to the lowest code). The assigned frame
    * becomes (nbr_id, pq_codes: array<tinyint>, cell) — m BYTES per vector
    * (codes stored biased by -128), the 16–64x compression step beyond
    * [[quantizeIvf]]'s int8 (dim bytes). Build-time cost: one explode to
    * (vector, subspace) rows, a broadcast codebook join, and two
    * partial-agg groupBys — paid once in the build-once/search-many
    * lifecycle, like assignment itself. */
  def encodePq(index: IvfIndex, pq: PqCodebooks): IvfIndex = {
    graft.GraftExtensions.register(index.assigned.sparkSession)
    val sub = pq.subDim
    val exploded = index.assigned
      .select(col("nbr_id"), col("cell"),
        posexplode(transform(sequence(lit(0), lit(pq.m - 1)),
          j => slice(col("nbr_v").cast("array<double>"), j * sub + 1, lit(sub)))))
      .select(col("nbr_id"), col("cell"),
        col("pos").as("subspace"), col("col").as("subvec"))
    val codes = exploded.join(broadcast(pq.codebooks), Seq("subspace"))
      .groupBy("nbr_id", "cell", "subspace")
      .agg(min_by(col("code"),
        struct(graft.functions.VecCosine.dist2(col("subvec"), col("codeword")).as("d"),
          col("code"))).as("code"))
      .groupBy("nbr_id", "cell")
      .agg(transform(
        array_sort(collect_list(struct(col("subspace"), col("code")))),
        s => (s.getField("code") - lit(128)).cast("byte")).as("pq_codes"))
    IvfIndex(codes.select(col("nbr_id"), col("pq_codes"), col("cell")),
      index.centroids)
  }

  /** Probe a PQ-coded index: candidates come from the `nProbe` nearest
    * cells (same [[probeCells]] equi-join), and each candidate's score is
    * the cosine between the full-precision query and the candidate's PQ
    * RECONSTRUCTION — decoded IN THE PROBE SCAN by indexing a nested
    * [subspace][code] -> codeword array that rides a one-row broadcast
    * (codebooks are DATA in a joined row, never plan literals, so codegen
    * is constant-sized in m x nCodes — the same blowup [[assignCells]]
    * avoids for centroids). This is ADC by reconstruction: cosine(q,
    * concat_j cw_j) — scores are a deterministic left-to-right fold, so
    * the nProbe = nLists mode hash-matches a brute-force oracle over the
    * same reconstructions (the table-lookup ADC variant precomputes
    * per-query partial dots; its sum order over subspaces is engine-
    * dependent, which is why the reconstruction form is the gated one).
    * At production nProbe << nLists the scan touches nProbe/nLists of an
    * index that is m bytes per vector. Recall vs exact search is bounded
    * in SimilaritySpec. */
  def searchIvfPq(index: IvfIndex, pq: PqCodebooks, queries: DataFrame,
                  k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    val probed = probeCells(queries, index.centroids, nProbe)
    rankPqCandidates(pqReconStore(index.assigned, pq), probed, k)
  }

  /** The PQ-reconstruction candidate store shared by the flat and two-level
    * probes: each coded row decoded to its reconstruction IN THE SCAN by
    * indexing a nested [subspace][code] -> codeword array that rides a
    * one-row broadcast (codebooks are DATA in a joined row, never plan
    * literals — codegen stays constant-sized in m x nCodes; inner sort by
    * code, outer by subspace, both deterministic). */
  private def pqReconStore(assigned: DataFrame, pq: PqCodebooks): DataFrame = {
    val nested = pq.codebooks
      .groupBy("subspace")
      .agg(transform(array_sort(collect_list(struct(col("code"), col("codeword")))),
        s => s.getField("codeword")).as("cb"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("subspace"), col("cb")))),
        s => s.getField("cb")).as("cb"))
    assigned.crossJoin(broadcast(nested))
      .select(col("cell"), col("nbr_id"),
        flatten(transform(col("pq_codes"), (c, j) =>
          element_at(element_at(col("cb"), j + lit(1)),
            c.cast("int") + lit(129)))).as("nbr_v"))
  }

  /** Score probed cells' candidates against the full-precision query and
    * keep each query's top k — the shared tail of every IVF search. */
  private def rankPqCandidates(store: DataFrame, probed: DataFrame,
                               k: Int): DataFrame = {
    val scored = store.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** [[encodePq]] for a TWO-LEVEL index — the 65k-list composition the two
    * levers were built for: the hierarchical quantizer caps assignment at
    * 2·√nLists distance evals per vector, PQ caps the stored bytes at m per
    * vector. The leaf assignment already rides the flat [[IvfIndex]]
    * contract, so the encode is [[encodePq]] over the inner index verbatim;
    * the coarse table and fanout ride along unchanged. [[saveIvf2]] +
    * [[savePq]] persist the result (the coded leaf layout loads back
    * through [[loadIvf2]] + [[loadPq]]). */
  def encodePq2(i2: Ivf2Index, pq: PqCodebooks): Ivf2Index =
    Ivf2Index(encodePq(i2.index, pq), i2.coarse, i2.fanout)

  /** [[searchIvfPq]] through the two-level probe: the hierarchical parent →
    * leaf descent picks the `nProbe` candidate cells (nParents +
    * probeParents·fanout distance evals per query instead of the flat
    * probe's nLists), then candidates score by PQ reconstruction exactly as
    * the flat path — same deterministic left-to-right fold, so the
    * exhaustive-probe mode (`probeParents = nParents`, `nProbe = nLists`)
    * hash-matches the same brute-force-over-reconstructions oracle the flat
    * PQ gate uses. At production settings the probe touches
    * nProbe/nLists of an index that stores m BYTES per vector — the two
    * scale levers composed. */
  def searchIvf2Pq(i2: Ivf2Index, pq: PqCodebooks, queries: DataFrame,
                   k: Int, nProbe: Int, probeParents: Int = 0): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    val pp = if (probeParents > 0) probeParents else nProbe / i2.fanout + 2
    val probed = probeCells2(queries, i2, nProbe, pp)
    rankPqCandidates(pqReconStore(i2.index.assigned, pq), probed, k)
  }

  /** Persist trained PQ codebooks beside a [[saveIvf]] index — the
    * deployment needs both halves to probe (codes are meaningless without
    * their codebooks, exactly as cells are without centroids). The codebook
    * frame is metadata-sized (m x nCodes rows); the shape scalars ride a
    * one-row meta parquet so [[loadPq]] reconstructs the case class without
    * inferring from data (empty codes under a sparse deterministic
    * construction would corrupt an inferred nCodes). */
  def savePq(pq: PqCodebooks, dir: String): Unit = {
    val spark = pq.codebooks.sparkSession
    import spark.implicits._
    pq.codebooks.coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
    Seq((pq.m, pq.dim, pq.nCodes)).toDF("m", "dim", "n_codes")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/pq_meta")
  }

  /** Load codebooks persisted by [[savePq]]. Both halves stay lazy scans. */
  def loadPq(spark: SparkSession, dir: String): PqCodebooks = {
    val meta = spark.read.parquet(s"$dir/pq_meta")
      .select("m", "dim", "n_codes").head
    PqCodebooks(meta.getInt(0), meta.getInt(1), meta.getInt(2),
      spark.read.parquet(s"$dir/codebooks"))
  }

  /** HARD-NEGATIVE mining for contrastive/retrieval training: each query's
    * top-k highest-cosine corpus vectors EXCLUDING its own near-duplicate
    * component — the gradient-rich negatives (in-batch random negatives
    * are easy; a near-duplicate mislabeled as a negative actively poisons
    * the loss, which is why the dup labeling must be composed in, not
    * bolted on after ranking). `labeled` is (vec_id, embedding, component)
    * — [[Dedup.semanticDedup]]'s output joined back onto the vectors, or
    * any clustering with the same shape; `queries` is a bounded subset of
    * it (broadcast).
    *
    * Scale shape: one corpus scan with the query frame broadcast into the
    * pair join (the component exclusion rides the join predicate, so
    * excluded pairs never materialize), then the standard per-query rank
    * window over |queries| x |candidates| rows. The corpus is never
    * shuffled; swap the scan for [[searchIvfPq]]-style cell pruning when
    * the corpus outgrows full scans. */
  def hardNegativeTopK(labeled: DataFrame, queries: DataFrame,
                       k: Int): DataFrame = {
    graft.GraftExtensions.register(labeled.sparkSession)
    val c = Parallelism.fanOut(labeled.select(col("vec_id").as("nbr_id"),
      col("embedding").as("nbr_v"), col("component").as("nbr_comp")))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_v"), col("component").as("q_comp"))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("nbr_id") && col("nbr_comp") =!= col("q_comp"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Contrastive TRIPLET builder — (anchor, positive, hard negatives) from
    * a near-dup-labeled corpus, the data-construction step for embedding /
    * retrieval training: the POSITIVE is the anchor's most-similar
    * SAME-component neighbor (a true paraphrase/near-copy, not a random
    * augmentation), the negatives are [[hardNegativeTopK]]'s
    * component-excluded top-k (high-cosine but genuinely different
    * content — a near-dup mislabeled as negative poisons the loss).
    * Queries with no same-component mate emit nothing (no positive
    * exists). Output: (query_id, pos_id, pos_cosine, neg_rank 1..kNeg,
    * neg_id, neg_cosine) — one row per negative.
    *
    * Shape: ONE corpus scan scores both streams (the same/diff flag is a
    * column, not two scans by construction; the ranked frame feeds both
    * filters and Spark's exchange reuse dedups the shuffle), one window
    * partitioned by (query, same-flag), and a (queries × kNeg)-bounded
    * join. The corpus is never shuffled. */
  def contrastivePairs(labeled: DataFrame, queries: DataFrame,
                       kNeg: Int): DataFrame = {
    require(kNeg > 0, "kNeg must be positive")
    graft.GraftExtensions.register(labeled.sparkSession)
    val c = Parallelism.fanOut(labeled.select(col("vec_id").as("nbr_id"),
      col("embedding").as("nbr_v"), col("component").as("nbr_comp")))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_v"), col("component").as("q_comp"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (col("nbr_comp") === col("q_comp")).as("same"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id", "same")
      .orderBy(desc("cosine"), asc("nbr_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
    val pos = ranked.filter(col("same") && col("rank") === 1)
      .select(col("query_id"), col("nbr_id").as("pos_id"),
        col("cosine").as("pos_cosine"))
    val neg = ranked.filter(!col("same") && col("rank") <= kNeg)
      .select(col("query_id"), col("rank").as("neg_rank"),
        col("nbr_id").as("neg_id"), col("cosine").as("neg_cosine"))
    pos.join(neg, Seq("query_id"))
      .select("query_id", "pos_id", "pos_cosine", "neg_rank", "neg_id",
        "neg_cosine")
  }

  /** [[hardNegativeTopK]] routed through a persisted IVF index — retires
    * the engine's last O(corpus × queries) scan: candidate generation IS
    * the cell equi-join (each query scores only its `nProbe` nearest
    * cells' vectors), and the same-component exclusion rides the candidate
    * join's predicate, so excluded pairs never materialize. `components`
    * is the (vec_id, component) labeling ([[Dedup.semanticDedup]] output);
    * it joins the INDEX side by id — one shuffle of two id-partitioned
    * frames, independent of the query count (in deployment the label
    * column is co-written into the index layout at [[appendIvf]] time and
    * the join disappears). Works on a [[quantizeIvf]]-compressed index
    * (codes dequantize in the probe scan).
    *
    * At nProbe = nLists every cell is probed and the output equals
    * [[hardNegativeTopK]] row for row (the oracle gate); at production
    * nProbe << nLists each query touches nProbe/nLists of the corpus and
    * recall vs exact is bounded in SimilaritySpec. */
  def hardNegativeTopKIvf(index: IvfIndex, components: DataFrame,
                          queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    val probed = probeCellsExtra(
      queries.select(col("vec_id"), col("embedding"),
        col("component").as("q_comp")),
      index.centroids, nProbe, Seq("q_comp"))
    val store = probeStore(index).join(
      components.select(col("vec_id").as("nbr_id"),
        col("component").as("nbr_comp")),
      Seq("nbr_id"))
    val scored = store.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id") &&
        col("nbr_comp") =!= col("q_comp"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** [[contrastivePairs]] routed through a persisted IVF index — the same
    * cell-pruned candidate generation as [[hardNegativeTopKIvf]], with the
    * positive (most-similar SAME-component neighbor) and the negatives
    * (component-excluded top-kNeg) both drawn from the probed cells: ONE
    * cell-pruned scan scores both streams (the same/diff flag is a column),
    * one window partitioned by (query, same-flag), and a
    * (queries × kNeg)-bounded join. A query's positive is its nearest
    * near-duplicate, so it lives in the query's nearest cells with the
    * same locality that makes IVF retrieval work — at nProbe = nLists the
    * output equals [[contrastivePairs]] row for row (the oracle gate);
    * recall at nProbe < nLists is bounded in SimilaritySpec. */
  def contrastivePairsIvf(index: IvfIndex, components: DataFrame,
                          queries: DataFrame, kNeg: Int, nProbe: Int): DataFrame = {
    require(kNeg > 0, "kNeg must be positive")
    graft.GraftExtensions.register(queries.sparkSession)
    val probed = probeCellsExtra(
      queries.select(col("vec_id"), col("embedding"),
        col("component").as("q_comp")),
      index.centroids, nProbe, Seq("q_comp"))
    val store = probeStore(index).join(
      components.select(col("vec_id").as("nbr_id"),
        col("component").as("nbr_comp")),
      Seq("nbr_id"))
    val scored = store.join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        (col("nbr_comp") === col("q_comp")).as("same"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id", "same")
      .orderBy(desc("cosine"), asc("nbr_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
    val pos = ranked.filter(col("same") && col("rank") === 1)
      .select(col("query_id"), col("nbr_id").as("pos_id"),
        col("cosine").as("pos_cosine"))
    val neg = ranked.filter(!col("same") && col("rank") <= kNeg)
      .select(col("query_id"), col("rank").as("neg_rank"),
        col("nbr_id").as("neg_id"), col("cosine").as("neg_cosine"))
    pos.join(neg, Seq("query_id"))
      .select("query_id", "pos_id", "pos_cosine", "neg_rank", "neg_id",
        "neg_cosine")
  }

  /** FILTERED ANN search — "nearest neighbors among documents satisfying a
    * predicate" (lang = en, quality ≥ τ, licence allow-listed...), the
    * query shape every retrieval deployment actually serves. Semantics are
    * PRE-FILTER within the probed cells: `attrs` (nbr_id + metadata
    * columns) joins the candidate store and `pred` drops candidates BEFORE
    * the rank, so each query returns its true filtered top-k over the
    * probed cells — never a post-filtered shortlist that can starve below
    * k when the predicate is selective (the classic post-filter failure).
    * At nProbe = nLists the result is exactly brute force over the
    * filtered corpus (the oracle gate).
    *
    * Scale shape: [[searchIvf]]'s cell-pruned scan plus ONE id-keyed join
    * of the attribute frame against the store — independent of the query
    * count, and gone entirely in deployments that co-write the filter
    * columns into the index layout ([[appendIvf]] carries any extra
    * columns the assigned frame holds). The predicate evaluates in the
    * scan stage; selectivity only shrinks the window input. */
  def searchIvfFiltered(index: IvfIndex, attrs: DataFrame, queries: DataFrame,
                        k: Int, nProbe: Int,
                        pred: Column): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    val probed = probeCells(queries, index.centroids, nProbe)
    rankPqCandidates(filteredStore(probeStore(index), attrs, pred), probed, k)
  }

  /** Apply the attribute predicate to a candidate store BEFORE ranking —
    * the shared pre-filter step of every filtered search variant (raw,
    * int8, PQ; flat and two-level): one id-keyed join of the attrs frame
    * against the store, then the predicate in the scan stage. */
  private def filteredStore(store: DataFrame, attrs: DataFrame,
                            pred: Column): DataFrame =
    store
      .join(attrs.withColumnRenamed(attrs.columns.head, "nbr_id"), Seq("nbr_id"))
      .filter(pred)

  /** [[searchIvfFiltered]] over a PQ-CODED store — the last missing
    * two-lever composition: a 65k-list × 100 TB deployment stores m bytes
    * per vector AND serves predicated retrieval (lang = en, licence
    * allow-listed...), so the filter has to evaluate against the coded
    * layout, not a parallel raw copy. Candidates decode to their PQ
    * reconstructions in the probe scan exactly as [[searchIvfPq]], the
    * attrs join + `pred` drop candidates BEFORE the rank (the same
    * pre-filter semantics as the raw path — a selective predicate never
    * starves the top-k), and at nProbe = nLists the result is brute force
    * over the FILTERED reconstructions (the oracle gate). Scale shape:
    * [[searchIvfPq]]'s cell-pruned m-bytes-per-row scan plus ONE id-keyed
    * attrs join, independent of query count. */
  def searchIvfPqFiltered(index: IvfIndex, pq: PqCodebooks, attrs: DataFrame,
                          queries: DataFrame, k: Int, nProbe: Int,
                          pred: Column): DataFrame = {
    graft.GraftExtensions.register(queries.sparkSession)
    val probed = probeCells(queries, index.centroids, nProbe)
    rankPqCandidates(
      filteredStore(pqReconStore(index.assigned, pq), attrs, pred), probed, k)
  }

  /** Bucketed ANN: neighbors are only searched inside the query's sign-LSH
    * bucket. Same output shape as bruteForceTopK; recall < 1 by design. */
  def bucketedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   bucketBits: Int = 8, dim: Int = 64): DataFrame = {
    graft.GraftExtensions.register(corpus.sparkSession)
    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")))
      .select(col("nbr_id"), col("nbr_v"),
        VectorFunctions.hyperplaneBucket(col("nbr_v"), bucketBits, dim).as("bucket"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_v"),
      VectorFunctions.hyperplaneBucket(col("embedding"), bucketBits, dim).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Maximal-marginal-relevance selection over per-query candidate lists —
    * the diversity-aware re-rank after ANN retrieval: pure top-k returns k
    * near-copies of the same neighborhood; MMR greedily picks the candidate
    * maximizing `λ·relevance − (1−λ)·max_similarity_to_already_selected`,
    * trading relevance against redundancy (λ=1 is plain top-k, λ=0 pure
    * diversity). The standard step when building contrastive batches or
    * eval panels from a retrieval pass.
    *
    * `candidates` carries (query_id, nbr_id, cosine, nbr_v) — e.g.
    * [[bruteForceTopK]]/[[searchIvf]] output joined back to its vectors.
    * Ids are normalized to bigint; rows with a null id/score/vector or a
    * null vector element are dropped (a scoreless candidate can never be
    * selected ahead of a complete one). Output: (query_id, sel_rank 1..k,
    * nbr_id, cosine, mmr_score).
    *
    * Shape: MMR is inherently sequential in k but each query's candidate
    * list is bounded by the upstream retrieval k — a per-group sequential
    * kernel over a bounded group, which is exactly the `flatMapGroups`
    * case. ONE shuffle on query_id moves each (queries × per-list k)
    * candidate list into a single task; the greedy loop runs there with
    * incremental max-sim maintenance (O(list² · dim) per query, microseconds
    * at practical list sizes). The corpus never reappears, plan depth is
    * constant in k, and nothing is recomputed — the unrolled-plan
    * alternative re-evaluates the retrieval lineage per step (exponentially
    * without checkpoints), which is the wrong trade at any scale.
    *
    * Determinism: pair sims replay [[graft.functions.VecCosine]]'s exact
    * arithmetic (left-to-right IEEE-double folds, dot / (√na·√nb)), the
    * per-step score is rounded to 9 decimals HALF_UP (Spark `round`
    * semantics, NaN/Inf passed through) before the argmax, and ties break
    * on nbr_id with java.lang.Double total order (NaN largest) — matching
    * the equivalent DataFrame window plan and any engine mirroring the
    * fold, bit for bit. */
  def mmrSelect(candidates: DataFrame, k: Int, lambda: Double): DataFrame = {
    require(k > 0, "k must be positive")
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0, 1]")
    val spark = candidates.sparkSession
    import spark.implicits._
    val om = 1.0 - lambda
    val cand = candidates
      .select(col("query_id").cast("bigint"), col("nbr_id").cast("bigint"),
        col("cosine").cast("double"), col("nbr_v").cast("array<double>"))
      .filter(col("query_id").isNotNull && col("nbr_id").isNotNull &&
        col("cosine").isNotNull && col("nbr_v").isNotNull &&
        forall(col("nbr_v"), e => e.isNotNull))
      .as[(Long, Long, Double, Array[Double])]
    cand.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Double])]) =>
        val cs = it.toArray.sortBy(_._2) // candidate-list-bounded; id order for stable ties
        val n = cs.length
        val taken = new Array[Boolean](n)
        val simmax = Array.fill(n)(0.0)
        val simSeen = new Array[Boolean](n) // false until a non-null pair sim exists
        val out = new scala.collection.mutable.ArrayBuffer[
          (Long, Int, Long, Double, Double)](math.min(k, n))
        var step = 1
        while (step <= k && step <= n) {
          var best = -1
          var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!taken(i)) {
              val scored = step == 1 || simSeen(i)
              if (scored) {
                val s =
                  if (step == 1) round9(lambda * cs(i)._3)
                  else round9(lambda * cs(i)._3 - om * simmax(i))
                // desc by score (Double total order: NaN largest), asc nbr_id
                if (best < 0 || java.lang.Double.compare(s, bestScore) > 0) {
                  best = i; bestScore = s
                }
              }
            }
            i += 1
          }
          if (best < 0) { step = k + 1 } // only scoreless candidates remain
          else {
            taken(best) = true
            out += ((qid, step, cs(best)._2, cs(best)._3, bestScore))
            // incremental max-sim update vs the newly selected vector
            val sv = cs(best)._4
            var j = 0
            while (j < n) {
              // length-mismatch pairs are null under the zip_with contract and
              // a max over doubles skips nulls (while NaN compares largest) —
              // so only same-length sims participate
              if (!taken(j) && sameLen(cs(j)._4, sv)) {
                val s = cosineFold(cs(j)._4, sv)
                if (!simSeen(j) || java.lang.Double.compare(s, simmax(j)) > 0)
                  simmax(j) = s
                simSeen(j) = true
              }
              j += 1
            }
            step += 1
          }
        }
        out.iterator
      }
      .toDF("query_id", "sel_rank", "nbr_id", "cosine", "mmr_score")
  }

  /** Spark `round(col, 9)` on DoubleType: BigDecimal HALF_UP, NaN/Inf pass
    * through unchanged. */
  private def round9(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  private def sameLen(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length

  /** [[graft.functions.VecCosine]]'s exact arithmetic: three accumulators
    * summed left-to-right in IEEE double, dot / (sqrt(na) * sqrt(nb)).
    * Callers guard the length-mismatch (null-in-plan) case via [[sameLen]]. */
  private def cosineFold(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Reciprocal-rank fusion of several per-query rankings — the standard
    * HYBRID-retrieval combiner (Cormack et al., SIGIR 2009): candidate
    * scores from different retrievers (BM25 lexical, embedding ANN, ...)
    * are incomparable, but ranks are not, so each list contributes
    * 1/(c + rank) and the fused order is the contribution sum. c = 60 is
    * the published default (dampens the top-1 dominance of any one list).
    *
    * Inputs: each frame carries (query_id, nbr_id, rank); candidates
    * missing from a list simply contribute nothing. Output: (query_id,
    * nbr_id, n_lists, rrf_score, rank) — top `k` per query.
    *
    * Scale shape: every input is already (queries × per-list k)-bounded by
    * its retriever, so fusion never touches the corpus: one unionByName,
    * one partial-agg groupBy on (query_id, nbr_id), and a window whose
    * partitions hold at most Σ per-list k rows per query. Per-list
    * contributions are rounded to 9 decimals and summed as decimal(28,9),
    * so the fused score (and the ranks it orders) is independent of which
    * list's rows arrive first. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k > 0 && c >= 0, "k must be positive, c non-negative")
    val u = rankings
      .map(_.select(col("query_id"), col("nbr_id"), col("rank")))
      .reduce(_ unionByName _)
    val fused = u.groupBy("query_id", "nbr_id")
      .agg(count(lit(1)).as("n_lists"),
        sum(round(lit(1.0) / (lit(c) + col("rank")), 9).cast("decimal(28,9)"))
          .as("__score_d"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__score_d").desc, col("nbr_id"))
    fused.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .withColumn("rrf_score", round(col("__score_d").cast("double"), 6))
      .select("query_id", "nbr_id", "n_lists", "rrf_score", "rank")
  }

  /** Cross-corpus top-k (the two-sided sibling of [[bruteForceTopK]]): rank
    * `corpus` rows against each `queries` row WITHOUT the same-id
    * self-exclusion — the id spaces are different corpora. Queries
    * broadcast; for two corpus-scale sides route each direction through a
    * persisted index instead ([[searchIvf]] — [[bitextMineIvf]] does). */
  def crossTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.GraftExtensions.register(corpus.sparkSession)
    val c = Parallelism.fanOut(
      corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_v"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("nbr_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Margin-criterion bitext/pair mining (Artetxe & Schwenk ratio margin —
    * the LASER/CCMatrix alignment rule): given FORWARD rankings (side X
    * queried against corpus Y) and BACKWARD rankings (Y against X), a
    * candidate pair is each x's rank-1 y; its margin normalizes the pair
    * cosine by the mean of both endpoints' k-NN neighborhoods,
    *
    *   margin(x, y) = cos(x, y) / ((avgK(x) + avgK(y)) / 2),
    *
    * and survivors must be MUTUAL best matches (y's rank-1 is x) with
    * margin >= `minMargin` — the filter that kills hub vectors whose
    * neighborhoods are uniformly close. Neighborhood means fold as
    * round-9 DECIMAL(38,9) sums over the k-bounded lists (order-free,
    * engine-exact); margins round to 9.
    *
    * Scale shape: everything downstream of the rankings is
    * (|X| + |Y|) x k-bounded — two partial aggs and three equi-joins. */
  def bitextMarginPairs(fwd: DataFrame, bwd: DataFrame,
                        minMargin: Double): DataFrame = {
    def avgK(r: DataFrame, out: String) = r.groupBy(col("query_id"))
      .agg((sum(round(col("cosine"), 9).cast("decimal(38,9)")).cast("double") /
        count(lit(1))).as(out))
    val fwdBest = fwd.filter(col("rank") === 1)
      .select(col("query_id").as("src_id"), col("nbr_id").as("tgt_id"),
        col("cosine"))
    val bwdBest = bwd.filter(col("rank") === 1)
      .select(col("query_id").as("tgt_id"), col("nbr_id").as("src_id"))
    fwdBest
      .join(bwdBest, Seq("src_id", "tgt_id")) // mutual best only
      .join(avgK(fwd, "__ax").withColumnRenamed("query_id", "src_id"),
        Seq("src_id"))
      .join(avgK(bwd, "__ay").withColumnRenamed("query_id", "tgt_id"),
        Seq("tgt_id"))
      .withColumn("margin", round(round(col("cosine"), 9) /
        ((col("__ax") + col("__ay")) / lit(2.0)), 9))
      .filter(col("margin") >= minMargin)
      .select("src_id", "tgt_id", "cosine", "margin")
  }

  /** Brute bitext mining (the oracle-able baseline): both directions via
    * [[crossTopK]]. */
  def bitextMine(xs: DataFrame, ys: DataFrame, k: Int,
                 minMargin: Double): DataFrame =
    bitextMarginPairs(crossTopK(ys, xs, k), crossTopK(xs, ys, k), minMargin)

  /** Matryoshka truncation recall report — the evaluation behind
    * MRL-style embedding deployment: how much of the FULL-dimension top-k
    * survives when vectors are truncated to their first `m` dims (cosine
    * renormalizes implicitly, so truncation needs no re-scaling pass).
    * One row per (m, query): n_hits = overlap of the truncated top-k with
    * the full top-k, recall = n_hits / k — the curve that picks the
    * serving dimension (storage and ANN cost scale linearly in m, recall
    * does not).
    *
    * Scale shape: one ranking pass per probed dimension over the same
    * corpus scan shape as [[bruteForceTopK]]; overlap and recall are
    * (queries × k)-bounded. Swap the ranking fn for [[searchIvf]] probes
    * at corpus scale — recall semantics are identical. */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                       dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "need at least one truncation dim")
    val full = bruteForceTopK(corpus, queries, k)
      .select(col("query_id"), col("nbr_id"))
    val qids = queries.select(col("vec_id").as("query_id"))
    dims.map { m =>
      def trunc(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, m).as("embedding"))
      val hits = bruteForceTopK(trunc(corpus), trunc(queries), k)
        .select(col("query_id"), col("nbr_id"))
        .join(full, Seq("query_id", "nbr_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).cast("long").as("n_hits"))
      qids.join(hits, Seq("query_id"), "left")
        .select(lit(m).as("m"), col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
    }.reduce(_ unionByName _)
  }

  /** Index-routed bitext mining — the corpus-scale path: each direction
    * probes the OTHER side's persisted IVF index, so neither side is
    * broadcast and the pair space is cell-pruned. Equals [[bitextMine]] at
    * nProbe = nLists (both sides' id spaces disjoint, so searchIvf's
    * self-exclusion never fires). */
  def bitextMineIvf(indexX: IvfIndex, indexY: IvfIndex,
                    xs: DataFrame, ys: DataFrame, k: Int,
                    minMargin: Double, nProbe: Int): DataFrame =
    bitextMarginPairs(searchIvf(indexY, xs, k, nProbe),
      searchIvf(indexX, ys, k, nProbe), minMargin)

  /** Index-routed Matryoshka recall — the corpus-scale path
    * [[matryoshkaRecall]]'s doc promises: per-dim rankings come from
    * [[searchIvf]] probes of PER-DIM truncated indexes (the deployment
    * persists one index per candidate serving dimension at ingest) instead
    * of corpus-linear brute scans, so each dim's cost is cell-local. The
    * full-dim baseline probes `fullIndex` at `nProbeFull`; recall semantics
    * are identical to the brute operator when every cell is probed
    * (nProbe = the index's nLists), asserted in SimilaritySpec.
    *
    * `dimIndexes` maps truncation dim m -> an index built over
    * `slice(embedding, 1, m)` of the same corpus; queries are truncated in
    * here to match. The full-dim top-k frame roots one consumer PER dim, so
    * it is persisted, materialized, and pinned into the caller's
    * [[graft.core.CacheScope]] — it is (queries x k)-bounded, never
    * corpus-bounded. */
  def matryoshkaRecallIvf(fullIndex: IvfIndex, dimIndexes: Seq[(Int, IvfIndex)],
                          queries: DataFrame, k: Int, nProbe: Int,
                          nProbeFull: Int,
                          scope: graft.core.CacheScope.Handle =
                            graft.core.CacheScope.detached): DataFrame = {
    require(dimIndexes.nonEmpty, "need at least one truncation dim")
    val full = scope.pin(
      searchIvf(fullIndex, queries, k, nProbeFull)
        .select(col("query_id"), col("nbr_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    full.count() // one consumer per probed dim — materialize before fan-out
    val qids = queries.select(col("vec_id").as("query_id"))
    dimIndexes.map { case (m, idx) =>
      val tq = queries.select(col("vec_id"),
        slice(col("embedding"), 1, m).as("embedding"))
      val hits = searchIvf(idx, tq, k, nProbe)
        .select(col("query_id"), col("nbr_id"))
        .join(full, Seq("query_id", "nbr_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).cast("long").as("n_hits"))
      qids.join(hits, Seq("query_id"), "left")
        .select(lit(m).as("m"), col("query_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          (coalesce(col("n_hits"), lit(0L)).cast("double") / k).as("recall"))
    }.reduce(_ unionByName _)
  }
}
