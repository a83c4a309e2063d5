package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Benchmark decontamination: flag training documents whose n-gram content
  * overlaps an evaluation/benchmark set (the standard pretraining hygiene
  * step — a training corpus that contains the benchmark inflates every score
  * computed on it).
  *
  * Definition: a document's contamination is the fraction of its DISTINCT
  * word k-shingles that appear anywhere in the benchmark set; `threshold`
  * turns the fraction into the `is_contaminated` flag.
  *
  * Scale shape (100 TB corpus, bounded benchmark):
  *  - both sides reduce to (doc, shingle-fp60) edges — joins compare 60-bit
  *    longs, never strings (see [[Dedup.tokenFp60]]);
  *  - the benchmark collapses to its DISTINCT shingle set once (benchmarks
  *    are MBs to low GBs — large enough that we never driver-collect it, and
  *    the join is a left-semi on the fingerprint, which Spark can still
  *    broadcast when the benchmark is genuinely small);
  *  - per-document totals and matches are partial-aggregated before their
  *    single shuffle, so shuffle bytes scale with |docs|, not |shingles|.
  */
object Decontaminate {

  /** Per-document contamination against `benchmark`. Output:
    * (doc_id, n_shingles, n_matched, contamination, is_contaminated). */
  def fractions(corpus: DataFrame, benchmark: DataFrame,
                idCol: String, textCol: String,
                threshold: Double, shingleK: Int = 3,
                scope: graft.core.CacheScope.Handle =
                  graft.core.CacheScope.detached): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val feats: Column => Column =
      t => array_distinct(TextFunctions.shingles(t, shingleK))
    // read twice (matched branch + per-doc totals): persist + materialize so
    // the tokenize+fingerprint pipeline runs once — same discipline as the
    // Dedup self-joins (exchange reuse is unreliable, and unmaterialized
    // branches race to populate the cache)
    val corpusEdges = scope.pin(
      Dedup.tokenIndex(corpus, idCol, textCol, feats)
        .select(col("doc_id"), Dedup.tokenFp60(col("tok")).as("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    corpusEdges.count()
    val benchFps = Dedup.tokenIndex(benchmark, idCol, textCol, feats)
      .select(Dedup.tokenFp60(col("tok")).as("fp"))
      .distinct()
    // left-semi marks matched edges without duplicating them (a benchmark
    // shingle appears once in benchFps by construction); counts then reduce
    // map-side before the one shuffle on doc_id
    val matched = corpusEdges.join(benchFps, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
    corpusEdges.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(matched, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"))
      .withColumn("contamination",
        col("n_matched").cast("double") / col("n_shingles"))
      .withColumn("is_contaminated", col("contamination") >= threshold)
  }

  /** N-gram-COLLISION decontamination — the GPT-3 appendix-C / Llama rule:
    * flag a document when ANY of its word k-shingles (13-grams in the
    * original recipe) appears anywhere in the benchmark set, instead of
    * thresholding an overlap fraction. One colliding 13-gram is already
    * decisive evidence of verbatim benchmark text (a 13-token exact match
    * does not happen by chance), which is why the big-model recipes use
    * collision, not fraction, for their eval-set hygiene. Output:
    * (doc_id, n_shingles, n_collisions, is_contaminated).
    *
    * Same scale shape as [[fractions]] (it IS fractions' pipeline — fp60
    * edges, benchmark distinct set, left-semi mark, partial-agg counts);
    * only the verdict differs: `n_collisions >= 1`. Documents shorter than
    * k tokens collapse to one whole-text shingle ([[TextFunctions.shingles]])
    * — they collide only on an exact short-text match, the rule's natural
    * degenerate case. */
  def ngramCollisions(corpus: DataFrame, benchmark: DataFrame,
                      idCol: String, textCol: String, shingleK: Int = 13,
                      scope: graft.core.CacheScope.Handle =
                        graft.core.CacheScope.detached): DataFrame =
    fractions(corpus, benchmark, idCol, textCol, threshold = 1.0, shingleK,
        scope)
      .select(col("doc_id"), col("n_shingles"),
        col("n_matched").as("n_collisions"),
        (col("n_matched") >= 1L).as("is_contaminated"))

  /** Drop every [[ngramCollisions]]-flagged document (left-anti on the
    * unique doc id) — the deployed form of the collision rule. */
  def ngramClean(corpus: DataFrame, benchmark: DataFrame,
                 idCol: String, textCol: String,
                 shingleK: Int = 13): DataFrame =
    corpus.join(
      ngramCollisions(corpus, benchmark, idCol, textCol, shingleK)
        .filter(col("is_contaminated"))
        .select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  /** The cleaning step: corpus rows whose contamination stays below
    * `threshold` (inner join on the kept ids — no wide row carried through
    * the aggregation). */
  def clean(corpus: DataFrame, benchmark: DataFrame,
            idCol: String, textCol: String,
            threshold: Double, shingleK: Int = 3): DataFrame = {
    val keep = fractions(corpus, benchmark, idCol, textCol, threshold, shingleK)
      .filter(!col("is_contaminated"))
      .select(col("doc_id").as(idCol))
    corpus.join(keep, Seq(idCol), "left_semi")
  }

  /** SPAN-level contamination: the maximal corpus-document token spans whose
    * k-shingles appear anywhere in the benchmark set — [[fractions]] tells
    * you WHICH documents quote the benchmark, this tells you WHERE, so the
    * surgical fix ([[cutContaminated]]) can remove the quoted passage and
    * keep the document. Same islands formulation as
    * [[Dedup.duplicateSpans]] (shared machinery — 1-based inclusive bounds);
    * the flagging side is the benchmark's distinct fingerprint set instead
    * of a cross-corpus document frequency, so the corpus edges are read
    * once and nothing needs a persist. The semi-join is left unhinted like
    * the one in [[fractions]]: the benchmark is bounded, and Spark may
    * broadcast it when it is genuinely small. */
  def contaminatedSpans(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        shingleK: Int = 3): DataFrame = {
    val edges = Dedup.positionalShingleEdges(corpus, idCol, textCol, shingleK)
    val benchFps = Dedup.positionalShingleEdges(benchmark, idCol, textCol, shingleK)
      .select("fp").distinct()
    Dedup.mergeSpans(edges.join(benchFps, Seq("fp"), "left_semi"), shingleK)
  }

  /** The surgical decontamination rewrite: cut every benchmark-overlapping
    * span from the corpus text, keep the documents. Returns one row per
    * corpus document — (doc_id, n_tokens, n_removed, text), the
    * [[Dedup.cutSpans]] contract. Document-level [[clean]] remains the
    * right call when a document is MOSTLY benchmark ([[fractions]]'s
    * threshold); this is the fix for the long document that quotes one
    * benchmark item. */
  def cutContaminated(corpus: DataFrame, benchmark: DataFrame,
                      idCol: String, textCol: String,
                      shingleK: Int = 3): DataFrame =
    Dedup.cutSpans(corpus, idCol, textCol,
      contaminatedSpans(corpus, benchmark, idCol, textCol, shingleK))

  /** SEMANTIC decontamination: flag corpus documents whose EMBEDDING is
    * close to any benchmark embedding — catches the paraphrased/translated
    * benchmark copies the n-gram operators above cannot see (the rephrasing
    * family of contamination studied around GPT-4-era eval hygiene). Output:
    * (idCol, nearest_bench_id, max_cosine, is_contaminated).
    *
    * Scale shape: the benchmark embedding set is BOUNDED (an eval suite,
    * not a corpus) and broadcast; each corpus partition scores its rows
    * against it in the scan stage and the per-document max partial-aggregates
    * before the one shuffle on the unique doc id — the |corpus| x |bench|
    * pair frame is never shuffled or materialized. For benchmark sets too
    * large to scan per row, [[semanticFlagsIvf]] prunes with the IVF cell
    * structure instead. Ties on cosine break to the smallest bench id
    * (max over struct(cosine, -bench_id)) so the flag frame is
    * deterministic on both engines. */
  def semanticFlags(corpus: DataFrame, idCol: String, vecCol: String,
                    bench: DataFrame, benchIdCol: String, benchVecCol: String,
                    threshold: Double): DataFrame = {
    graft.GraftExtensions.register(corpus.sparkSession) // vec_cosine kernel
    val c = graft.core.Parallelism.fanOut(
      corpus.select(col(idCol).as("__cid"), col(vecCol).cast("array<double>").as("__cv")))
    val b = bench.select(col(benchIdCol).as("__bid"),
      col(benchVecCol).cast("array<double>").as("__bv"))
    c.crossJoin(broadcast(b))
      .select(col("__cid"), col("__bid"),
        graft.functions.VecCosine.cosine(col("__cv"), col("__bv")).as("cosine"))
      .groupBy("__cid")
      .agg(max(struct(col("cosine"), (-col("__bid")).as("nb"))).as("best"))
      .select(col("__cid").as(idCol), (-col("best.nb")).as("nearest_bench_id"),
        col("best.cosine").as("max_cosine"),
        (col("best.cosine") >= threshold).as("is_contaminated"))
  }

  /** [[semanticFlags]] pruned by an IVF index over the CORPUS embeddings:
    * each benchmark query probes its `nProbe` nearest cells and only
    * cell-local corpus vectors are scored — the standard
    * retrieval-then-flag shape when the benchmark set is itself large.
    * Approximate: a corpus vector in no probed cell is not flagged (and not
    * returned); at nProbe = nLists the output equals [[semanticFlags]] over
    * the indexed corpus (the oracle gate). Works on a
    * [[Similarity.quantizeIvf]]-compressed index (codes dequantize in the
    * probe scan, same as [[Similarity.searchIvf]]). */
  def semanticFlagsIvf(index: Similarity.IvfIndex, bench: DataFrame,
                       benchIdCol: String, benchVecCol: String,
                       threshold: Double, nProbe: Int): DataFrame = {
    graft.GraftExtensions.register(bench.sparkSession)
    val probed = Similarity.probeCells(
      bench.select(col(benchIdCol).as("vec_id"),
        col(benchVecCol).cast("array<double>").as("embedding")),
      index.centroids, nProbe)
    val store =
      if (index.assigned.columns.contains("codes"))
        index.assigned.select(col("cell"), col("nbr_id"),
          graft.functions.VectorFunctions.dequantizeI8(col("codes"), col("scale")).as("nbr_v"))
      else index.assigned
    store.join(broadcast(probed), Seq("cell"))
      .select(col("nbr_id"), col("query_id"),
        graft.functions.VecCosine.cosine(col("q_v"), col("nbr_v")).as("cosine"))
      .groupBy("nbr_id")
      .agg(max(struct(col("cosine"), (-col("query_id")).as("nb"))).as("best"))
      .select(col("nbr_id").as("vec_id"), (-col("best.nb")).as("nearest_bench_id"),
        col("best.cosine").as("max_cosine"),
        (col("best.cosine") >= threshold).as("is_contaminated"))
  }
}
