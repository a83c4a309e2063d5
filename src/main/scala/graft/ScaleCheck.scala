package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Tables}
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Scaling experiment (not part of the contract surface): replicate the
  * sf0.1 tables 10x (ids offset per shard) into /tmp/scale10, then time the
  * heavy operators at 1x and 10x. Near-linear ratios (~10x input -> <=10x
  * time on fixed cores) are the empirical check that the plans scale by
  * partitioning, not by luck. Results recorded in SCALE.md.
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
    val out = "/tmp/scale10"
    val spark = GraftSession.local("graft-scale", "32", "32")

    def replicate(name: String, idCols: Seq[String], shards: Int): Unit = {
      val src = spark.read.parquet(s"$base/$name.parquet")
      val shard = explode(array((0 until shards).map(lit): _*)).as("__shard")
      val wide = src.select(col("*"), shard)
      val offset = idCols.foldLeft(wide) { (df, c) =>
        df.withColumn(c, col(c) + col("__shard").cast("long") * 100000000L)
      }
      offset.drop("__shard")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    replicate("documents", Seq("doc_id"), 10)
    replicate("lineitem", Seq("l_orderkey"), 10)
    replicate("orders", Seq("o_orderkey"), 10)
    replicate("embeddings", Seq("vec_id"), 10)
    replicate("events", Seq("event_id"), 10)
    println("SCALE replicated 10x into " + out)

    val shingleSet =
      (t: org.apache.spark.sql.Column) => array_distinct(TextFunctions.shingles(t, 3))

    def time(name: String, dir: String)(f: String => DataFrame): Double = {
      val t0 = System.nanoTime()
      f(dir).write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      // measurements must not inherit a neighbor's persisted intermediates
      // (jaccard/components cache frames internally)
      spark.catalog.clearCache()
      println(f"SCALE $name @ $dir: $s%.2f s")
      s
    }

    // document-frequency cut for the inverted-index pair generators, scaled
    // with the replication factor: replication multiplies every token's df
    // by 10, so a FIXED cut would drop tokens at 10x that survive at 1x —
    // the two runs would do different-shaped work and the ratio would be
    // meaningless. With the cut scaled, the surviving token set is identical
    // across scales; the ratio then measures the genuine output growth
    // (replicated docs are TRUE duplicates, so pair count per clique grows
    // ~quadratically — expected SUPERLINEAR, excluded from the <=2x
    // discipline; see SCALE.md).
    def dfCut(dir: String): Long = if (dir == out) 1000L else 100L

    // synthetic component graph with nontrivial depth: chains of up to 12
    // docs (broken at doc_id % 12 == 0) — the adversarial shape for label
    // propagation. Chain LENGTH is fixed under replication (ids offset per
    // shard); chain COUNT scales with the corpus, so the ratio measures
    // per-round scaling at a fixed round count.
    def chainPairs(dir: String): DataFrame =
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(12)) =!= 0)
        .select((col("doc_id") - 1).as("id_a"), col("doc_id").as("id_b"))

    // fixed-size 20-line pages for the line-dedup cases (page count scales
    // with the corpus; reassembly state stays page-bounded)
    def scalePages(dir: String): DataFrame =
      Tables.documents(spark, dir)
        .select((col("doc_id") / 20L).cast("long").as("page_id"), col("doc_id"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit("all rights reserved boilerplate footer"))
            .otherwise(array_join(slice(split(col("text"), " "), 1, 8), " "))
            .as("line"))
        .groupBy("page_id")
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("doc_id"), col("line")))),
            x => x.getField("line"))).as("text"))

    val cases: Seq[(String, String => DataFrame)] = Seq(
      "daily_rollup" -> (d => Tables.lineitem(spark, d)
        .groupBy(to_date(col("l_shipdate")).as("day"))
        .agg(min("l_quantity"), max("l_quantity"), count(lit(1)))),
      "full_outer_join" -> { d =>
        val o = Tables.orders(spark, d).groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"))
        val l = Tables.lineitem(spark, d).groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(count(lit(1)).as("n_ships"))
        o.join(l, Seq("day"), "full_outer")
      },
      "text_stats" -> (d => Tables.documents(spark, d).select(
        TextFunctions.tokenCount(col("text")),
        TextFunctions.punctRatio(col("text")),
        TextFunctions.stopwordRatio(col("text")))),
      "exact_dedup" -> (d => Dedup.exact(Tables.documents(spark, d), "doc_id", "text")),
      "minhash_sig" -> (d =>
        Dedup.minhashSig(Tables.documents(spark, d), "doc_id", "text", 32, shingleSet)),
      // OPH twin of minhash_sig: ONE bin+permutation per token edge
      // instead of 32 permutation mins (map side), then a <=32-rows/doc
      // re-agg + scan-stage densification — the signature-build lever
      "minhash_sig_oph" -> (d =>
        Dedup.minhashSigOph(Tables.documents(spark, d), "doc_id", "text", 32,
          shingleSet)),
      "simhash_sig" -> (d =>
        Dedup.simhash(Tables.documents(spark, d), "doc_id", "text", shingleSet)),
      "jaccard_pairs" -> (d =>
        Dedup.jaccardPairs(Tables.documents(spark, d), "doc_id", "text",
          threshold = 0.3, maxTokenDf = dfCut(d), tokens = shingleSet)),
      "multimodal_feat" -> (d =>
        graft.operators.Multimodal.fakeDecodeFeatures(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source"))),
      "repetition" -> (d => Tables.documents(spark, d).select(
        TextFunctions.dupLineFraction(col("text")),
        TextFunctions.dupBigramFraction(col("text")))),
      "quantize_i8" -> { d =>
        import graft.functions.VectorFunctions
        Tables.embeddings(spark, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("scale", VectorFunctions.quantScaleI8(col("v")))
          .select(col("vec_id"), col("scale"),
            VectorFunctions.quantizeI8(col("v"), col("scale")).as("q"))
      },
      "stratified_sample" -> (d =>
        graft.operators.Sampling.stratifiedSampleByHash(
          Tables.documents(spark, d), col("doc_id"), col("source"),
          rates = Map("web" -> 50, "books" -> 100, "code" -> 80),
          defaultPct = 25)),
      // ---- curation-era operators (round 5+), same discipline expected:
      // scan-stage ops ~1x, single-shuffle ops ~2x on 10x data / fixed cores
      "redact" -> (d => Tables.documents(spark, d).select(col("doc_id"),
        graft.functions.Redact.redactPii(col("text")).as("rtext"))),
      "decontaminate" -> { d =>
        val docs = Tables.documents(spark, d)
        graft.operators.Decontaminate.fractions(
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          "doc_id", "text", threshold = 0.5, shingleK = 3)
      },
      "pack_capped" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        graft.operators.Packing.packBinsCapped(docs, "doc_id", col("n_tokens"),
          budgetTokens = 512L, shards = 64, order = Seq(desc("n_tokens")))
      },
      "pack_firstfit" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"))
        graft.operators.Packing.packBinsFirstFit(docs, "doc_id", col("n_tokens"),
          budgetTokens = 512L, shards = 64, order = Seq(desc("n_tokens")))
      },
      "cap_per_key" -> (d => graft.operators.Curation.capPerKey(
        Tables.documents(spark, d), col("source"), n = 40,
        order = Seq(col("doc_id")), idCol = col("doc_id"))),
      "centroids" -> (d => graft.operators.Centroids.meanByKey(
        Tables.embeddings(spark, d), "label", "embedding")),
      "containment" -> (d => Dedup.containmentPairs(Tables.documents(spark, d),
        "doc_id", "text", threshold = 0.6, maxTokenDf = dfCut(d),
        tokens = shingleSet)),
      // incremental dedup: batch = every 20th doc, corpus = the rest; the
      // exact variant is one window + one anti-join probe, the LSH variant
      // is the minhash pipeline on both sides + a bucket join
      "exact_increment" -> { d =>
        val docs = Tables.documents(spark, d)
        Dedup.exactIncrement(
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0), "doc_id", "text")
      },
      "lsh_increment" -> { d =>
        val docs = Tables.documents(spark, d)
        Dedup.minhashLshIncrement(
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          "doc_id", "text", k = 32, rowsPerBand = 4, threshold = 0.3,
          tokens = shingleSet)
      },
      // duplicate-line removal: scan-stage linear fold, zero shuffles
      "dedup_lines" -> (d => Tables.documents(spark, d).select(col("doc_id"),
        md5(TextFunctions.dedupLines(col("text"))).as("clean_md5"))),
      // cross-doc span dedup: replication gives every document 9 true
      // copies, so EVERY shingle becomes shared and every position is
      // flagged — flagged rows jump from the natural overlap (~5% of docs)
      // to 100% of corpus positions. Output-driven superlinear like
      // jaccard_pairs; excluded from the <=2x discipline. The per-task
      // bound is the point: df is a partial-agg groupBy and the islands
      // window is per-doc, so no partition is ever corpus-sized.
      "dedup_spans" -> (d => Dedup.duplicateSpans(
        Tables.documents(spark, d), "doc_id", "text", k = 8)),
      // chunking: scan-stage explode+slice; output rows scale with corpus
      // tokens / step, expect ~1x on idle cores like the other scan ops
      "chunk_64_16" -> (d => graft.operators.Chunking.chunkByTokens(
        Tables.documents(spark, d), "doc_id", "text",
        chunkTokens = 64, overlapTokens = 16)),
      // tf-idf: one (doc, term) agg shuffle + a term-key window + the doc
      // top-k window (partial WindowGroupLimit below the shuffle); the df
      // distribution shifts under replication (every term's df rises 10x)
      // but the row counts and plan shape are identical, so <=2x holds
      "tfidf_topk" -> (d => graft.operators.TermWeights.tfIdfTopK(
        Tables.documents(spark, d), "doc_id", "text", k = 3)),
      // components over chain graphs: star alternation (the default) vs the
      // propagation fallback — same labels, different round counts (~5 vs
      // ~13); both should scale near-linearly per round
      "components_star" -> (d =>
        Dedup.connectedComponents(chainPairs(d), maxIter = 64)),
      "components_prop" -> (d =>
        Dedup.connectedComponentsPropagation(chainPairs(d), maxIter = 64)),
      // INCREMENTAL components with a FIXED delta against a 1x vs 10x
      // labeled corpus (labeling pre-built untimed below — production holds
      // its labeling as a table; the op's contract is folding a batch into
      // it). The delta edges live entirely in replica shard 0 (ids < 1200),
      // so the increment is IDENTICAL at both scales and the ratio isolates
      // the corpus-size term of the fold: two broadcast-probed label scans
      // + one increment-bounded collect + the local union-find. ~1x ratio =
      // cost scales with the DELTA, not the corpus.
      "components_incr_delta" -> { d =>
        val tag = if (d == out) "10x" else "1x"
        val labels = spark.read.parquet(s"/tmp/graft_scale_complabels_$tag")
        Dedup.componentsIncrement(labels,
          chainPairs(d).filter(col("id_b") < 1200L))
      },
      // IVF search at 10x corpus: build (kmeans on a hash sample + ONE
      // broadcast-centroid assignment scan) then probe nProbe/nLists of the
      // index for a fixed query set. The assignment expression is constant-
      // sized in nLists (broadcast join, not plan literals), so the ratio
      // measures pure data scaling of the assignment scan + pruned probe.
      "ivf_search" -> { d =>
        val emb = Tables.embeddings(spark, d)
        val idx = graft.operators.Similarity.buildIvf(emb, nLists = 16, seed = 42L)
        graft.operators.Similarity.searchIvf(idx,
          emb.filter(col("vec_id") % 1000L === 0L), k = 10, nProbe = 2)
      },
      // loader boundaries: (shard, bin)-bounded window + collect — one
      // shuffle on the grouping key, arrays budget-bounded
      "pack_loader" -> { d =>
        val docs = Tables.documents(spark, d)
          .select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n_tokens"))
        graft.operators.Packing.loaderBoundaries(
          graft.operators.Packing.packBins(docs, "doc_id", col("n_tokens"),
            budgetTokens = 2048L, shards = 32),
          "doc_id", col("n_tokens"))
      },
      // per-row minhash signature (the streaming probe kernel): pure
      // scan-stage array folds with the fingerprint staged once per row —
      // expect ~1x on idle cores like text_stats
      "sig_row" -> (d => Dedup.withMinhashSigCols(
        Tables.documents(spark, d).select(col("doc_id"), col("text")),
        col("text"), 32, shingleSet).drop("text")),
      // temperature mixture: one count agg + broadcast rate join + scan
      // filter — the same single-shuffle shape as daily_rollup
      "temp_sample" -> (d => graft.operators.Sampling.temperatureSample(
        Tables.documents(spark, d), col("doc_id"), "source", temperature = 2.0)),
      // chart pipeline from raw rows: synthetic daily frame (lineitem rolled
      // up by ship date) through the chart-series derivation. |days| is fixed
      // under replication — what grows is rows-per-day into the rollup, which
      // is where the distributed work lives; the window itself stays
      // |days|-bounded by construction.
      "chart_frame" -> { d =>
        val daily = Tables.lineitem(spark, d)
          .groupBy(to_date(col("l_shipdate")).as("date"))
          .agg(min(col("l_quantity")).as("temp_min"),
            max(col("l_quantity")).as("temp_max"),
            sum(col("l_quantity")).as("total_rain"),
            avg(col("l_extendedprice")).as("pm25_avg"))
        graft.weather.WeatherViz.chartFrame(daily)
      },

      // bigram-LM scoring: train on the 80% split, score everything. Model
      // caps bound the broadcasts; the corpus is only shuffled by the
      // per-doc sum
      "perplexity" -> { d =>
        val docs = Tables.documents(spark, d)
        val ref = docs.filter(graft.operators.Sampling.split(
          col("doc_id"), 80, 10, salt = ":lm1") === "train")
        graft.operators.LanguageModel.perplexityAgainst(
          docs, ref, "doc_id", "text", vocabCap = 4096, bigramCap = 1 << 16)
      },
      // DSIR hashed-unigram weights toward a 2-source target domain
      "dsir_weights" -> { d =>
        val docs = Tables.documents(spark, d)
        graft.operators.Importance.importanceWeights(docs,
          docs.filter(col("source").isin("src0", "src1")), "doc_id", "text")
      },
      // SemDeDup under k-means cells. The replicated corpus is 10 TRUE
      // copies of every vector, so duplicate cliques (and the pair space
      // inside each cell) grow quadratically at 10x — output-driven
      // superlinearity like jaccard_pairs, not a plan defect
      "semantic_dedup" -> { d =>
        val emb = Tables.embeddings(spark, d)
        graft.operators.Dedup.semanticDedup(emb, "vec_id", "embedding",
          graft.operators.Similarity.buildIvf(emb, nLists = 16).centroids,
          threshold = 0.999)
      },
      // BPE: train (one word-count pass + driver merge loop) + encode
      "bpe_apply" -> { d =>
        val docs = Tables.documents(spark, d)
        val merges = graft.operators.Bpe.trainBpe(docs, "doc_id", "text",
          numMerges = 200, wordCap = 1 << 16)
        graft.operators.Bpe.subtokenCount(docs, "doc_id", "text", merges)
      },

      // bloom-gated increment: build over the 95% corpus, probe the 5%
      // batch. At scale both halves grow 10x, but the probe stays k
      // broadcast joins and only might-contain rows shuffle
      "bloom_increment" -> { d =>
        val docs = Tables.documents(spark, d)
        graft.operators.Dedup.exactIncrementBloomGated(
          docs.filter(pmod(col("doc_id"), lit(20)) === 0),
          docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
          "doc_id", "text", numBits = 1 << 20, k = 5)
      },
      // NB classifier: heuristic-labeled train + score-all, model broadcast
      "nb_quality" -> { d =>
        val docs = Tables.documents(spark, d)
        val lab = docs.withColumn("__q",
          graft.functions.TextFunctions.qualityScore(col("text")))
        val m = graft.operators.QualityClassifier.train(
          lab.filter(col("__q") >= 0.6), lab.filter(col("__q") < 0.6),
          "doc_id", "text", buckets = 4096)
        graft.operators.QualityClassifier.score(docs, "doc_id", "text", m)
      },
      // JL projection: pure scan-stage native dot kernels
      "random_project" -> { d =>
        graft.GraftExtensions.register(spark)
        val emb = Tables.embeddings(spark, d)
        emb.select(col("vec_id"),
          graft.functions.VectorFunctions.randomProject(
            col("embedding"), 16, 64).as("pv"))
      },

      // BM25 retrieval: tf/df/dl are the tfidf agg shapes, the bounded
      // query-term set is the one broadcast, per-query top-k is the
      // two-phase sharded rank — expect tfidf-like <=2x
      "bm25_topk" -> { d =>
        val s2 = spark
        import s2.implicits._
        val qs = Seq((1L, "spark window agg"), (2L, "hash join merge table"),
          (3L, "vector scan stream")).toDF("query_id", "qtext")
        graft.operators.TermWeights.bm25TopK(Tables.documents(spark, d),
          "doc_id", "text", qs, "query_id", "qtext", k = 10)
      },
      // cross-doc line dedup over synthetic fixed-size pages (page COUNT
      // scales, page size fixed at 20 lines; doc_id % 3 == 0 rows inject a
      // shared boilerplate line): first-occurrence selection is a
      // partial-agg min(struct) groupBy, so the heavy line combines
      // map-side — the shuffle carries ~distinct lines
      "lines_global" -> (d => graft.operators.Lines.dedupLinesAcrossDocs(
        scalePages(d), "page_id", "text")),
      // boilerplate cut: the bounded heavy set broadcasts into a LeftAnti;
      // the corpus line frame is never line-shuffled
      "lines_boilerplate" -> (d => graft.operators.Lines.dropBoilerplate(
        scalePages(d), "page_id", "text", minDocs = 5)),
      // semantic decontamination: FIXED bench set (from the 1x table, the
      // deployment shape — benchmarks don't scale with the corpus) vs a
      // 10x corpus; |corpus| x |bench| scoring is scan-stage and the
      // per-id max partial-aggs before the one unique-id shuffle
      "semantic_decont" -> { d =>
        val bench = Tables.embeddings(spark, base)
          .filter(col("vec_id") % 100L === 0L)
        graft.operators.Decontaminate.semanticFlags(
          Tables.embeddings(spark, d), "vec_id", "embedding",
          bench, "vec_id", "embedding", threshold = 0.3)
      },
      // per-source percentile threshold: one bounded agg (discrete-score
      // exact percentile partial-aggs) + broadcast + scan-stage cut
      "quality_threshold" -> { d =>
        val scored = Tables.documents(spark, d).select(col("doc_id"),
          col("source"), TextFunctions.qualityScore(col("text")).as("quality"))
        graft.operators.Curation.thresholdBySource(scored, "source",
          col("quality"), 0.25)
      },
      // mixture plan: one corpus count/sum pass + bounded per-source math
      "mixture_plan" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          col("source"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_toks"))
        val weights = docs.select("source").distinct()
          .select(col("source"),
            ((length(col("source")) % 5) + 1).cast("double").as("weight"))
        graft.operators.Sampling.mixturePlan(docs, "source", col("n_toks"),
          weights, budgetTokens = 100000L, maxEpochs = 4.0)
      },
      // mixture REALIZATION: broadcast plan + scan-stage explode; budget
      // scales with the corpus so per-source epochs stay comparable and
      // output rows grow ~linearly with input
      "mixture_realized" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          col("source"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_toks"))
        val weights = docs.select("source").distinct()
          .select(col("source"),
            ((length(col("source")) % 5) + 1).cast("double").as("weight"))
        val budget = if (d == base) 100000L else 1000000L
        val plan = graft.operators.Sampling.mixturePlan(docs, "source",
          col("n_toks"), weights, budgetTokens = budget, maxEpochs = 4.0)
        graft.operators.Sampling.realizeMixture(docs, "source",
          col("doc_id"), plan, salt = ":rx")
      },
      // 13-gram collision decontamination: FIXED bench set vs 10x corpus —
      // same fp60-edge + semi-join + partial-agg shape as `decontaminate`,
      // wider shingles, verdict instead of fraction
      "ngram_decont" -> { d =>
        val bench = Tables.documents(spark, base)
          .filter(col("doc_id") % 20L === 0L)
        graft.operators.Decontaminate.ngramCollisions(
          Tables.documents(spark, d), bench, "doc_id", "text", shingleK = 13)
      },
      // trigram LM: one extra groupBy-count + top-k cut at train, two extra
      // broadcast lookups at score — the corpus still shuffles only for the
      // per-doc sum
      "perplexity3" -> { d =>
        val docs = Tables.documents(spark, d)
        val ref = docs.filter(graft.operators.Sampling.split(
          col("doc_id"), 80, 10, salt = ":lm1") === "train")
        graft.operators.LanguageModel.perplexityTrigramAgainst(
          docs, ref, "doc_id", "text",
          vocabCap = 256, bigramCap = 2048, trigramCap = 4096)
      },
      // bottom-k per key: two shard-bounded windows; phase-2 partitions
      // carry <= k x shards rows per key at any corpus size
      "bottom_k" -> { d =>
        graft.operators.Sampling.bottomKPerKey(
          Tables.documents(spark, d).select(col("doc_id"), col("source")),
          col("source"), col("doc_id"), k = 100, salt = ":bk")
      },
      // IVF+PQ: build/train/encode once per scale (the build-once cost),
      // probe with a fixed bounded query set; the index the probe scans is
      // m bytes/vector, cell-pruned
      "ivf_pq_search" -> { d =>
        val emb = Tables.embeddings(spark, d)
        val idx = graft.operators.Similarity.buildIvf(emb, nLists = 16, seed = 42L)
        val pq = graft.operators.Similarity.trainPq(emb, m = 16, nCodes = 64,
          seed = 7L)
        val coded = graft.operators.Similarity.encodePq(idx, pq)
        graft.operators.Similarity.searchIvfPq(coded, pq,
          emb.filter(col("vec_id") % 1000L === 0L), k = 10, nProbe = 2)
      },
      // KL drift: one explode/partial-agg pass; past the 256-token vocab
      // cap everything is (sources x V)-bounded broadcasts
      "kl_by_source" -> (d => graft.operators.Diagnostics.unigramKlBySource(
        Tables.documents(spark, d), "source", "text", vocabSize = 256)),
      // Zipf slope: same count pass; regression is V-bounded
      "zipf_slope" -> (d => graft.operators.Diagnostics.zipfSlope(
        Tables.documents(spark, d), "text", vocabSize = 512)),
      // CMS heavy hitters: 4x token-stream explode into <= d*w partial-agg
      // cells; probe joins against the broadcast (bounded) sketch
      "cms_topk" -> (d => graft.operators.Diagnostics.cmsTopK(
        Tables.documents(spark, d), "text", depth = 4, width = 1024, k = 40)),
      // cluster histogram fold in isolation (the labeling chains are
      // measured by the components cases): two partial-agg folds
      "cluster_hist" -> (d => graft.operators.Diagnostics.clusterSizeHistogram(
        Tables.documents(spark, d)
          .select(col("doc_id").as("id"), (col("doc_id") / 5L).as("comp")))),
      // curriculum: broadcast percentile thresholds + two-phase exact rank
      // over (buckets x shards)-bounded window partitions
      "curriculum" -> { d =>
        val scored = Tables.documents(spark, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("score"))
        graft.operators.Sampling.curriculumInterleave(
          scored, col("doc_id"), col("score"), nBuckets = 4, shards = 32,
          salt = ":sc")
      },
      // drift report: model build (two driver scalars + top-V) + one
      // broadcast-lookup scan + per-source decimal aggregation
      "surprise_drift" -> { d =>
        val docs = Tables.documents(spark, d)
        val ref = docs.filter(graft.operators.Sampling.split(
          col("doc_id"), 80, 10, salt = ":lm1") === "train")
        graft.operators.Diagnostics.surpriseBySource(docs, "source", "text",
          graft.operators.Diagnostics.surpriseModel(ref, "text", vocabSize = 256))
      },
      // cross-source matrix: partial-agg counts + per-key self-join bounded
      // by the source dimension; pair counts are products, never rows
      "cross_source" -> (d => graft.operators.Diagnostics.crossSourceDupMatrix(
        Tables.documents(spark, d),
        md5(array_join(slice(split(lower(col("text")), "\\s+"), 1, 5), " ")),
        "source")),
      // C4 rule cleaning: pure scan-stage Column trees (zero shuffles) —
      // the ratio is the parallel-scan ratio
      "c4_rules" -> { d =>
        val words = split(col("text"), " ")
        def line(start: Int, len: Int, tail: String) =
          concat(array_join(slice(words, start, len), " "), lit(tail))
        val page = concat_ws("\n", line(1, 6, "."), line(7, 3, "."),
          lit("please enable javascript to view this page."),
          line(10, 7, ""), line(4, 8, " done!"), line(12, 7, " right?"))
        graft.operators.Lines.c4Clean(
          Tables.documents(spark, d).select(col("doc_id"), page.as("text")),
          "doc_id", "text")
      },
      // weighted WOR sampling: scan-stage ES keys + the two-phase sharded
      // rank (WindowGroupLimit bounds both phases at k per partition)
      "weighted_wor" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          col("source"), length(col("text")).cast("double").as("w"))
        graft.operators.Sampling.weightedBottomKPerKey(docs, col("source"),
          col("doc_id"), col("w"), k = 1000, salt = ":sw")
      },
      // rank-averaged ensemble: 3 independent two-phase rank chains over
      // the base frame + uniform-id equi-joins (never a fold)
      "ensemble_rank" -> { d =>
        graft.GraftExtensions.register(spark)
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          col("source"), TextFunctions.qualityScore(col("text")).as("q"),
          TextFunctions.tokenCount(col("text")).cast("double").as("l"),
          graft.functions.Entropy.charEntropy(col("text")).as("e"))
        graft.operators.Curation.ensembleRank(docs, "source", col("doc_id"),
          Seq("q" -> col("q"), "l" -> col("l"), "e" -> col("e")))
      },
      // char entropy: native codegen'd kernel, pure scan stage
      "entropy" -> { d =>
        graft.GraftExtensions.register(spark)
        Tables.documents(spark, d).select(col("doc_id"),
          graft.functions.Entropy.charEntropy(col("text")).as("h"))
      },
      // web capstone: url dedup -> C4 -> domain screen -> blocklist chain
      // (each stage measured solo above; the chain adds verdict filters)
      "web_curate" -> { d =>
        val words = split(col("text"), " ")
        def line(st: Int, ln: Int, tail: String) =
          concat(array_join(slice(words, st, ln), " "), lit(tail))
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTP://User@WWW.Example.COM:80"))
            .otherwise(lit("https://cdn.example.net:443")),
          lit("/page/"), (col("doc_id") % 211).cast("string"),
          when(col("doc_id") % 3 === 0, lit("?utm_source=feed&q=7&gclid=zz"))
            .otherwise(lit("")))
        val page = concat_ws("\n", line(1, 6, "."), line(7, 3, "."),
          lit("please enable javascript to view this page."),
          line(10, 7, ""), line(4, 8, " done!"), line(12, 7, " right?"))
        val crawl = Tables.documents(spark, d).select(col("doc_id"),
          col("source"), url.as("url"), page.as("page"))
        val fetched = graft.operators.Curation.dedupByUrl(crawl, "doc_id", "url")
          .filter(col("is_keeper")).select("doc_id", "source", "page")
        val c4 = graft.operators.Lines.c4Clean(fetched, "doc_id", "page")
          .filter(col("keep_doc")).select(col("doc_id"), col("text"))
          .join(fetched.select("doc_id", "source"), Seq("doc_id"))
        val dom = graft.operators.Curation.screenDomains(
            c4.withColumn("domain", concat(lit("site"),
              (col("doc_id") % 9973).cast("string"), lit(".example"))),
            "doc_id", "domain", (col("doc_id") % 100).cast("double") / 100.0,
            maxDocsPerDomain = 1000000L, minAvgQuality = 0.5)
          .filter(!col("domain_flagged"))
        val terms = {
          val s2 = spark
          import s2.implicits._
          Seq("slow", "dup", "noise").toDF("term")
        }
        graft.operators.Curation.blocklistFlags(dom, "doc_id", "text", terms)
          .filter(!col("has_blocked"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      },
      // URL dedup: scan-stage canonicalization + partial-agg keeper fold +
      // ONE AQE-splittable shuffle_hash verdict join on the canonical key
      "url_dedup" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"),
          concat(
            when(col("doc_id") % 2 === 0, lit("HTTP://User@WWW.Example.COM:80"))
              .otherwise(lit("https://cdn.example.net:443")),
            lit("/page/"), (col("doc_id") % 9973).cast("string"),
            when(col("doc_id") % 3 === 0, lit("?utm_source=f&q=1")).otherwise(lit("")))
            .as("url"))
        graft.operators.Curation.dedupByUrl(docs, "doc_id", "url")
      },
      // domain screen: partial-agg (count, decimal mean) per domain + one
      // shuffle_hash verdict join back on the domain key
      "domain_screen" -> { d =>
        val docs = Tables.documents(spark, d).select(col("doc_id"), col("source"),
          concat(lit("site"), (col("doc_id") % 9973).cast("string"),
            lit(".example")).as("domain"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        graft.operators.Curation.screenDomains(docs, "doc_id", "domain",
          col("quality"), maxDocsPerDomain = 15L, minAvgQuality = 0.55)
      },
      // MMR: one query-keyed shuffle into the per-group greedy kernel;
      // corpus appears only in the retrieval pass
      "mmr_select" -> { d =>
        val emb = Tables.embeddings(spark, d)
        val cand = graft.operators.Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") % 1000L === 0L), k = 25)
          .join(emb.select(col("vec_id").as("nbr_id"),
            col("embedding").as("nbr_v")), Seq("nbr_id"))
          .select("query_id", "nbr_id", "cosine", "nbr_v")
        graft.operators.Similarity.mmrSelect(cand, k = 5, lambda = 0.7)
      },
      // Moore-Lewis: two cap-bounded-broadcast scoring streams + one
      // doc_id join + TakeOrdered top-k
      "ce_select" -> { d =>
        val docs = Tables.documents(spark, d)
        graft.operators.LanguageModel.crossEntropySelect(docs, "doc_id", "text",
          targetRef = docs.filter(col("source").isin("src0", "src1", "src2")),
          generalRef = docs.filter(graft.operators.Sampling.split(
            col("doc_id"), 80, 10, salt = ":lm1") === "train"),
          vocabCap = 256, bigramCap = 2048, k = 100)
      },
      // embedding drift: one posexplode partial-agg into (sources x dims)
      // decimal cells; global centroid folds from the cells
      "emb_drift" -> (d => graft.operators.Diagnostics.embeddingDriftBySource(
        Tables.documents(spark, d), Tables.embeddings(spark, d),
        "source", "doc_id", "vec_id", "embedding")),
      // capstone v6: gate -> CE-select (top 5% scaled) -> curriculum ->
      // curriculum-ordered packed bins; the two LM scorer passes dominate
      "curate_v6" -> { d =>
        import graft.operators.{Curation, LanguageModel, Packing, Sampling}
        val base = Tables.documents(spark, d).select(
          col("doc_id"), col("text"), col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.langId(col("text")).as("lang"))
        val gated = base.filter(col("quality") >= 0.6 && col("lang") === "en")
          .select("doc_id", "text", "source")
        // corpus-proportional selection goes through the percentile-cut
        // path (threshold broadcast, scan-stage filter) — a TakeOrdered at
        // k = frac*corpus merges k rows per partition on the driver
        val ce = LanguageModel.crossEntropyCut(gated, "doc_id", "text",
          targetRef = gated.filter(col("source").isin("src0", "src1", "src2")),
          generalRef = gated.filter(
            Sampling.split(col("doc_id"), 80, 10, salt = ":lm1") === "train"),
          vocabCap = 256, bigramCap = 2048, keepFrac = 0.75)
        val cur = Sampling.curriculumInterleave(ce, col("doc_id"), col("gap"),
          nBuckets = 4, shards = 32, salt = ":v6")
        val withTok = cur.join(gated.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("bigint").as("n_tokens")),
          Seq("doc_id"))
        Packing.packBins(withTok, "doc_id", col("n_tokens"),
          budgetTokens = 512L, shards = 32, salt = ":v6p",
          order = Seq(col("bucket"), col("pos")))
      },
      // audit: the full curate chain plus four doc_id equi-joins and a
      // scan-stage first-fail verdict — measures the explainability tax
      // over the capstone it mirrors
      "pipeline_audit" -> { d =>
        import graft.operators.{Curation, Decontaminate}
        import org.apache.spark.sql.expressions.Window
        val base = Tables.documents(spark, d).select(
          col("doc_id"), col("text"), col("source"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.langId(col("text")).as("lang"))
        val gated = base.filter(col("quality") >= 0.6 && col("lang") === "en")
        val keepers = gated
          .withColumn("is_keeper",
            col("doc_id") === min("doc_id").over(Window.partitionBy(md5(col("text")))))
          .select(col("doc_id"), col("is_keeper"))
        val kept = gated
          .join(keepers.filter(col("is_keeper")), Seq("doc_id"), "left_semi")
          .filter(pmod(col("doc_id"), lit(20)) =!= 0)
          .select("doc_id", "source", "text")
        val bench = Tables.documents(spark, d)
          .filter(pmod(col("doc_id"), lit(20)) === 0).select("doc_id", "text")
        val decon = Decontaminate.fractions(kept, bench, "doc_id", "text",
            threshold = 0.5, shingleK = 3)
          .select(col("doc_id"), col("is_contaminated"))
        val clean = kept.join(
          decon.filter(!col("is_contaminated")), Seq("doc_id"), "left_semi")
        val inCap = Curation.capPerKey(clean, col("source"), n = 10000,
            order = Seq(col("doc_id")), idCol = col("doc_id"))
          .select(col("doc_id"), lit(true).as("in_cap"))
        base.join(keepers, Seq("doc_id"), "left")
          .join(decon, Seq("doc_id"), "left")
          .join(inCap, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), Curation.firstFailVerdict(Seq(
            "low_quality" -> (col("quality") < 0.6),
            "lang_other" -> (col("lang") =!= "en"),
            "exact_dup" -> !col("is_keeper"),
            "bench_holdout" -> (pmod(col("doc_id"), lit(20)) === 0),
            "contaminated" -> coalesce(col("is_contaminated"), lit(false)),
            "source_capped" -> !coalesce(col("in_cap"), lit(false)))).as("verdict"))
      },
      // blocklist screening: explode + broadcast term join + doc partial-agg
      "blocklist" -> { d =>
        val spark0 = spark; import spark0.implicits._
        graft.operators.Curation.blocklistFlags(Tables.documents(spark, d),
          "doc_id", "text", Seq("slow", "dup", "noise").toDF("term"))
      },
      // distinct-n diversity: positional bigram explode, fp60, two-phase agg
      "distinct_ngrams" -> (d => graft.operators.Diagnostics.distinctNgramRatio(
        Tables.documents(spark, d), "source", "text", n = 2)),
      // hybrid RRF: BM25 top-20 + vector top-20 + bounded fusion
      "rrf_hybrid" -> { d =>
        val docs = Tables.documents(spark, d)
        val emb = Tables.embeddings(spark, d)
        val corpus = docs.filter(col("doc_id") >= 8)
        val queries = docs.filter(col("doc_id") < 8)
          .select(col("doc_id").as("query_id"), col("text").as("qtext"))
        val lex = graft.operators.TermWeights.bm25TopK(
            corpus, "doc_id", "text", queries, "query_id", "qtext", k = 20)
          .select(col("query_id"), col("doc_id").as("nbr_id"), col("rank"))
        val vec = graft.operators.Similarity.bruteForceTopK(
            emb.filter(col("vec_id") >= 8), emb.filter(col("vec_id") < 8), k = 20)
          .select(col("query_id"), col("nbr_id"), col("rank"))
        graft.operators.Similarity.rrfFuse(Seq(lex, vec), k = 10)
      },
      // Lloyd refinement: 2 assign+mean rounds over the full vector set
      "kmeans_refine" -> { d =>
        val emb = Tables.embeddings(spark, d)
          .select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v"))
        val init = emb.filter(col("nbr_id") < 8)
          .select(col("nbr_id").cast("int").as("cell"),
            col("nbr_v").cast("array<double>").as("centroid"))
        graft.operators.Similarity.refineCentroids(emb, init, iters = 2)
      },
      // z-order re-layout: bounds agg + scan-stage interleave + range shuffle
      "zorder" -> (d => graft.operators.Layout.zOrder(Tables.lineitem(spark, d),
        Seq("l_partkey", "l_suppkey"), bits = 8, numPartitions = 32)),
      // cross-corpus linkage: two inverted indexes, union df-cut, A x B join
      "link_across" -> { d =>
        val docs = Tables.documents(spark, d)
        Dedup.jaccardJoinAcross(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(3)) === 0),
          "doc_id", "text", threshold = 0.3, maxTokenDf = 100L,
          tokens = shingleSet)
      },
      // capstone v7: blocklist screen -> soft-dedup sample -> component split
      "curate_v7" -> { d =>
        val spark0 = spark; import spark0.implicits._
        import graft.operators.{Curation, Sampling}
        val docs = Tables.documents(spark, d)
        val screened = Curation.blocklistFlags(docs, "doc_id", "text",
            Seq("slow", "dup", "noise").toDF("term"))
          .filter(col("blocked_frac") <= 0.05)
          .select("doc_id", "source", "text")
        val pairs = Dedup.jaccardPairs(screened, "doc_id", "text",
            threshold = 0.3, maxTokenDf = 100L, tokens = shingleSet)
          .select("id_a", "id_b")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pairs.count()
        val soft = Dedup.softDedupSample(screened, "doc_id", pairs, salt = ":v7")
          .filter(col("kept"))
        Sampling.splitByGroup(soft, col("comp"), 80, 10, salt = ":v7s")
          .groupBy("split", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))
      },
      // ---- round-14 operators ----
      // real PPM decode: Column-tree encode + partition-local parse kernel,
      // zero shuffles — expect ~1x
      "ppm_decode" -> (d => graft.operators.Multimodal.decodePpmFeatures(
        graft.operators.Multimodal.encodePpm(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")))),
      // UniMax: one corpus partial-agg + sources-bounded windows — ~1x
      "unimax" -> (d => graft.operators.Sampling.unimaxPlan(
        Tables.documents(spark, d).select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).as("n_toks")),
        "source", col("n_toks"), budgetTokens = 500000L, maxEpochs = 2.0)),
      // retrieval eval incl. the exact-ranking pass: one corpus scan per
      // query batch, everything downstream (queries x k)-bounded
      "retrieval_eval" -> { d =>
        val emb = Tables.embeddings(spark, d)
        val ranking = graft.operators.Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") < 8), k = 10)
        val qrels = emb.select(col("vec_id").as("doc_id"))
          .crossJoin(emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id")))
          .filter((col("query_id") * 31 + col("doc_id")) % 11 === 0)
          .withColumn("rel", (col("doc_id") % 3 + 1).cast("double"))
        graft.operators.RetrievalEval.perQuery(ranking, qrels, k = 10)
      },
      // robots screening: scan-stage canonicalize + broadcast rule join — ~1x
      "robots_screen" -> { d =>
        val spark0 = spark; import spark0.implicits._
        import graft.operators.Curation
        val robots = Seq(
          ("a.com", "User-agent: graftbot\nDisallow: /page/1"),
          ("b.net", "User-agent: *\nDisallow: /page/20"))
          .toDF("domain", "txt")
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("http://a.com")).otherwise(lit("https://b.net")),
          lit("/page/"), (col("doc_id") % 211).cast("string"))
        Curation.robotsVerdicts(
          Tables.documents(spark, d).select(col("doc_id"), url.as("url")),
          "url", Curation.parseRobots(robots, "domain", "txt"), "graftbot")
      },
      // Kneser-Ney train+score: two corpus passes + cap-bounded model
      // broadcasts + scan-stage scoring — the perplexity family's shape
      "kn_perplexity" -> { d =>
        val docs = Tables.documents(spark, d)
        val lm = graft.operators.LanguageModel.trainKneserNey(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0), "doc_id", "text",
          vocabCap = 4096, bigramCap = 1 << 16)
        graft.operators.LanguageModel.perplexityKneserNey(docs, "doc_id", "text", lm)
      },
      // kappa matrix: ONE partial-agg pass fills every pair's contingency
      "filter_agreement" -> { d =>
        graft.GraftExtensions.register(spark)
        graft.operators.Diagnostics.filterAgreementMatrix(
          Tables.documents(spark, d), Seq(
            "quality" -> (TextFunctions.qualityScore(col("text")) >= 0.6),
            "lang_en" -> (TextFunctions.langId(col("text")) === "en"),
            "entropy" -> (graft.functions.Entropy.charEntropy(col("text")) >= 3.5)))
      },
      // LSH recall report: truth is the inverted-index pair generator
      // (documented output-driven superlinear class, df cut scaled); the
      // banding/candidate side is one sig pass + a bucket self-join
      "lsh_recall" -> (d => Dedup.lshRecallReport(
        Tables.documents(spark, d), "doc_id", "text",
        threshold = 0.3, configs = Seq((32, 8)),
        maxTokenDf = dfCut(d), tokens = shingleSet)),

      // link-graph PageRank (production decimal-sum mode): node count and
      // edge count both scale with the corpus (per-13-block and per-97-block
      // hub links keep edges within a replication shard), 3 iterations —
      // the ratio measures the per-iteration shuffle join at 10x nodes+edges
      "pagerank" -> { d =>
        val ids = Tables.documents(spark, d).select(col("doc_id"))
        val edges = ids.select(
          concat(lit("n"), col("doc_id").cast("string")).as("src"),
          explode(array(
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(13)))
              .cast("string")),
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(97)))
              .cast("string")))).as("dst"))
        graft.operators.LinkGraph.pageRank(edges, iters = 3)
      },

      // big-big fuzzy join: FIXED 30-probe set (shard 0 only under the id
      // offset) against a corpus growing 10x — the ratio isolates the
      // length-band candidate scan
      "fuzzy_join" -> { d =>
        val fkey = substring(regexp_replace(
          lower(substring_index(col("text"), " ", 1)), "[^a-z0-9]", ""), 1, 10)
        val keyed = Tables.documents(spark, d)
          .select(col("doc_id"), fkey.as("fkey"))
        graft.operators.FuzzyJoin.join(
          keyed.filter(col("doc_id") < 30), keyed, "doc_id", "fkey", 2)
      },

      // real audio kernel: encode + chunk-walk decode, pure scan stage
      "wav_decode" -> (d => graft.operators.Multimodal.decodeWavFeatures(
        graft.operators.Multimodal.encodeWav(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")))),

      // fixed-point STFT: per-clip cost is maxFrames-capped (8 frames x
      // 33 bins x 64 taps), so the shape is scan-stage and the ratio
      // should track the corpus row count, not text bytes
      "wav_spectrogram" -> (d => graft.operators.Multimodal.wavSpectrogram(
        graft.operators.Multimodal.encodeWav(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")),
        maxFrames = 8)),

      // fixed-point resample + re-decode: two chained typed kernels, cost
      // linear in PCM bytes, zero shuffle end to end
      "wav_resample" -> (d => graft.operators.Multimodal.decodeWavFeatures(
        graft.operators.Multimodal.resampleWav(
          graft.operators.Multimodal.encodeWav(
            graft.operators.Multimodal.fromText(
              Tables.documents(spark, d), "doc_id", "text", "source")),
          outRate = 6000))),

      // VAD + silence trim: two linear passes over the PCM bytes per clip
      // (window sums, then the span copy), scan-stage, zero shuffle
      "wav_vad" -> (d => graft.operators.Multimodal.decodeWavFeatures(
        graft.operators.Multimodal.trimWavSilence(
          graft.operators.Multimodal.encodeWav(
            graft.operators.Multimodal.fromText(
              Tables.documents(spark, d), "doc_id", "text", "source"))))),

      // DCT perceptual hash: fixed 16x16 grid per image, so per-row cost
      // is bounded by the box-resample over the source bytes — scan-stage,
      // the aHash shape with a constant-size transform on top
      "phash" -> (d => graft.operators.Multimodal.pHashFeatures(
        graft.operators.Multimodal.encodePpm(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")))),

      // mel filterbank over the STFT: same maxFrames-capped scan-stage
      // shape as wav_spectrogram plus the constant weight-table fold —
      // the ratio should track corpus rows
      "wav_logmel" -> (d => graft.operators.Multimodal.wavLogMel(
        graft.operators.Multimodal.encodeWav(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")),
        sampleRate = 8000, nMel = 8, maxFrames = 8)),

      // readability formulas: scan-stage Column trees
      "readability" -> (d => Tables.documents(spark, d).select(
        col("doc_id"),
        TextFunctions.sentenceCount(col("text")),
        TextFunctions.syllableCount(col("text")),
        TextFunctions.fleschReadingEase(col("text")),
        TextFunctions.fkGradeLevel(col("text")))),

      // segment (pigeonhole) fuzzy blocking: same fixed 30-probe set as
      // fuzzy_join — the ratio isolates the segment index build over the
      // growing corpus vs the band path's per-length candidate scan
      "fuzzy_join_seg" -> { d =>
        val fkey = substring(regexp_replace(
          lower(substring_index(col("text"), " ", 1)), "[^a-z0-9]", ""), 1, 10)
        val keyed = Tables.documents(spark, d)
          .select(col("doc_id"), fkey.as("fkey"))
        graft.operators.FuzzyJoin.joinSegments(
          keyed.filter(col("doc_id") < 30), keyed, "doc_id", "fkey", 2)
      },

      // mutual-best-match linkage over the banded candidates: two
      // partial-agg argmins + one equi-join on the pair frame
      "fuzzy_link" -> { d =>
        val fkey = substring(regexp_replace(
          lower(substring_index(col("text"), " ", 1)), "[^a-z0-9]", ""), 1, 10)
        val keyed = Tables.documents(spark, d)
          .select(col("doc_id"), fkey.as("fkey"))
        graft.operators.FuzzyJoin.bestMatch(graft.operators.FuzzyJoin.join(
          keyed.filter(col("doc_id") < 30), keyed, "doc_id", "fkey", 2)
          .filter(col("id_l") =!= col("id_r")))
      },

      // real video kernel: Y4M encode + frame-walk decode at stride 2,
      // pure scan stage (generator: rows out >> rows in, no shuffle)
      "y4m_decode" -> (d => graft.operators.Multimodal.decodeY4mFrames(
        graft.operators.Multimodal.encodeY4m(
          graft.operators.Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")),
        every = 2)),

      // HITS on the same hub-shaped graph as pagerank (nodes AND edges
      // scale with the corpus): two shuffle joins + two partial aggs +
      // two 1-row norm broadcasts per iteration
      "hits" -> { d =>
        val ids = Tables.documents(spark, d).select(col("doc_id"))
        val edges = ids.select(
          concat(lit("n"), col("doc_id").cast("string")).as("src"),
          explode(array(
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(13)))
              .cast("string")),
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(97)))
              .cast("string")))).as("dst"))
        graft.operators.LinkGraph.hits(edges, iters = 3)
      },

      // label propagation on the hub-shaped graph: one shuffle join + one
      // (node, label) partial agg + one min-struct argmax per iteration
      "label_prop" -> { d =>
        val s = spark
        import s.implicits._
        val ids = Tables.documents(spark, d).select(col("doc_id"))
        val edges = ids.select(
          concat(lit("n"), col("doc_id").cast("string")).as("src"),
          explode(array(
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(13)))
              .cast("string")),
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(97)))
              .cast("string")))).as("dst"))
        val seeds = Seq(("n0", "news"), ("n97", "forum"), ("n194", "spam"))
          .toDF("node", "label")
        graft.operators.LinkGraph.labelPropagation(edges, seeds, iters = 3)
      },

      // grouped ROC-AUC/AP: one corpus partial-agg to distinct-score class
      // counts, then sharded cumsums over the distinct-score frame only
      "classifier_auc" -> { d =>
        val docs = Tables.documents(spark, d).select(
          col("doc_id"), col("source"),
          round(TextFunctions.qualityScore(col("text")), 3).as("v"),
          (col("doc_id") % 3 === 0).as("y"))
        graft.operators.ClassifierEval.binaryMetricsBy(
          docs, "source", col("v"), col("y"))
      },

      // ---- round-14 second batch ----
      // SFT chain: synthesize turns, validate, render, re-offset mask spans
      // into packed bins — conv_id-keyed shuffles with conversation-bounded
      // state throughout
      "chat_sft" -> { d =>
        import graft.operators.{Chat, Packing}
        val sys = col("conv_id") % 5 === 0
        val turns = Tables.documents(spark, d)
          .select(col("doc_id").as("conv_id"),
            TextFunctions.tokens(col("text")).as("toks"))
          .withColumn("n_turns", least(lit(6), greatest(lit(1),
            floor((size(col("toks")) + lit(11)) / lit(12)).cast("int"))))
          .select(col("conv_id"), col("n_turns"), col("toks"),
            explode(sequence(lit(0), col("n_turns") - 1)).as("turn_idx"))
          .withColumn("role",
            when(sys && col("turn_idx") === 0, lit("system"))
              .when(((col("turn_idx") - when(sys, 1).otherwise(0)) % 2) === 0,
                lit("user"))
              .otherwise(lit("assistant")))
          .withColumn("content",
            array_join(slice(col("toks"), col("turn_idx") * 12 + 1, lit(12)), " "))
          .select("conv_id", "turn_idx", "role", "content")
        val valid = Chat.validate(turns).filter(col("is_valid")).select("conv_id")
        val rendered = Chat.render(turns).join(valid, Seq("conv_id"))
        val packed = Packing.packBins(rendered, "conv_id",
          TextFunctions.tokenCount(col("text")), budgetTokens = 256L, shards = 64)
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy("shard", "bin").orderBy("conv_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        packed.withColumn("chars_before",
            coalesce(sum(col("n_chars") + lit(1L)).over(wb), lit(0L)))
          .join(Chat.lossMaskSpans(turns), Seq("conv_id"))
          .select(col("shard"), col("bin"), col("conv_id"), col("turn_idx"),
            (col("chars_before") + col("start_char")).as("g_start"),
            (col("chars_before") + col("end_char")).as("g_end"))
      },

      // preference pairs + Bradley-Terry: one corpus window for pairs, then
      // iterations over the items^2-bounded comparison matrix
      "bradley_terry" -> { d =>
        import graft.operators.Preference
        val toks = TextFunctions.tokens(col("text"))
        val cands = Tables.documents(spark, d).select(
          (col("doc_id") % 50).as("prompt"), col("doc_id").as("cand_id"),
          col("source"),
          when(size(toks) > 0,
            size(array_distinct(toks)).cast("double") / size(toks))
            .otherwise(lit(0.0)).as("q"))
        val pairs = Preference.preferencePairs(cands, "prompt", "cand_id",
          "q", minMargin = 0.05, carry = Seq("source"),
          carryChosen = Seq("source"))
        Preference.bradleyTerry(pairs, "chosen_source", "source",
          iters = 3, alpha = 1.0)
      },

      // degree-ordered triangles on the hub-shaped graph (nodes AND edges
      // scale with the corpus): distinct + degree agg + oriented wedge join
      "triangles" -> { d =>
        val ids = Tables.documents(spark, d).select(col("doc_id"))
        val edges = ids.select(
          concat(lit("n"), col("doc_id").cast("string")).as("src"),
          explode(array(
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(13)))
              .cast("string")),
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(97)))
              .cast("string")),
            concat(lit("n"), (col("doc_id") - pmod(col("doc_id"), lit(5)))
              .cast("string")))).as("dst"))
        graft.operators.LinkGraph.triangles(edges)
      },

      // weekly retention cohorts over the replicated event log: two
      // user-keyed partial aggs + a cells-sized matrix join
      "retention" -> (d => graft.operators.Sessionize.retentionCohorts(
        Tables.events(spark, d), "user_id", "ts",
        col("event_type") === "purchase", col("event_type") === "purchase")),

      // geo nearest-k: broadcast station dim + map-side-combining top-k;
      // points scale with the corpus, stations fixed
      "geo_nearest" -> { d =>
        val pts = Tables.documents(spark, d).select(col("doc_id").as("id"),
          (lit(-10.0) + (col("doc_id") % 40) * 0.5).as("lat"),
          (lit(93.0) + (col("doc_id") % 30) * 0.9).as("lon"))
        val st = spark.range(50).select(
          concat(lit("st"), col("id")).as("name"),
          (lit(-8.0) + col("id") * 0.7).as("lat"),
          (lit(95.0) + col("id") * 1.3).as("lon"))
        graft.operators.GeoJoin.nearestK(pts, "id", st, k = 3)
      },

      // RHO-1 selective tokens: two scan-stage LM scorers, one (doc,pos)
      // join, one doc-keyed window — per-document state only
      "token_select" -> { d =>
        val docs = Tables.documents(spark, d)
        graft.operators.LanguageModel.selectiveTokens(docs, "doc_id", "text",
          targetRef = docs.filter(col("source").isin("src0", "src1", "src2")),
          generalRef = docs.filter(graft.operators.Sampling
            .split(col("doc_id"), 80, 10, salt = ":lm1") === "train"),
          vocabCap = 256, bigramCap = 2048, keepFrac = 0.3)
      },

      // DoReMi reweighting: two scan-stage scoring passes folding to a
      // domains-bounded frame; weight math is metadata-sized
      "doremi" -> { d =>
        val docs = Tables.documents(spark, d)
        graft.operators.LanguageModel.doremiWeights(docs, "doc_id", "text",
          "source",
          proxyRef = docs.filter(graft.operators.Sampling
            .split(col("doc_id"), 80, 10, salt = ":lm1") === "train"),
          refRef = docs.filter(col("source").isin("src0", "src1", "src2")),
          vocabCap = 256, bigramCap = 2048, eta = 1.0, smoothing = 0.01)
      },

      // best-of-n rejection sampling: ONE prompt-keyed partial agg
      "best_of_n" -> { d =>
        val toks = TextFunctions.tokens(col("text"))
        val cands = Tables.documents(spark, d).select(
          (col("doc_id") % 50).as("prompt"), col("doc_id").as("cand_id"),
          col("source"),
          when(size(toks) > 0,
            size(array_distinct(toks)).cast("double") / size(toks))
            .otherwise(lit(0.0)).as("quality"))
        graft.operators.Preference.bestOfN(cands, "prompt", "cand_id",
          "quality", minScore = 0.7, carry = Seq("source"))
      },

      // synthetic-text screen: pure scan-stage contains chains
      "synthetic_screen" -> { d =>
        graft.operators.Curation.syntheticScreen(
          Tables.documents(spark, d), "text",
          phrases = graft.operators.Curation.DefaultAiPhrases ++
            Seq("slow filter value", "batch window spark"))
      },

      // Matryoshka recall: one brute ranking pass per probed dim over a
      // fixed 8-query set — corpus-linear per dim
      "matryoshka" -> { d =>
        val emb = Tables.embeddings(spark, d)
        graft.operators.Similarity.matryoshkaRecall(emb,
          emb.filter(col("vec_id") < 8), k = 10, dims = Seq(8, 16, 32))
      },

      // Matryoshka over per-dim IVF indexes (round 15): same curve, but
      // each dim's ranking probes nProbe/nLists of its truncated index —
      // cell-local instead of corpus-linear. Includes the per-dim index
      // builds (linear scans + sampled k-means). nLists scales with the
      // replication factor (the dfCut discipline): production sizes the
      // cell COUNT with the corpus so cell SIZE — and per-query probe cost
      // at fixed nProbe — stays constant.
      "matryoshka_ivf" -> { d =>
        import graft.operators.Similarity
        val nl = if (d == out) 80 else 8
        val emb = Tables.embeddings(spark, d)
        val idxs = Seq(8, 16, 32).map(m => m -> Similarity.buildIvf(
          emb.select(col("vec_id"), slice(col("embedding"), 1, m).as("embedding")),
          nLists = nl, seed = 42L))
        Similarity.matryoshkaRecallIvf(Similarity.buildIvf(emb, nl, 41L), idxs,
          emb.filter(col("vec_id") < 8), k = 10, nProbe = 2, nProbeFull = 2)
      },

      // Dual-index bitext mining (round 15): each direction probes the
      // OTHER side's index — candidates are cell-joined, neither side
      // broadcast; includes both index builds. nLists scales with the
      // corpus (constant cell size — see matryoshka_ivf); the query SIDES
      // still scale 10x, so the expected ratio is ~10x query rows x
      // constant per-query probe cost on fixed cores.
      "bitext_ivf" -> { d =>
        import graft.operators.Similarity
        val nl = if (d == out) 80 else 8
        val emb = Tables.embeddings(spark, d)
        val xs = emb.filter(col("vec_id") % 2 === 0)
        val ys = emb.filter(col("vec_id") % 2 === 1)
        Similarity.bitextMineIvf(
          Similarity.buildIvf(xs, nLists = nl, seed = 42L),
          Similarity.buildIvf(ys, nLists = nl, seed = 43L),
          xs, ys, k = 4, minMargin = 1.05, nProbe = 2)
      },

      // Box-filter PPM resize (round 15): encode -> real resample ->
      // decode, all partition-local typed maps, zero shuffle end to end
      "ppm_resize" -> { d =>
        import graft.operators.Multimodal
        Multimodal.decodePpmFeatures(Multimodal.resizePpm(
          Multimodal.encodePpm(Multimodal.fromText(
            Tables.documents(spark, d), "doc_id", "text", "source")),
          outW = 2, outH = 2))
      },

      // Incremental PageRank (round 15): one (src,dst) state-merge shuffle
      // + the shared iteration loop over the domain-pair-bounded merged
      // state — wave-1 documents are never re-read
      "pagerank_increment" -> { d =>
        import graft.operators.LinkGraph
        def dom(e: org.apache.spark.sql.Column) =
          concat(lit("d"), e.cast("string"))
        def mk(df: DataFrame) = df.select(
          dom(col("doc_id") % 20).as("src"),
          explode(array(dom((col("doc_id") * 7 + 3) % 20),
            dom((col("doc_id") * 13 + 5) % 20),
            dom(col("doc_id") % 4))).as("dst"))
        val docs = Tables.documents(spark, d)
        val state = LinkGraph.weightedEdges(
          mk(docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)))
        val merged = LinkGraph.mergeWeightedEdges(state,
          mk(docs.filter(pmod(col("doc_id"), lit(7)) === 0)))
        LinkGraph.pageRankWeighted(merged, iters = 4)
      },

      // Selection capstone chain (round 15): one shared LM pair, RHO-1
      // token filter + DoReMi weights + mixture realization + leak-free
      // group split — the q_pipeline_select_v2 composition
      "select_chain" -> { d =>
        import graft.operators.{LanguageModel, Sampling}
        val docs = Tables.documents(spark, d)
        val lmT = LanguageModel.trainBigramLm(
          docs.filter(col("source").isin("src0", "src1", "src2")),
          "doc_id", "text", vocabCap = 256, bigramCap = 2048)
        val lmG = LanguageModel.trainBigramLm(
          docs.filter(Sampling.split(col("doc_id"), 80, 10, salt = ":lm1") === "train"),
          "doc_id", "text", vocabCap = 256, bigramCap = 2048)
        val scored = LanguageModel.dualTokenScores(docs, "doc_id", "text",
            lmT, lmG)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        scored.count()
        val sel = LanguageModel.selectiveTokensScored(scored, keepFrac = 0.3)
          .select(col("doc_id"), col("n_kept"))
        val wts = LanguageModel.doremiWeightsScored(docs, "doc_id", "source",
            scored, eta = 1.0, smoothing = 0.01)
          .select(col("source"), col("w_updated").as("weight"))
        val dt = docs.select(col("doc_id"), col("source"),
            md5(col("text")).as("grp"))
          .join(sel, Seq("doc_id"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        dt.count()
        val plan = Sampling.mixturePlan(dt, "source", col("n_kept"), wts,
          budgetTokens = 50000L, maxEpochs = 3.0)
        Sampling.splitByGroup(
            Sampling.realizeMixture(dt, "source", col("doc_id"), plan,
              salt = ":sv2"),
            col("grp"), 80, 10, salt = ":sv2s")
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_doc_epochs"), sum("n_kept").as("n_kept_tokens"))
      },

      // Gradient-trained logistic filter (round 15): ONE tokenization to
      // the persisted (doc, bucket, cnt) frame; per iteration one broadcast
      // join + two partial aggs — corpus term linear, model buckets-bounded
      "logit_train" -> { d =>
        import graft.operators.QualityClassifier
        val docs = Tables.documents(spark, d)
        val lab = docs.withColumn("__q",
          TextFunctions.qualityScore(col("text")))
        val m = QualityClassifier.trainLogistic(lab, "doc_id", "text",
          col("__q") >= 0.6, iters = 3, lr = 0.5, buckets = 4096,
          salt = ":lg1")
        QualityClassifier.scoreLogistic(docs, "doc_id", "text", m)
      },

      // QOI compressed-image codec (round 15): encode (op selection, hash
      // index) -> strict decode -> channel means, all partition-local typed
      // maps, zero shuffle — expected ~1x scan-stage scaling
      "qoi_roundtrip" -> { d =>
        import graft.operators.Multimodal
        Multimodal.decodeQoiFeatures(Multimodal.encodeQoi(
          Multimodal.fromText(Tables.documents(spark, d), "doc_id", "text",
            "source")))
      },

      // Perceptual fingerprint triple (round 15): image aHash + banded
      // pairs, audio envelope, video temporal — all partition-local typed
      // maps; the only shuffle is the band-keyed pair join. Grid 8 =
      // 64-bit signatures (the corpus-scale sizing; a 16-bit grid-4
      // signature saturates its band space at 10x and the candidate join
      // degenerates toward all-pairs — measured 34x before this sizing)
      "fingerprints" -> { d =>
        import graft.operators.Multimodal
        val media = Multimodal.fromText(Tables.documents(spark, d),
          "doc_id", "text", "source")
        val img = Multimodal.aHashPairs(Multimodal.encodePpm(media),
            grid = 8, maxHamming = 1)
          .agg(count(lit(1)).as("n_pairs"))
        val aud = Multimodal.wavEnvelopeHash(Multimodal.encodeWav(media))
          .agg(countDistinct(col("envhash")).as("n_env"))
        val vid = Multimodal.y4mTemporalHash(Multimodal.encodeY4m(media))
          .agg(countDistinct(col("thash")).as("n_t"))
        img.crossJoin(aud).crossJoin(vid)
      },

      // PSI drift (round 15): two count folds + a category-bounded join
      "psi_drift" -> { d =>
        import graft.operators.Diagnostics
        val docs = Tables.documents(spark, d)
        Diagnostics.psiByCategory(
          docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          col("source"))
      },

      // Aho-Corasick phrase screen (round 15): one corpus scan regardless
      // of pattern count (128 phrases here); only sparse hits shuffle —
      // expected ~1x scan-stage scaling
      "multimatch" -> { d =>
        import graft.operators.MultiMatch
        val vocab = Seq("table", "value", "scan", "query", "fast", "sort",
          "a", "agg", "join", "batch", "spark", "window", "group", "key",
          "line", "part")
        val pats = (for (x <- vocab; y <- vocab.take(8)) yield s"$x $y").distinct
        MultiMatch.screenFlags(Tables.documents(spark, d), "doc_id", "text",
          pats)
          .groupBy("has_hit")
          .agg(count(lit(1)).as("n"), sum("n_hits").as("hits"))
      },

      // Exact rank quantiles (round 15): one shuffle to distinct-value
      // counts, sharded cumsum over the value-bounded frame — the corpus
      // term is the count fold only
      "length_quantiles" -> { d =>
        import graft.operators.Diagnostics
        Diagnostics.exactQuantilesBy(
          Tables.documents(spark, d).select(col("lang"),
            TextFunctions.tokenCount(col("text")).as("n_toks")),
          "lang", col("n_toks"), qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99))
      },

      // ---- round 16 ----
      // PNG encode -> chunk/CRC/inflate/filter decode: partition-local
      // typed maps end to end, zero shuffle — expect scan-stage flat
      "png_roundtrip" -> { d =>
        import graft.operators.Multimodal
        Multimodal.decodePngFeatures(Multimodal.encodePng(
          Multimodal.fromText(Tables.documents(spark, d),
            "doc_id", "text", "source")))
      },
      // aHash over a PNG corpus: rasterView PNG decode + box resample in
      // one typed kernel — the cross-codec path the r16 gate pins
      "png_ahash" -> { d =>
        import graft.operators.Multimodal
        Multimodal.aHashFeatures(Multimodal.encodePng(
          Multimodal.fromText(Tables.documents(spark, d),
            "doc_id", "text", "source")), grid = 8)
      },
      // unigram-LM tokenizer: two distributed count aggregations + driver
      // EM on the cap-bounded word table + the Viterbi scan kernel. The
      // corpus term is the counts + the apply scan; EM cost is bounded by
      // DISTINCT words (fixed under replication — ids offset, text reused)
      "unigram_tokenizer" -> { d =>
        import graft.operators.UnigramLm
        val docs = Tables.documents(spark, d)
        val model = UnigramLm.trainUnigram(docs, "doc_id", "text",
          vocabSize = 512, iters = 2, seedCap = 2048)
        UnigramLm.applyUnigram(docs, "doc_id", "text", model)
      },
      // fence-aware C4: scan-stage Column trees incl. the per-line prefix
      // fold (O(lines^2) in array slices, page-bounded) — expect flat
      "c4_code_aware" -> { d =>
        val words = split(col("text"), " ")
        val page = concat_ws("\n",
          concat(array_join(slice(words, 1, 6), " "), lit(".")),
          lit("```"),
          concat(lit("  code { "), array_join(slice(words, 7, 4), " "), lit(" }")),
          lit("```"),
          concat(array_join(slice(words, 3, 8), " "), lit(" right?")),
          lit("the sum $a + b$ stays"),
          concat(array_join(slice(words, 11, 7), " "), lit(".")))
        graft.operators.Lines.c4CleanCodeAware(
          Tables.documents(spark, d).select(col("doc_id"), page.as("text")),
          "doc_id", "text")
      },
      // IVF lifecycle refresh: buildIvf + save + retrain (sample k-means +
      // ONE re-assignment pass + partitioned rewrite). nLists scales with
      // the corpus (the dfCut discipline) so cell size stays constant
      "ivf_retrain" -> { d =>
        import graft.operators.Similarity
        val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
        val nLists = if (d == out) 80 else 8
        val dir = s"/tmp/graft_scale_ivf_rt_${if (d == out) "10x" else "1x"}"
        val built = Similarity.buildIvf(emb, nLists = nLists, seed = 42L)
        Similarity.saveIvf(built, dir)
        built.assigned.unpersist(blocking = false)
        Similarity.retrainIvf(spark, dir, nLists = nLists, seed = 43L)
        Similarity.loadIvf(spark, dir).assigned
      },
      // the same lifecycle with nLists held FIXED — the refresh-on-a-fixed-
      // cell-budget regime — to separate the corpus-linear term from the
      // corpus × nLists assignment term the scaled-nLists case carries
      // (every IVF build pays n·k distance evals; see SCALE.md note)
      "ivf_retrain_fixed" -> { d =>
        import graft.operators.Similarity
        val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
        val dir = s"/tmp/graft_scale_ivf_rtf_${if (d == out) "10x" else "1x"}"
        val built = Similarity.buildIvf(emb, nLists = 8, seed = 42L)
        Similarity.saveIvf(built, dir)
        built.assigned.unpersist(blocking = false)
        Similarity.retrainIvf(spark, dir, nLists = 8, seed = 43L)
        Similarity.loadIvf(spark, dir).assigned
      },
      // TWO-LEVEL IVF under the re-sizing regime that prices the flat
      // build at 3.5x (ivf_retrain above): nLists scales with the corpus
      // (8 -> 80) but the two-level assignment pays nParents + fanout
      // evals/vector (6 -> 18, a 3x per-vector term) instead of the flat
      // nLists (8 -> 80, 10x) — the sqrt-bounded fix for 65k-list indexes
      "ivf2_build" -> { d =>
        import graft.operators.Similarity
        val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
        val (np, f) = if (d == out) (10, 8) else (4, 2)
        val i2 = Similarity.buildIvf2(emb, nParents = np, fanout = f,
          seed = 42L)
        Similarity.searchIvf2(i2,
          emb.filter(col("vec_id") % 1000L === 0L), k = 10, nProbe = 2)
      },
      // IVF2 x PQ composed (round 18): the ivf2_build re-sizing regime with
      // the store PQ-coded — hierarchical assignment (sqrt-bounded
      // evals/vector) + per-subspace encode (broadcast codebooks, two
      // partial-agg groupBys) + a probe that scans m BYTES per candidate.
      // Expect the ivf2_build ratio plus the flat encode term (~linear)
      "ivf2_pq" -> { d =>
        import graft.operators.Similarity
        val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
        val (np, f) = if (d == out) (10, 8) else (4, 2)
        val i2 = Similarity.buildIvf2(emb, nParents = np, fanout = f,
          seed = 42L)
        val pq = Similarity.trainPq(emb, m = 16, nCodes = 64, seed = 7L)
        val coded = Similarity.encodePq2(i2, pq)
        Similarity.searchIvf2Pq(coded, pq,
          emb.filter(col("vec_id") % 1000L === 0L), k = 10, nProbe = 2)
      },
      // GIF encode -> LZW/sub-block/palette decode: partition-local typed
      // maps end to end, zero shuffle — the png_roundtrip shape; expect
      // scan-stage flat
      "gif_roundtrip" -> { d =>
        import graft.operators.Multimodal
        Multimodal.decodeGifFeatures(Multimodal.encodeGif(
          Multimodal.fromText(Tables.documents(spark, d),
            "doc_id", "text", "source")))
      },
      // animated-GIF temporal fingerprint: decode + envelope are
      // partition-local typed maps, zero shuffle — expect flat
      "gif_thash" -> { d =>
        import graft.operators.Multimodal
        Multimodal.gifTemporalHash(Multimodal.encodeGifFrames(
          Multimodal.fromText(Tables.documents(spark, d),
            "doc_id", "text", "source")), windows = 4)
      },
      // corpus snapshot diff: two (id, md5) scan folds + ONE full-outer
      // hash join — content never shuffles; expect ~linear
      "corpus_diff" -> { d =>
        import graft.operators.Diagnostics
        val docs = Tables.documents(spark, d)
        val v2 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" v2"))).otherwise(col("text")))
          .select("doc_id", "text")
        Diagnostics.corpusDiff(docs, v2, "doc_id", "text")
      },
      // trained multiclass NB lang-id: one token fold, a buckets-bounded
      // broadcast model, K decimal sums in ONE per-doc groupBy (no row
      // blowup by K) — the corpus term is the fold + one shuffle
      "langid_trained" -> { d =>
        import graft.operators.{LangClassifier, QualityClassifier}
        val docs = Tables.documents(spark, d)
        val fold = QualityClassifier.tokenFold(docs, "doc_id", "text",
          buckets = 4096, salt = ":li1")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val m = LangClassifier.trainLangNb(fold,
          docs.select("doc_id", "lang"), buckets = 4096, salt = ":li1")
        LangClassifier.scoreLang(docs.select("doc_id"), "doc_id", fold, m)
      },
      // char 3-5-gram lang-id (round 18): same wide-NB train/score shape
      // over ~3x chars-per-doc feature rows instead of tokens-per-doc —
      // the explode is bigger but still scan-stage into one partial-agg
      // fold; expect the langid_trained ratio with a larger constant
      "langid_char" -> { d =>
        import graft.operators.{LangClassifier, QualityClassifier}
        val docs = Tables.documents(spark, d)
        val fold = QualityClassifier.charGramFold(docs, "doc_id", "text",
          buckets = 4096, salt = ":lc1")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val m = LangClassifier.trainLangNb(fold,
          docs.select("doc_id", "lang"), buckets = 4096, salt = ":lc1")
        LangClassifier.scoreLang(docs.select("doc_id"), "doc_id", fold, m)
      },
      // WARC/WET container round trip (round 18): ONE shuffle groups docs
      // into (source, segment) WET files — segments sized so the 10x
      // corpus gets 10x the files, the Common Crawl shape (the segment is
      // the parallel unit; per-file bytes stay constant) — then the parse
      // side is a partition-local flatMap generator. Expect ~linear:
      // gzip/grammar arithmetic per byte dominates both halves.
      "wet_roundtrip" -> { d =>
        import graft.sources.Warc
        val segs = if (d == out) 40 else 4
        Warc.wetRecords(Warc.wetExport(
          Tables.documents(spark, d).select("source", "doc_id", "text"),
          gzipped = true, segments = segs))
      },
      // WebDataset shard lifecycle: corpus -> tar shards (ONE hash-shard
      // shuffle; shards sized so the 10x corpus gets 10x the files) ->
      // partition-local sample parse. Expect the wet_roundtrip class:
      // per-byte header/padding arithmetic dominates, fixed costs at 1x
      "wds_roundtrip" -> { d =>
        import graft.sources.Tar
        val shards = if (d == out) 40 else 4
        Tar.wdsSamples(Tar.wdsExport(
          Tables.documents(spark, d).select(col("doc_id"), col("text"),
            col("text").cast("binary").as("payload")),
          shards = shards))
      },

      // PQ-filtered search (round 18): the searchIvfPq cell-pruned scan
      // over m-byte codes plus ONE id-keyed attrs join before the rank —
      // the join is the only term the filter adds, independent of query
      // count; expect the ivf2_pq ratio class
      "pq_filtered" -> { d =>
        import graft.operators.Similarity
        val emb = Tables.embeddings(spark, d).select("vec_id", "embedding")
        val nLists = if (d == out) 64 else 16
        val idx = Similarity.buildIvf(emb, nLists = nLists, seed = 42L)
        val pq = Similarity.trainPq(emb, m = 16, nCodes = 64, seed = 7L)
        val coded = Similarity.encodePq(idx, pq)
        Similarity.searchIvfPqFiltered(coded, pq,
          emb.select(col("vec_id"), (col("vec_id") % 2 === 0).as("keep")),
          emb.filter(col("vec_id") % 1000L === 0L), k = 10,
          nProbe = 2, pred = col("keep"))
      },
      // the fused filter bake-off: ONE persisted tokenFold + labels frame
      // feeding NB train/score, logistic train/score, and the exact-AUC
      // metrics fold — the r16 score-once shape
      "bakeoff_fused" -> { d =>
        import graft.operators.{ClassifierEval, QualityClassifier}
        val docs = Tables.documents(spark, d)
        val lab = docs.withColumn("__en",
          TextFunctions.langId(col("text")) === "en")
        val labels = lab.select(col("doc_id"), col("__en").as("is_pos"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val fold = QualityClassifier.tokenFold(docs, "doc_id", "text",
            buckets = 4096, salt = ":bk1")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        fold.count()
        val nbM = QualityClassifier.trainFold(fold, labels,
          buckets = 4096, salt = ":bk1")
        val nb = QualityClassifier.scoreFold(docs, "doc_id", fold, nbM)
          .join(labels, Seq("doc_id"))
          .select(lit("nb").as("filter"),
            round(col("log_odds") / greatest(col("n_tokens"), lit(1L)), 9)
              .as("v"), col("is_pos"))
        val lgM = QualityClassifier.trainLogisticFold(lab, "doc_id",
          col("__en"), fold, iters = 3, lr = 0.5, buckets = 4096,
          salt = ":bk1")
        val lg = QualityClassifier.scoreLogisticFold(docs, "doc_id", fold,
            lgM)
          .join(labels, Seq("doc_id"))
          .select(lit("logit").as("filter"),
            round(col("margin") / greatest(col("n_tokens"), lit(1L)), 9)
              .as("v"), col("is_pos"))
        ClassifierEval.binaryMetricsBy(nb.unionByName(lg), "filter",
          col("v"), col("is_pos"))
      })

    // optional arg: comma-separated substrings — run only matching cases
    // (local iteration on newly added operators)
    val picked = args.headOption match {
      case Some(pats) =>
        cases.filter { case (n, _) => pats.split(',').exists(n.contains) }
      case None => cases
    }

    // pre-built labelings for components_incr_delta (untimed: the base
    // labeling is the corpus-scale asset the increment op reads; the case
    // must time the FOLD, not the batch labeling). The delta slice is
    // withheld so the increment genuinely adds unseen edges.
    if (picked.exists(_._1 == "components_incr_delta")) {
      Seq((base, "1x"), (out, "10x")).foreach { case (d, tag) =>
        Dedup.connectedComponents(
            chainPairs(d).filter(col("id_b") >= 1200L), maxIter = 64)
          .write.mode("overwrite")
          .parquet(s"/tmp/graft_scale_complabels_$tag")
      }
      spark.catalog.clearCache()
    }

    // warm codegen/JIT once at 1x so both measured runs are hot. Cache is
    // swept after EVERY shape here too (time() already sweeps the measured
    // runs): shapes that persist an internal fold (langid_trained,
    // bakeoff_fused) must not let it outlive the shape and skew the memory
    // available to neighbors measured in the same session.
    picked.foreach { case (_, f) =>
      f(base).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val results = picked.map { case (name, f) =>
      val t1 = time(name, base)(f)
      val t10 = time(name, out)(f)
      (name, t1, t10)
    }
    println("SCALE == summary (10x data on fixed 32 cores) ==")
    results.foreach { case (n, t1, t10) =>
      println(f"SCALE | $n%-16s | $t1%6.2f s | $t10%6.2f s | ${t10 / t1}%5.1fx |")
    }
    spark.stop()
  }
}
