package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Multimodal, Similarity}

/** ANN quality and multimodal plumbing. */
class SimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("IVF top-k reaches high recall vs brute force at nProbe=4/16") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val k = 10
    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Similarity.bruteForceTopK(emb, queries, k))
    val index = Similarity.buildIvf(emb, nLists = 16)
    val ivf = resultSet(Similarity.searchIvf(index, queries, k, nProbe = 4))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    // probing every cell must recover exact search entirely
    val full = resultSet(Similarity.searchIvf(index, queries, k, nProbe = 16))
    assert(full == exact, "nProbe = nLists should equal brute force")
  }

  test("IVF+PQ: trained codebooks compress to m bytes and keep usable recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 10)
    val k = 10
    // real training path: per-subspace k-means (m=16 subspaces x 64 codes
    // over 64 dims -> 16 bytes/vector vs 512 for float64; the synthetic
    // embeddings are near-uniform, the hardest case for PQ, so the spec
    // uses the finer 4-dim subspaces a random-ish corpus needs)
    val pq = PqTraining.trainPq(emb, m = 16, nCodes = 64, seed = 7L)
    assert(pq.subDim == 4)
    val cbRows = pq.codebooks.collect()
    assert(cbRows.length == 16 * 64)
    assert(cbRows.forall(_.getSeq[Double](2).length == 4))
    val index = Similarity.sharedIvf(emb, corpusKey = "pq-spec", nLists = 16)
    val coded = Similarity.encodePq(index, pq)
    // compression shape: m byte-typed codes per vector, one row per vector
    val schema = coded.assigned.schema("pq_codes").dataType
    assert(schema == org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.ByteType, containsNull = false) ||
      schema.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val codeRows = coded.assigned.select("pq_codes").collect()
    assert(codeRows.forall(_.getSeq[Byte](0).length == 16))
    assert(coded.assigned.count() == emb.count())
    def resultSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val exact = resultSet(Similarity.bruteForceTopK(emb, queries, k))
    // nProbe = nLists: every pair is scored, so the remaining error is pure
    // quantization — recall must be well above chance (10/500 = 0.02)
    val full = resultSet(Similarity.searchIvfPq(coded, pq, queries, k, nProbe = 16))
    val fullRecalls = exact.map { case (q, ids) => (full(q) & ids).size.toDouble / ids.size }
    val fullMean = fullRecalls.sum / fullRecalls.size
    assert(fullMean >= 0.4, s"PQ full-probe mean recall $fullMean")
    // pruned probe loses at most the cell-miss recall on top
    val pruned = resultSet(Similarity.searchIvfPq(coded, pq, queries, k, nProbe = 4))
    val prunedRecalls = exact.map { case (q, ids) =>
      (pruned.getOrElse(q, Set.empty) & ids).size.toDouble / ids.size }
    val prunedMean = prunedRecalls.sum / prunedRecalls.size
    assert(prunedMean >= 0.25, s"PQ nProbe=4 mean recall $prunedMean")
    assert(fullMean >= prunedMean - 1e-9,
      "probing every cell cannot lose recall vs pruned probing")
    spark.catalog.clearCache()
  }

  test("PQ index + codebooks persist and shrink the store") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val base = emb.filter(col("vec_id") < 400)
    val pq = PqTraining.trainPq(base, m = 16, nCodes = 32, seed = 11L)
    val built = Similarity.buildIvf(base, nLists = 8, seed = 42L)
    val coded = Similarity.encodePq(built, pq)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    def bytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(walk).sum)
        else f.length()
      walk(new java.io.File(d))
    }
    try {
      // save both halves; loaded search == in-memory search row for row
      Similarity.saveIvf(coded, dir)
      Similarity.savePq(pq, dir)
      val loadedPq = Similarity.loadPq(spark, dir)
      assert((loadedPq.m, loadedPq.dim, loadedPq.nCodes) == ((16, 64, 32)))
      val loaded = Similarity.loadIvf(spark, dir)
      val a = Similarity.searchIvfPq(coded, pq, queries, k = 5, nProbe = 3)
        .orderBy("query_id", "rank").collect()
      val b = Similarity.searchIvfPq(loaded, loadedPq, queries, k = 5, nProbe = 3)
        .orderBy("query_id", "rank").collect()
      assert(a.toSeq == b.toSeq)
      assert(a.nonEmpty)
      // the compression story, measured on disk over the SAME rows and the
      // SAME layout (one unpartitioned file each): PQ codes (m bytes/vector)
      // vs int8 (dim bytes + scale) vs raw float vectors
      val cmpDir = java.nio.file.Files.createTempDirectory("graft_cmp").toString
      try {
        built.assigned.coalesce(1)
          .write.mode("overwrite").parquet(s"$cmpDir/raw")
        Similarity.quantizeIvf(built).assigned.coalesce(1)
          .write.mode("overwrite").parquet(s"$cmpDir/i8")
        coded.assigned.coalesce(1)
          .write.mode("overwrite").parquet(s"$cmpDir/pq")
        val (raw, i8, pqB) =
          (bytes(s"$cmpDir/raw"), bytes(s"$cmpDir/i8"), bytes(s"$cmpDir/pq"))
        assert(i8 < raw, s"int8 $i8 not smaller than raw $raw")
        assert(pqB < i8, s"pq $pqB not smaller than int8 $i8")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cmpDir))
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a throwing sharedSavedIndex build leaves no temp dir, and the key builds again") {
    val key = s"throwing-build-${System.nanoTime()}"
    var failedDir: String = null
    val e = intercept[IllegalStateException] {
      Similarity.sharedSavedIndex(spark, key) { dir =>
        failedDir = dir
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(failedDir != null && !new java.io.File(failedDir).exists(),
      s"$failedDir left behind")
    var builds = 0
    val dir = Similarity.sharedSavedIndex(spark, key) { d =>
      builds += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "part"), "ok")
    }
    try {
      assert(builds == 1)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, "part")) == "ok")
      assert(Similarity.sharedSavedIndex(spark, key)(_ => builds += 1) == dir)
      assert(builds == 1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("hard negatives exclude the query's duplicate component, not its near misses") {
    import spark.implicits._
    import graft.operators.Dedup
    // 1 and 2 are exact duplicates (one component); 3 is a high-cosine NEAR
    // MISS below the dup threshold; 4 is unrelated
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)),
      (3L, Seq(0.9, 0.3)), (4L, Seq(0.0, 2.0)))
      .toDF("vec_id", "v")
    val cents = Seq((0L, Seq(0.0, 0.0))).toDF("cell", "centroid")
    val labeled = vecs.select(col("vec_id"), col("v").as("embedding"))
      .join(Dedup.semanticDedup(vecs, "vec_id", "v", cents, threshold = 0.999)
        .select("vec_id", "component"), Seq("vec_id"))
    val out = Similarity.hardNegativeTopK(labeled,
        labeled.filter(col("vec_id") === 1L), k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSeq.sortBy(_._2)
    // the exact duplicate (2) is OUT; the near miss (3) leads the ranking —
    // precisely the gradient-rich pair; plain topK would have ranked 2 first
    assert(out.map(_._1) == Seq(3L, 4L), s"got $out")
    val plain = Similarity.bruteForceTopK(
        vecs.select(col("vec_id"), col("v").as("embedding")),
        vecs.filter(col("vec_id") === 1L)
          .select(col("vec_id"), col("v").as("embedding")), k = 3)
      .collect().map(_.getLong(1)).toSeq
    assert(plain.head == 2L)
  }

  test("sharedIvf memoizes per key and re-persists after a cache sweep") {
    import org.apache.spark.storage.StorageLevel
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.sharedIvf(emb, corpusKey = "spec-corpus", nLists = 8)
    val b = Similarity.sharedIvf(emb, corpusKey = "spec-corpus", nLists = 8)
    assert(a eq b, "same (session, key, nLists, seed) must return the memoized index")
    assert(a.assigned.storageLevel != StorageLevel.NONE)
    // the harness sweeps the whole cache between gates; the next lookup must
    // repair persistence instead of recomputing the assignment scan uncached
    spark.catalog.clearCache()
    assert(a.assigned.storageLevel == StorageLevel.NONE)
    val c = Similarity.sharedIvf(emb, corpusKey = "spec-corpus", nLists = 8)
    assert((c eq a) && c.assigned.storageLevel != StorageLevel.NONE,
      "post-sweep lookup must re-persist the memoized assignment frame")
    // distinct keys build distinct indexes (caller owns key↔data contract)
    val other = Similarity.sharedIvf(emb, corpusKey = "other-corpus", nLists = 8)
    assert(!(other eq a))
    spark.catalog.clearCache()
  }

  test("int8-quantized search keeps high recall vs exact top-10") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = topSets(Similarity.bruteForceTopK(emb, queries, k = 10))
    val quant = topSets(Similarity.bruteForceTopKQuantized(emb, queries, k = 10))
    // int8 rounding perturbs scores by <= ~0.5/scale per element; the
    // neighbor sets may differ at the tail but must overlap heavily
    val recalls = exact.map { case (q, ids) => (quant(q) & ids).size.toDouble / ids.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean top-10 recall $mean")
  }

  test("saved+loaded IVF index searches identically and prunes to probed cells") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val built = Similarity.buildIvf(emb, nLists = 8, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    try {
      Similarity.saveIvf(built, dir)
      val loaded = Similarity.loadIvf(spark, dir)
      // the loaded quantizer is the same (cell, centroid) table, so searches
      // are row-identical to the in-memory index
      val a = Similarity.searchIvf(built, queries, k = 5, nProbe = 2)
        .orderBy("query_id", "rank").collect()
      val b = Similarity.searchIvf(loaded, queries, k = 5, nProbe = 2)
        .orderBy("query_id", "rank").collect()
      assert(a.toSeq == b.toSeq)
      assert(a.nonEmpty)
      // the index parquet is laid out one directory per cell, so a probe
      // can prune to its cells' files at the scan
      val cellDirs = new java.io.File(s"$dir/assigned").listFiles()
        .filter(_.getName.startsWith("cell="))
      assert(cellDirs.length == 8, s"got ${cellDirs.map(_.getName).toSeq}")
    } finally {
      built.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("IVF assignment stays codegen at nLists >= 256 (no plan-literal centroids)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val emb = Tables.embeddings(spark, sf)
    def fallbacks(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case p => p.expressions.flatMap(_.collect {
          case e: CodegenFallback => e.getClass.getSimpleName
        })
      }.flatten
    // the centroid table is data, not plan literals: the assignment
    // expression tree is constant-sized in nLists, so a 256-cell quantizer
    // (past the point where literal trees blow the 64 KB codegen method
    // limit) still evaluates fully codegen'd
    val idx = Similarity.buildIvf(emb, nLists = 256, seed = 7L)
    try {
      val assignPlan = Similarity.assignCells(
        emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")),
        idx.centroids)
      assert(fallbacks(assignPlan).isEmpty,
        s"CodegenFallback in assignment plan: ${fallbacks(assignPlan)}")
      val search = Similarity.searchIvf(idx, emb.filter(col("vec_id") < 4),
        k = 5, nProbe = 8)
      assert(fallbacks(search).isEmpty,
        s"CodegenFallback in probe plan: ${fallbacks(search)}")
      // the index is real at this width: every vector lands in exactly one
      // cell and searches return ranked rows
      assert(idx.assigned.count() == 500)
      assert(search.count() > 0)
    } finally idx.assigned.unpersist()
  }

  test("appendIvf assigns with frozen centroids; only the batch's cells gain files") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 400)
    val batch = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
    val built = Similarity.buildIvf(base, nLists = 8, seed = 42L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    try {
      Similarity.saveIvf(built, dir)
      def filesPerCell: Map[String, Set[String]] =
        new java.io.File(s"$dir/assigned").listFiles()
          .filter(_.getName.startsWith("cell=")).map { d =>
            d.getName -> d.listFiles().map(_.getName).toSet
          }.toMap
      val before = filesPerCell
      Similarity.appendIvf(built, batch, dir)
      val after = filesPerCell
      // cells the batch does not land in keep their exact file set
      val batchCells = Similarity.assignCells(
          batch.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")),
          built.centroids)
        .select("cell").distinct().collect().map(r => s"cell=${r.get(0)}").toSet
      val untouched = before.keySet -- batchCells
      assert(untouched.forall(c => before(c) == after(c)),
        s"files changed outside batch cells $batchCells")
      assert(batchCells.forall(c => after.getOrElse(c, Set()).size > before.getOrElse(c, Set()).size),
        "every batch cell must gain at least one file")
      // append + load ≡ fresh assignment of the union under the same
      // centroids (assignment is a pure per-row function of the centroids)
      val loaded = Similarity.loadIvf(spark, dir)
      val viaAppend = loaded.assigned
        .select("nbr_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      val fresh = Similarity.assignCells(
          base.unionByName(batch)
            .select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")),
          built.centroids)
        .select("nbr_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(viaAppend == fresh)
    } finally {
      built.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("retrainIvf: drift collapses pruning into one mega-cell; refresh restores selectivity at equal recall") {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") < 200)
    // off-distribution drift: three wide clouds far from the base cloud
    // (x4 spread, +2/+3/+4 offsets) — the corpus a frontier keeps appending
    // after the domain shifts. ~4.5x the base mass.
    val drifted = Seq(2.0, 3.0, 4.0).zipWithIndex.map { case (off, j) =>
      emb.filter(col("vec_id") >= 200).select(
        (col("vec_id") + lit(1000L * (j + 1))).as("vec_id"),
        transform(col("embedding"), x => x * lit(4.0f) + lit(off.toFloat))
          .as("embedding"))
    }.reduce(_ unionByName _)
    val merged = base.unionByName(drifted)
    val queries = drifted.filter(col("vec_id") % 100 === 7).limit(25)
    val truth = Similarity.bruteForceTopK(merged, queries, k = 10)
      .select("query_id", "nbr_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(idx: Similarity.IvfIndex, nProbe: Int): Double = {
      val got = Similarity.searchIvf(idx, queries, k = 10, nProbe = nProbe)
        .select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    // candidates a probe of depth nProbe scans, summed over the queries —
    // mirrors probeCells' (dist2 asc, cell asc) order on the driver
    def scanned(idx: Similarity.IvfIndex, nProbe: Int): Long = {
      val sizes = idx.assigned.groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val cents = idx.centroids.collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      queries.select("embedding").collect().map { qr =>
        val q = qr.getSeq[Float](0).map(_.toDouble).toArray
        cents.map { case (c, v) =>
          (v.indices.map(i => (q(i) - v(i)) * (q(i) - v(i))).sum, c)
        }.sortBy(identity).take(nProbe)
          .map { case (_, c) => sizes.getOrElse(c, 0L) }.sum
      }.sum
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rt").toString
    val built = Similarity.buildIvf(base, nLists = 8, seed = 42L)
    try {
      Similarity.saveIvf(built, dir)
      Similarity.appendIvf(built, drifted, dir)
      val stale = Similarity.loadIvf(spark, dir)
      val total = merged.count()
      // frozen centroids: the drifted mass piles into few stale cells, so
      // a 2-of-8 probe reads MOST of the corpus — pruning has collapsed
      // (recall looks fine only because the probe is near-exhaustive)
      val scannedStale = scanned(stale, 2)
      assert(scannedStale > queries.count() * total / 2,
        s"drift must collapse pruning: scanned $scannedStale of $total/query")
      val recallStale = recallAt(stale, 2)
      // refresh: re-train on the stored corpus, re-assign, swap in place
      Similarity.retrainIvf(spark, dir, nLists = 8, seed = 42L)
      val fresh = Similarity.loadIvf(spark, dir)
      // selectivity restored: the same 2-of-8 probe now scans a fraction
      val scannedFresh = scanned(fresh, 2)
      assert(scannedFresh * 2 < scannedStale,
        s"refresh must restore pruning: $scannedStale -> $scannedFresh")
      // at the SCAN BUDGET the stale index was paying (near-exhaustive),
      // the refreshed index recovers at least the stale recall
      assert(recallAt(fresh, 8) >= recallStale - 1e-12,
        "equal-budget recall must not regress after refresh")
      // re-assignment lost nothing: the refreshed index at exhaustive
      // probe equals brute force over the merged corpus row for row
      // (k-means init is partition-order-dependent, so centroid EQUALITY
      // with a from-scratch build is not a contract — search results at
      // full probe depth are)
      val viaRefresh = Similarity.searchIvf(fresh, queries, k = 10,
          nProbe = 8)
        .select("query_id", "rank", "nbr_id").collect().map(_.toSeq).toSet
      val brute = Similarity.bruteForceTopK(merged, queries, k = 10)
        .select("query_id", "rank", "nbr_id").collect().map(_.toSeq).toSet
      assert(viaRefresh == brute)
    } finally {
      built.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("retrainIvf on a quantized index re-cells without re-rounding the stored codes") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 150)
    val batch = emb.filter(col("vec_id") >= 150 && col("vec_id") < 250)
      .select(col("vec_id"),
        transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))
    val built = Similarity.quantizeIvf(
      Similarity.buildIvf(base, nLists = 4, seed = 7L))
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_rtq").toString
    try {
      Similarity.saveIvf(built, dir)
      Similarity.appendIvf(built, batch, dir)
      def codesSet = Similarity.loadIvf(spark, dir).assigned
        .select("nbr_id", "codes", "scale").collect()
        .map(r => (r.getLong(0), r.getSeq[Byte](1),
          r.getAs[Double]("scale"))).toSet
      val beforeCodes = codesSet
      Similarity.retrainIvf(spark, dir, nLists = 4, seed = 7L)
      // every (id, codes, scale) row survives bit-identically; only the
      // cell column moved — no second quantization pass
      assert(codesSet == beforeCodes)
      val loaded = Similarity.loadIvf(spark, dir)
      assert(loaded.assigned.columns.contains("codes"))
      // the refreshed quantized index still searches: exhaustive probe
      // equals quantized brute force over what the index stores
      val queries = emb.filter(col("vec_id") < 3)
      val stored = loaded.assigned.select(col("nbr_id").as("vec_id"),
        graft.functions.VectorFunctions.dequantizeI8(col("codes"), col("scale"))
          .as("embedding"))
      val viaIdx = Similarity.searchIvf(loaded, queries, k = 5, nProbe = 4)
        .select("query_id", "rank", "nbr_id").collect().map(_.toSeq).toSet
      val brute = Similarity.bruteForceTopK(stored, queries, k = 5)
        .select("query_id", "rank", "nbr_id").collect().map(_.toSeq).toSet
      assert(viaIdx == brute)
    } finally {
      built.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("quantized IVF at nProbe=nLists equals quantized brute force; recall holds at nProbe=4") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val built = Similarity.buildIvf(emb, nLists = 16, seed = 42L)
    val idx = Similarity.quantizeIvf(built)
    try {
      assert(idx.assigned.columns.toSet == Set("nbr_id", "codes", "scale", "cell"))
      val full = Similarity.searchIvf(idx, queries, k = 10, nProbe = 16)
        .select("query_id", "nbr_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = Similarity.bruteForceTopKQuantized(emb, queries, k = 10)
        .select("query_id", "nbr_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // probing every cell recovers quantized brute force bit-for-bit (same
      // dequantize arithmetic, same candidate set, same tie-break)
      assert(full == brute)
      val approx = Similarity.searchIvf(idx, queries, k = 10, nProbe = 4)
        .select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val bruteIds = brute.map(t => (t._1, t._2))
      val recall = (approx intersect bruteIds).size.toDouble / bruteIds.size
      assert(recall >= 0.5, s"quantized-IVF recall too low: $recall")
    } finally built.assigned.unpersist()
  }

  test("two-stage rerank recovers exact ranking once candidates cover the corpus") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val built = Similarity.buildIvf(emb, nLists = 16, seed = 42L)
    val qidx = Similarity.quantizeIvf(built)
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("query_id", "nbr_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    try {
      // candidates = whole corpus (kCandidates = |corpus|, every cell
      // probed): the exact re-rank IS exact brute force, scores included
      val full = ids(Similarity.searchIvfRerank(qidx, emb, queries,
        k = 10, kCandidates = 500, nProbe = 16))
      val exact = ids(Similarity.bruteForceTopK(emb, queries, k = 10))
      assert(full == exact)
      // narrow candidates: re-ranking quantized top-20 by exact cosine
      // must not lose recall vs serving the quantized ranking directly
      def recall(got: Set[(Long, Long)]): Double = {
        val want = exact.map(t => (t._1, t._2))
        (got intersect want).size.toDouble / want.size
      }
      val rr = ids(Similarity.searchIvfRerank(qidx, emb, queries,
        k = 10, kCandidates = 20, nProbe = 16)).map(t => (t._1, t._2))
      val quant = ids(Similarity.bruteForceTopKQuantized(emb, queries, k = 10))
        .map(t => (t._1, t._2))
      assert(recall(rr) >= recall(quant))
      assert(recall(rr) >= 0.9, s"rerank recall ${recall(rr)}")
    } finally built.assigned.unpersist()
  }

  test("quantized index rides save/load/append in its codes shape") {
    val emb = Tables.embeddings(spark, sf)
    val base = emb.filter(col("vec_id") < 450)
    val batch = emb.filter(col("vec_id") >= 450 && col("vec_id") < 470)
    val built = Similarity.buildIvf(base, nLists = 8, seed = 42L)
    val qidx = Similarity.quantizeIvf(built)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_q").toString
    try {
      Similarity.saveIvf(qidx, dir)
      Similarity.appendIvf(qidx, batch, dir)
      val loaded = Similarity.loadIvf(spark, dir)
      // the stored layout stays homogeneous int8: codes + scale, no raw vecs
      assert(loaded.assigned.columns.toSet == Set("nbr_id", "codes", "scale", "cell"))
      // loaded quantized search == in-memory quantized search over the union
      val queries = emb.filter(col("vec_id") < 4)
      val fresh = Similarity.quantizeIvf(
        Similarity.IvfIndex(
          Similarity.assignCells(
            base.unionByName(batch)
              .select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")),
            built.centroids),
          built.centroids))
      val a = Similarity.searchIvf(loaded, queries, k = 5, nProbe = 8)
        .select("query_id", "nbr_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val b = Similarity.searchIvf(fresh, queries, k = 5, nProbe = 8)
        .select("query_id", "nbr_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(a == b && a.nonEmpty)
    } finally {
      built.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("hyperplane sign buckets stay balanced on the sf0.01 embeddings") {
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, sf)
    val counts = emb
      .select(VectorFunctions.hyperplaneBucket(col("embedding"), 6, 64).as("b"))
      .groupBy("b").count()
      .collect().map(_.getLong(1))
    val total = counts.sum
    assert(total == 500)
    // 64 buckets over 500 rows (uniform ≈ 7.8/bucket): the worst bucket must
    // stay a small fraction of the corpus — the property the bucket-local
    // pair join's cost model depends on (measured max is 22 = 4.4%)
    assert(counts.max <= total * 6 / 100,
      s"worst bucket holds ${counts.max} of $total rows")
    assert(counts.length >= 48, s"only ${counts.length} buckets occupied")
  }

  test("filtered ANN pre-filters: every hit passes the predicate, no starvation below k") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val index = Similarity.buildIvf(emb, nLists = 8)
    try {
      val out = Similarity.searchIvfFiltered(index,
        emb.select("vec_id", "label"), queries,
        k = 10, nProbe = 8, pred = col("label") === 3)
      val labelOf = emb.select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val rows = out.collect()
      // predicate holds on every returned neighbor
      assert(rows.nonEmpty && rows.forall(r => labelOf(r.getLong(1)) == 3))
      // full probe + selective predicate still fills k per query (label 3
      // holds ~47 of 500 rows >> k) — the post-filter starvation this
      // operator exists to avoid
      val perQ = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
      assert(perQ.values.forall(_ == 10), s"starved: ${perQ.toMap}")
      // equals brute force over the pre-filtered corpus at full probe
      val brute = Similarity.bruteForceTopK(
        emb.filter(col("label") === 3), queries, k = 10)
      val a = out.select("query_id", "nbr_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val b = brute.select("query_id", "nbr_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(a == b)
    } finally index.assigned.unpersist()
  }

  test("top principal component recovers a planted dominant direction") {
    import spark.implicits._
    import graft.operators.Centroids
    // vectors spread widely along e0 (+noise-free small e1 wiggle): the top
    // component must align with dim 0 and carry almost all the variance
    val rows = (0 until 40).map { n =>
      val t = (n - 20).toDouble
      (n.toLong, Seq(t * 10.0, if (n % 2 == 0) 0.5 else -0.5, 0.0, 0.0))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Centroids.topPrincipalComponent(emb, "embedding", dim = 4)
      .orderBy("i").collect()
    assert(out.length == 4)
    val loadings = out.map(_.getAs[Double]("loading"))
    assert(math.abs(math.abs(loadings(0)) - 1.0) < 1e-6,
      s"dim 0 must dominate: ${loadings.toSeq}")
    assert(loadings.drop(1).forall(l => math.abs(l) < 1e-3))
    // unit vector; eigenvalue ~ var of the planted axis; share ~ 1
    val norm = math.sqrt(loadings.map(l => l * l).sum)
    assert(math.abs(norm - 1.0) < 1e-9)
    assert(out.head.getAs[Double]("variance_share") > 0.99)
    // covariance sanity: symmetric storage upper triangle, diag positive
    val cov = Centroids.covarianceUpper(emb, "embedding", dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cov.keys.forall { case (i, j) => i <= j })
    assert(cov((0L, 0L)) > cov((1L, 1L)) && cov((1L, 1L)) > 0.0)
    assert(cov((2L, 2L)) == 0.0 && cov((3L, 3L)) == 0.0)
  }

  test("all-but-the-top kills the planted dominant direction") {
    import spark.implicits._
    import graft.operators.Centroids
    val rows = (0 until 40).map { n =>
      val t = (n - 20).toDouble
      (n.toLong, Seq(t * 10.0 + 3.0, if (n % 2 == 0) 0.5 else -0.5,
        t * 0.1, 0.0))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val before = Centroids.topPrincipalComponent(emb, "embedding", dim = 4)
      .head().getAs[Double]("variance_share")
    val processed = Centroids.removeTopComponent(emb, "vec_id", "embedding", dim = 4)
    val after = Centroids.topPrincipalComponent(processed, "embedding", dim = 4)
      .head().getAs[Double]("variance_share")
    assert(before > 0.99, s"planted direction must dominate before: $before")
    // post-processing, dim 0's energy is gone: along it everything is ~0
    val dim0 = processed.select(element_at(col("embedding"), 1))
      .collect().map(_.getDouble(0))
    // tolerance reflects the round-9 contract: values up to ~200 on the
    // planted axis leave residue at the 1e-4 absolute scale after the
    // quantized projection
    assert(dim0.forall(x => math.abs(x) < 1e-3), s"dim0 residue: ${dim0.take(3).toSeq}")
    // the new dominant direction carries the REMAINING variance, which is
    // orders of magnitude smaller than the planted axis carried
    assert(after < 1.0 && !after.isNaN)
    // mean removal: per-dim means of the output are ~0
    val means = processed.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(avg("x").as("m")).collect().map(_.getAs[Double]("m"))
    assert(means.forall(m => math.abs(m) < 1e-6))
  }

  test("retrieval eval: hand-computed metrics, undefined-vs-zero edge cases, perfect ranking") {
    import spark.implicits._
    import graft.operators.RetrievalEval
    // q0: relevant {10(rel 2), 11(rel 1), 12(rel 3)}; retrieved 10@1, 99@2, 11@3
    // q1: relevant {20}; retrieved 20@1 (perfect)
    // q2: NO relevant docs; retrieved 30@1
    // q3: relevant {40}; never retrieved
    val ranking = Seq(
      (0L, 10L, 1L), (0L, 99L, 2L), (0L, 11L, 3L),
      (1L, 20L, 1L), (2L, 30L, 1L))
      .toDF("query_id", "nbr_id", "rank")
    val qrels = Seq(
      (0L, 10L, 2.0), (0L, 11L, 1.0), (0L, 12L, 3.0),
      (1L, 20L, 1.0), (3L, 40L, 1.0), (3L, 41L, 0.0)) // rel=0 rows ignored
      .toDF("query_id", "doc_id", "rel")
    val out = RetrievalEval.perQuery(ranking, qrels, k = 10)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    // q0: hits 2/3, first hit rank 1, dcg = 2/log2(2) + 1/log2(4) = 2.5;
    //     idcg = 3/log2(2) + 2/log2(3) + 1/log2(4)
    val idcg0 = 3.0 + BigDecimal(2.0 / (math.log(3) / math.log(2)))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.5
    assert(out(0L).getAs[Long]("n_relevant") == 3 &&
      out(0L).getAs[Long]("n_hits") == 2)
    assert(out(0L).getAs[Double]("recall_at_k") == 2.0 / 3.0)
    assert(out(0L).getAs[Double]("precision_at_k") == 0.2)
    assert(out(0L).getAs[Double]("mrr") == 1.0)
    assert(math.abs(out(0L).getAs[Double]("ndcg_at_k") - 2.5 / idcg0) < 1e-9)
    // q1: perfect single-relevant retrieval -> everything 1 except precision
    assert(out(1L).getAs[Double]("recall_at_k") == 1.0 &&
      out(1L).getAs[Double]("mrr") == 1.0 &&
      out(1L).getAs[Double]("ndcg_at_k") == 1.0)
    // q2: no relevant docs -> recall/ndcg UNDEFINED (null), not zero
    assert(out(2L).isNullAt(out(2L).fieldIndex("recall_at_k")) &&
      out(2L).isNullAt(out(2L).fieldIndex("ndcg_at_k")) &&
      out(2L).getAs[Double]("mrr") == 0.0)
    // q3: relevant but never retrieved -> hard zeros
    assert(out(3L).getAs[Long]("n_retrieved") == 0 &&
      out(3L).getAs[Double]("recall_at_k") == 0.0 &&
      out(3L).getAs[Double]("ndcg_at_k") == 0.0 &&
      out(3L).getAs[Double]("mrr") == 0.0)
    // summary: means over DEFINED metrics only (recall over q0,q1,q3)
    val s = RetrievalEval.summary(RetrievalEval.perQuery(ranking, qrels, k = 10)).head()
    assert(s.getAs[Long]("n_queries") == 4 && s.getAs[Long]("n_evaluable") == 3)
    assert(math.abs(s.getAs[Double]("mean_recall") - (2.0 / 3.0 + 1.0 + 0.0) / 3) < 1e-9)
    assert(s.getAs[Double]("mean_mrr") == 0.5)
    // rank > k rows are ignored: a deeper ranking scores identically
    val deeper = ranking.unionByName(Seq((0L, 12L, 11L)).toDF("query_id", "nbr_id", "rank"))
    val again = RetrievalEval.perQuery(deeper, qrels, k = 10)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_hits")).toMap
    assert(again(0L) == 2)
  }

  test("frame sampling explodes deterministic pseudo-frames per media row") {
    val media = Multimodal.fromText(
      Tables.documents(spark, sf).limit(5), "doc_id", "text", "source", kind = "video")
    val frames = Multimodal.frameSample(media, nFrames = 4)
    assert(frames.count() == 20)
    assert(frames.columns.contains("frame_payload") && !frames.columns.contains("payload"))
    val one = frames.filter(col("frame_no") === 1).select("frame_payload").collect()
    assert(one.forall(_.getAs[Array[Byte]](0).length <= 8))
  }

  test("PPM kernel: decodes a hand-written image, skips comments, flags every malformed shape") {
    import graft.operators.Multimodal.decodePpm
    // 2x2 image, known channel bytes: means r=(10+30+50+70)/4=40,
    // g=(41+61+81+121)/4=76, b=(72+92+112+32)/4=77
    val plane = Array[Int](
      10, 41, 72,  30, 61, 92,
      50, 81, 112, 70, 121, 32).map(_.toByte)
    val ok = decodePpm(1L, "P6\n2 2\n255\n".getBytes("US-ASCII") ++ plane)
    assert(ok.is_valid && ok.width == 2 && ok.height == 2 && ok.maxval == 255)
    assert(ok.mean_r == 40.0 && ok.mean_g == 76.0 && ok.mean_b == 77.0)
    // netpbm comments and mixed whitespace in the header parse identically
    val commented = decodePpm(2L,
      "P6 # a comment\n# another\n 2\t2 #dims\n255\n".getBytes("US-ASCII") ++ plane)
    assert(commented.copy(media_id = 1L) == ok)
    // malformed shapes all fail soft, never throw
    val badShapes = Seq[Array[Byte]](
      null,
      Array[Byte](),
      "P5\n2 2\n255\n".getBytes("US-ASCII") ++ plane,      // wrong magic
      "P6\n2 2\n255\n".getBytes("US-ASCII") ++ plane.take(11), // truncated plane
      "P6\n2 2\n65535\n".getBytes("US-ASCII") ++ plane,    // 2-byte samples
      "P6\n0 2\n255\n".getBytes("US-ASCII") ++ plane,      // zero dim
      "P6\n2 x\n255\n".getBytes("US-ASCII") ++ plane,      // non-numeric
      "P62 2\n255\n".getBytes("US-ASCII") ++ plane)        // missing separator
    badShapes.zipWithIndex.foreach { case (bs, j) =>
      val r = decodePpm(j.toLong, bs)
      assert(!r.is_valid && r.mean_r == 0.0, s"shape $j must fail soft")
    }
  }

  test("encodePpm -> decodePpmFeatures roundtrip recovers dims and channel means") {
    // filter, not limit: limit's single-partition collapse is an Exchange,
    // which would trip the shuffle-free plan assertion below
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val media = Multimodal.encodePpm(
      Multimodal.fromText(docs, "doc_id", "text", "source"))
    // the encoded payloads are REAL PPMs: every one decodes valid
    val out = Multimodal.decodePpmFeatures(media).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Boolean]("is_valid")))
    assert(out.forall(_.getAs[Int]("width") == 4))
    // height and means match an independent jvm-side re-derivation
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val bytes = texts(r.getAs[Long]("media_id")).getBytes("UTF-8")
      val h = math.max(1, bytes.length / 12)
      assert(r.getAs[Int]("height") == h)
      val px = bytes.padTo(h * 12, 0: Byte).take(h * 12)
      def mean(c: Int) =
        px.indices.filter(_ % 3 == c).map(i => (px(i) & 0xff).toLong).sum
          .toDouble / (h * 4)
      assert(r.getAs[Double]("mean_r") == mean(0) &&
        r.getAs[Double]("mean_g") == mean(1) &&
        r.getAs[Double]("mean_b") == mean(2))
    }
    // meta describes the new payload, and the plan stays shuffle-free
    val m = media.select("meta.byte_len", "payload").head()
    assert(m.getLong(0) == m.getAs[Array[Byte]](1).length)
    val plan = Multimodal.decodePpmFeatures(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
  }

  test("WAV kernel: decodes a hand-built clip, walks stranger chunks, flags malformed forms") {
    import graft.operators.Multimodal.decodeWav
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def fmt(audioFormat: Int = 1, channels: Int = 1, rate: Int = 8000,
            bits: Int = 16): Array[Byte] =
      "fmt ".getBytes ++ le(16, 4) ++ le(audioFormat, 2) ++ le(channels, 2) ++
        le(rate, 4) ++ le(rate * channels * bits / 8, 4) ++
        le(channels * bits / 8, 2) ++ le(bits, 2)
    def wav(chunks: Array[Byte]*): Array[Byte] = {
      val body = "WAVE".getBytes ++ chunks.flatten
      "RIFF".getBytes ++ le(body.length.toLong, 4) ++ body
    }
    // samples 100, -200, 0, 300: sumAbs=600, sumSq=140000, peak=300, zc=2
    // (+,-) then (-,+ via 0 counted non-negative); rms=sqrt(35000)
    val samples = Seq(100, -200, 0, 300)
      .flatMap(s => le(s.toLong & 0xffffL, 2)).toArray
    val data = "data".getBytes ++ le(samples.length.toLong, 4) ++ samples
    val ok = decodeWav(1L, wav(fmt(), data))
    assert(ok.is_valid && ok.sample_rate == 8000 && ok.n_samples == 4L)
    assert(ok.mean_abs == 150.0 && ok.peak == 300 && ok.zero_crossings == 2L)
    assert(ok.rms == math.sqrt(35000.0) && ok.duration_s == 4.0 / 8000)
    // a stranger chunk (odd size -> one pad byte) before fmt parses the same
    val stranger = "LIST".getBytes ++ le(3, 4) ++ Array[Byte](1, 2, 3, 0)
    assert(decodeWav(2L, wav(stranger, fmt(), data)).copy(media_id = 1L) == ok)
    // zero-length data chunk: valid, empty stats
    val empty = decodeWav(3L, wav(fmt(), "data".getBytes ++ le(0, 4)))
    assert(empty.is_valid && empty.n_samples == 0L && empty.rms == 0.0)
    // malformed / out-of-scope forms all fail soft, never throw
    val badForms = Seq[Array[Byte]](
      null,
      Array[Byte](),
      "RIFX".getBytes ++ le(4, 4) ++ "WAVE".getBytes,          // wrong magic
      "RIFF".getBytes ++ le(4, 4) ++ "AVI ".getBytes,          // wrong form
      wav(fmt(), "data".getBytes ++ le(64, 4) ++ samples),     // size overruns
      wav(fmt()),                                              // no data chunk
      wav(data),                                               // no fmt chunk
      wav(fmt(channels = 2), data),                            // stereo
      wav(fmt(bits = 8), data),                                // 8-bit
      wav(fmt(audioFormat = 3), data))                         // float PCM
    badForms.zipWithIndex.foreach { case (bs, j) =>
      val r = decodeWav(j.toLong, bs)
      assert(!r.is_valid && r.rms == 0.0, s"form $j must fail soft")
    }
  }

  test("encodeWav -> decodeWavFeatures roundtrip matches a jvm-side re-derivation") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val media = Multimodal.encodeWav(
      Multimodal.fromText(docs, "doc_id", "text", "source"))
    val out = Multimodal.decodeWavFeatures(media).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Boolean]("is_valid")))
    assert(out.forall(_.getAs[Int]("sample_rate") == 8000))
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val bytes = texts(r.getAs[Long]("media_id")).getBytes("UTF-8")
      val n = math.max(1, bytes.length / 2)
      val padded = bytes.padTo(2 * n, 0: Byte)
      val ss = (0 until n).map { k =>
        val v = (padded(2 * k) & 0xff) | ((padded(2 * k + 1) & 0xff) << 8)
        if (v >= 0x8000) v - 0x10000 else v
      }
      assert(r.getAs[Long]("n_samples") == n.toLong)
      assert(r.getAs[Double]("mean_abs") ==
        ss.map(s => math.abs(s).toLong).sum.toDouble / n)
      assert(r.getAs[Double]("rms") ==
        math.sqrt(ss.map(s => s.toLong * s).sum.toDouble / n))
      assert(r.getAs[Int]("peak") == ss.map(math.abs).max)
      assert(r.getAs[Long]("zero_crossings") ==
        ss.sliding(2).count(p => p.length == 2 && (p(0) < 0) != (p(1) < 0)))
    }
    // meta describes the wrapped payload; the kernel plan stays shuffle-free
    val m = media.select("meta.byte_len", "payload", "kind").head()
    assert(m.getLong(0) == m.getAs[Array[Byte]](1).length)
    assert(m.getString(2) == "audio")
    val plan = Multimodal.decodeWavFeatures(media)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
  }

  test("Y4M kernel: decodes a hand-built stream, tolerates tag order and frame params, flags malformed shapes") {
    import graft.operators.Multimodal.decodeY4m
    def hdr(s: String) = s.getBytes("US-ASCII")
    // mono 2x2: three frames of known luma; means 10, 20, 130
    val f0 = Array[Int](0, 10, 20, 10).map(_.toByte)
    val f1 = Array[Int](20, 20, 20, 20).map(_.toByte)
    val f2 = Array[Int](255, 0, 255, 10).map(_.toByte)
    val stream = hdr("YUV4MPEG2 W2 H2 F30:1 Cmono\n") ++
      hdr("FRAME\n") ++ f0 ++ hdr("FRAME\n") ++ f1 ++ hdr("FRAME\n") ++ f2
    val all = decodeY4m(1L, stream, every = 1)
    assert(all.map(_.frame_no) == Seq(0, 1, 2))
    assert(all.forall(f => f.is_valid && f.width == 2 && f.height == 2 &&
      f.colorspace == "mono"))
    assert(all.map(_.mean_y) == Seq(10.0, 20.0, 130.0))
    assert(all.map(_.min_y) == Seq(0, 20, 0) && all.map(_.max_y) == Seq(20, 20, 255))
    // sampling stride keeps original frame numbers and skips the rest
    assert(decodeY4m(1L, stream, every = 2).map(_.frame_no) == Seq(0, 2))
    // tag order is free; unknown X tags and FRAME params are skipped; a
    // C444 frame carries 3 planes (luma stats read the first)
    val s444 = hdr("YUV4MPEG2 C444 H2 Xy4m-spec W2 A1:1\n") ++
      hdr("FRAME Ip\n") ++ f0 ++ f1 ++ f2
    val c444 = decodeY4m(2L, s444, every = 1)
    assert(c444.map(f => (f.frame_no, f.colorspace, f.mean_y)) == Seq((0, "444", 10.0)))
    // default colorspace is 4:2:0: 2x2 frame = 4 + 2*1 = 6 bytes
    val s420 = hdr("YUV4MPEG2 W2 H2\n") ++ hdr("FRAME\n") ++ f1 ++ Array[Byte](7, 9)
    assert(decodeY4m(3L, s420, every = 1)
      .map(f => (f.colorspace, f.mean_y)) == Seq(("420", 20.0)))
    // a truncated tail frame ends the walk; parsed frames keep their rows
    val truncated = decodeY4m(4L, stream.dropRight(1), every = 1)
    assert(truncated.map(_.frame_no) == Seq(0, 1))
    // malformed containers all fail soft as ONE invalid row, never throw
    val badShapes = Seq[Array[Byte]](
      null,
      Array[Byte](),
      hdr("JUV4MPEG2 W2 H2 Cmono\n") ++ hdr("FRAME\n") ++ f0, // wrong magic
      hdr("YUV4MPEG2 W2 Cmono\n") ++ hdr("FRAME\n") ++ f0,    // missing H
      hdr("YUV4MPEG2 W2 Hx Cmono\n") ++ hdr("FRAME\n") ++ f0, // non-numeric
      hdr("YUV4MPEG2 W2 H2 Crgb\n") ++ hdr("FRAME\n") ++ f0,  // unknown C
      hdr("YUV4MPEG2 W2 H2 Cmono"))                           // no header \n
    badShapes.zipWithIndex.foreach { case (bs, j) =>
      val r = decodeY4m(j.toLong, bs, every = 1)
      assert(r.map(f => (f.frame_no, f.is_valid, f.mean_y)) ==
        Seq((-1, false, 0.0)), s"shape $j must fail soft")
    }
  }

  test("encodeY4m -> decodeY4mFrames roundtrip matches a jvm-side re-derivation") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 20)
    val media = Multimodal.encodeY4m(
      Multimodal.fromText(docs, "doc_id", "text", "source"))
    val out = Multimodal.decodeY4mFrames(media, every = 2).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Boolean]("is_valid")))
    assert(out.forall(r => r.getAs[Int]("width") == 4 &&
      r.getAs[Int]("height") == 4 && r.getAs[String]("colorspace") == "mono"))
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = out.groupBy(_.getAs[Long]("media_id"))
    assert(byDoc.keySet == texts.keySet)
    byDoc.foreach { case (id, rows) =>
      val bytes = texts(id).getBytes("UTF-8")
      val nf = math.max(1, bytes.length / 16)
      val plane = bytes.padTo(16, 0: Byte)
      val want = (0 until nf).filter(_ % 2 == 0).map { k =>
        val ys = (0 until 16).map(j => plane(k * 16 + j) & 0xff)
        (k, ys.sum.toDouble / 16, ys.min, ys.max)
      }
      val got = rows.sortBy(_.getAs[Int]("frame_no")).map { r =>
        (r.getAs[Int]("frame_no"), r.getAs[Double]("mean_y"),
          r.getAs[Int]("min_y"), r.getAs[Int]("max_y"))
      }.toSeq
      assert(got == want, s"doc $id")
    }
    // meta describes the wrapped payload; the kernel plan stays shuffle-free
    val m = media.select("meta.byte_len", "payload", "kind").head()
    assert(m.getLong(0) == m.getAs[Array[Byte]](1).length)
    assert(m.getString(2) == "video")
    val plan = Multimodal.decodeY4mFrames(media, every = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"decode must not shuffle:\n$plan")
  }

  test("decode staging column never clobbers a caller column of the same name") {
    val media = Multimodal.fromText(
        Tables.documents(spark, sf).limit(3), "doc_id", "text", "source")
      .withColumn("__graft_bytes_0", lit(42))
    val out = Multimodal.fakeDecodeFeatures(media)
    assert(out.columns.contains("__graft_bytes_0"))
    assert(out.select("__graft_bytes_0").collect().forall(_.getInt(0) == 42))
    // features identical to the collision-free path
    val plain = Multimodal.fakeDecodeFeatures(media.drop("__graft_bytes_0"))
    assert(out.select("media_id", "features").collect().toSeq ==
      plain.select("media_id", "features").collect().toSeq)
  }

  test("resizePpmImage: exact box means, half-up rounding, uneven boxes, clamps") {
    import graft.operators.Multimodal.resizePpmImage
    // 4x4, channel value = 16*y + x for r, +100 for g, +200 for b (mod 256)
    def px(y: Int, x: Int) = Array((16 * y + x), (16 * y + x + 100), (16 * y + x + 200))
    val plane44 = (for (y <- 0 until 4; x <- 0 until 4; v <- px(y, x))
      yield (v % 256).toByte).toArray
    val img44 = "P6\n4 4\n255\n".getBytes("US-ASCII") ++ plane44
    val out = resizePpmImage(img44, 2, 2).get
    assert(new String(out.take(11), "US-ASCII") == "P6\n2 2\n255\n")
    // box (0,0) = pixels (0,0)(0,1)(1,0)(1,1): r mean = (0+1+16+17)/4 = 8.5 -> 9
    val p = out.drop(11).map(_ & 0xff)
    assert(p(0) == 9 && p(1) == 109 && p(2) == 209)   // half-up at .5
    // box (1,1) = pixels (2,2)(2,3)(3,2)(3,3): r mean = (34+35+50+51)/4 = 42.5 -> 43
    assert(p(9) == 43 && p(10) == 143 && p(11) == 243)
    // 4x3 -> 2x2: uneven y-boxes [0,1) and [1,3) (floor-division spans)
    val plane43 = (for (y <- 0 until 3; x <- 0 until 4; v <- px(y, x))
      yield (v % 256).toByte).toArray
    val img43 = "P6\n4 3\n255\n".getBytes("US-ASCII") ++ plane43
    val p43 = resizePpmImage(img43, 2, 2).get.drop(11).map(_ & 0xff)
    assert(p43(0) == 1)                  // rows [0,1): (0+1)/2 = 0.5 -> 1
    assert(p43(6) == 25)                 // rows [1,3): (16+17+32+33)/4 = 24.5 -> 25
    // upsample clamps to source dims: 4x4 at target 8x8 stays 4x4 unchanged
    val same = resizePpmImage(img44, 8, 8).get
    assert(same.sameElements(img44))
    // malformed input is None (caller passes the payload through)
    assert(resizePpmImage("P5\nx".getBytes("US-ASCII"), 2, 2).isEmpty)
    assert(resizePpmImage(null, 2, 2).isEmpty)
  }

  test("resizePpm: resampled payload round-trips decode; meta refreshed; fail-soft") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 10)
    val media = Multimodal.encodePpm(
      Multimodal.fromText(docs, "doc_id", "text", "source"))
    val resized = Multimodal.resizePpm(media, 2, 2)
    // meta describes the NEW payload bit-for-bit (sha matches Spark's sha2)
    val metaOk = resized.select(col("media_id"),
        (col("meta.byte_len") === length(col("payload")).cast("long")).as("len_ok"),
        (col("meta.sha256") === sha2(col("payload"), 256)).as("sha_ok"))
      .collect()
    assert(metaOk.nonEmpty && metaOk.forall(r => r.getBoolean(1) && r.getBoolean(2)))
    val feats = Multimodal.decodePpmFeatures(resized).collect()
    assert(feats.forall(_.getAs[Boolean]("is_valid")))
    assert(feats.forall(r => r.getAs[Int]("width") == 2 &&
      r.getAs[Int]("height") <= 2))
    // the encode -> resize -> decode chain is scan-stage end to end
    val plan = Multimodal.decodePpmFeatures(Multimodal.resizePpm(media, 2, 2))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"resize chain must not shuffle:\n$plan")
    // a non-PPM payload passes through unchanged (fail-soft), meta refreshed
    val raw = Multimodal.fromText(docs.limit(2), "doc_id", "text", "source")
    val thr = Multimodal.resizePpm(raw, 2, 2)
      .select(col("media_id"), col("payload").as("out_payload"))
      .join(raw.select(col("media_id"), col("payload")), Seq("media_id"))
      .select((col("out_payload") === col("payload")).as("same"))
      .collect()
    assert(thr.nonEmpty && thr.forall(_.getBoolean(0)))
  }

  test("QOI kernel: every op class round-trips losslessly; strict on malformed streams") {
    import Multimodal.{qoiEncode, qoiDecode}
    def rt(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val enc = qoiEncode(px, w, h)
      val dec = qoiDecode(enc)
      assert(dec.nonEmpty, "decode failed")
      val (dw, dh, c, out) = dec.get
      assert((dw, dh, c) == ((w, h, 3)))
      assert(out.toSeq == px.toSeq, "round trip must be lossless")
      enc
    }
    // RUN (incl. the 62-pixel cap): 160 identical pixels compress hard
    val flat = Array.fill[Byte](4 * 40 * 3)(7: Byte)
    val encFlat = rt(flat, 4, 40)
    assert(encFlat.length < 4 * 40 * 3 / 10,
      s"run-only image must compress: ${encFlat.length} bytes")
    // DIFF: +1 on every channel per pixel stays in the 2-bit delta window
    rt(Array.tabulate[Byte](4 * 3 * 3)(i => ((i / 3) & 0xff).toByte), 4, 3)
    // LUMA: +10 per pixel on all channels (dg=10, dr-dg=db-dg=0)
    rt(Array.tabulate[Byte](4 * 2 * 3)(i => ((i / 3) * 10 % 250).toByte), 4, 2)
    // RGB then INDEX: two alternating distant colors
    rt(Array.tabulate[Byte](4 * 4 * 3)(
      i => if ((i / 3) % 2 == 0) 10: Byte else 200.toByte), 4, 4)
    // seeded random planes: mostly RGB ops (QOI may EXPAND on noise —
    // lossless is the contract, compression is content-dependent)
    val rnd = new scala.util.Random(11)
    (1 to 20).foreach { _ =>
      val h = 1 + rnd.nextInt(9)
      rt(Array.fill[Byte](4 * h * 3)(rnd.nextInt(256).toByte), 4, h)
    }
    // strictness: every malformed shape is None, never a throw
    val good = qoiEncode(flat, 4, 40)
    assert(qoiDecode(null).isEmpty)
    assert(qoiDecode(good.take(10)).isEmpty)          // truncated header
    assert(qoiDecode(good.dropRight(1)).isEmpty)      // truncated marker
    assert(qoiDecode(good ++ Array[Byte](0)).isEmpty) // trailing garbage
    val badMagic = good.clone(); badMagic(0) = 'x'.toByte
    assert(qoiDecode(badMagic).isEmpty)
    val badMarker = good.clone(); badMarker(badMarker.length - 1) = 2
    assert(qoiDecode(badMarker).isEmpty)
    // dims claiming more pixels than the op stream provides
    val tallDims = good.clone(); tallDims(11) = (tallDims(11) + 1).toByte
    assert(qoiDecode(tallDims).isEmpty)
  }

  test("encodeQoi -> decodeQoiFeatures equals the PPM kernel on the same pixels") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
    val media = Multimodal.fromText(docs, "doc_id", "text", "source")
    val cols = Seq("media_id", "width", "height", "mean_r", "mean_g",
      "mean_b", "is_valid")
    // the compressed codec is lossless, so its decoded features must be
    // bit-identical to the uncompressed kernel's on the same construction
    val qoi = Multimodal.decodeQoiFeatures(Multimodal.encodeQoi(media))
      .select(cols.head, cols.tail: _*).orderBy("media_id").collect().toSeq
    val ppm = Multimodal.decodePpmFeatures(Multimodal.encodePpm(media))
      .select(cols.head, cols.tail: _*).orderBy("media_id").collect().toSeq
    assert(qoi == ppm)
    assert(qoi.nonEmpty && qoi.forall(_.getAs[Boolean]("is_valid")))
    // meta describes the compressed payload bit-for-bit
    val enc = Multimodal.encodeQoi(media)
    val metaOk = enc.select(
        (col("meta.byte_len") === length(col("payload")).cast("long")).as("l"),
        (col("meta.sha256") === sha2(col("payload"), 256)).as("s")).collect()
    assert(metaOk.nonEmpty && metaOk.forall(r => r.getBoolean(0) && r.getBoolean(1)))
    // encode -> decode is scan-stage end to end
    val plan = Multimodal.decodeQoiFeatures(Multimodal.encodeQoi(media))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"qoi chain must not shuffle:\n$plan")
    // a raw non-QOI payload flags invalid instead of throwing
    val invalid = Multimodal.decodeQoiFeatures(media).collect()
    assert(invalid.forall(r => !r.getAs[Boolean]("is_valid")))
  }

  test("PNG kernel: all five filter types reconstruct; RGBA; strict on malformed forms") {
    import Multimodal.{pngDecode, pngEncode}
    def be32(v: Int): Array[Byte] = Array(
      ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
      ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      be32(data.length) ++ tb ++ data ++ be32(crc.getValue.toInt)
    }
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    // hand-build a PNG whose scanlines use a CHOSEN filter per row by
    // forward-filtering a known plane — decode must invert every type
    def buildPng(px: Array[Byte], w: Int, h: Int, bpp: Int,
                 filters: Seq[Int]): Array[Byte] = {
      val stride = w * bpp
      val raw = new Array[Byte]((stride + 1) * h)
      def paeth(a: Int, b: Int, c: Int): Int = {
        val p = a + b - c
        val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      for (y <- 0 until h) {
        val f = filters(y % filters.length)
        raw(y * (stride + 1)) = f.toByte
        for (x <- 0 until stride) {
          val v = px(y * stride + x) & 0xff
          val a = if (x >= bpp) px(y * stride + x - bpp) & 0xff else 0
          val b = if (y > 0) px((y - 1) * stride + x) & 0xff else 0
          val c = if (x >= bpp && y > 0) px((y - 1) * stride + x - bpp) & 0xff else 0
          val filt = f match {
            case 0 => v
            case 1 => v - a
            case 2 => v - b
            case 3 => v - ((a + b) >> 1)
            case 4 => v - paeth(a, b, c)
          }
          raw(y * (stride + 1) + 1 + x) = (filt & 0xff).toByte
        }
      }
      val colorType = if (bpp == 3) 2 else 6
      sig ++ chunk("IHDR", be32(w) ++ be32(h) ++
        Array[Byte](8, colorType.toByte, 0, 0, 0)) ++
        chunk("IDAT", deflate(raw)) ++ chunk("IEND", Array.empty[Byte])
    }
    val rnd = new scala.util.Random(7)
    // RGB: every filter type exercised over rows of a random plane
    val px6 = Array.fill[Byte](5 * 6 * 3)(rnd.nextInt(256).toByte)
    val decoded = pngDecode(buildPng(px6, 5, 6, 3, Seq(0, 1, 2, 3, 4, 4)))
    assert(decoded.nonEmpty)
    assert(decoded.get._1 == 5 && decoded.get._2 == 6 && decoded.get._3 == 3)
    assert(decoded.get._4.toSeq == px6.toSeq,
      "filter reconstruction must be exact for all five types")
    // RGBA: filters act on 4 channels; the returned plane drops alpha
    val px4 = Array.fill[Byte](3 * 4 * 4)(rnd.nextInt(256).toByte)
    val dec4 = pngDecode(buildPng(px4, 3, 4, 4, Seq(4, 3, 2, 1)))
    assert(dec4.nonEmpty && dec4.get._3 == 4)
    val rgbOnly = (0 until 12).flatMap(p => px4.slice(p * 4, p * 4 + 3))
    assert(dec4.get._4.toSeq == rgbOnly)
    // multi-IDAT streams concatenate (split the zlib stream mid-way)
    val z = deflate({
      val stride = 4 * 3
      val raw = new Array[Byte]((stride + 1) * 2)
      for (y <- 0 until 2; x <- 0 until stride)
        raw(y * (stride + 1) + 1 + x) = px6(y * stride + x)
      raw
    })
    val (z1, z2) = z.splitAt(z.length / 2)
    val multi = sig ++ chunk("IHDR", be32(4) ++ be32(2) ++
      Array[Byte](8, 2, 0, 0, 0)) ++ chunk("IDAT", z1) ++
      chunk("IDAT", z2) ++ chunk("IEND", Array.empty[Byte])
    assert(pngDecode(multi).exists(_._4.toSeq == px6.take(24).toSeq))
    // ancillary chunks are walked over (CRC still checked)
    val withText = sig ++ chunk("IHDR", be32(4) ++ be32(2) ++
      Array[Byte](8, 2, 0, 0, 0)) ++
      chunk("tEXt", "k v".getBytes("US-ASCII")) ++
      chunk("IDAT", z) ++ chunk("IEND", Array.empty[Byte])
    assert(pngDecode(withText).nonEmpty)
    // the engine's own encoder round-trips
    val enc = pngEncode(px6, 5, 6)
    assert(pngDecode(enc).exists(_._4.toSeq == px6.toSeq))
    // strictness: every malformed form is None, never a throw
    assert(pngDecode(null).isEmpty)
    assert(pngDecode(enc.take(30)).isEmpty)            // truncated chunks
    assert(pngDecode(enc ++ Array[Byte](0)).isEmpty)   // trailing bytes
    val badSig = enc.clone(); badSig(0) = 'x'.toByte
    assert(pngDecode(badSig).isEmpty)
    val badCrc = enc.clone(); badCrc(badCrc.length - 1) =
      (badCrc(badCrc.length - 1) ^ 1).toByte
    assert(pngDecode(badCrc).isEmpty)                  // IEND CRC flipped
    // unsupported IHDR forms fail soft with VALID chunk CRCs, so the
    // header validation itself is what rejects them
    def ihdrVariant(depth: Int, colorType: Int, interlace: Int) =
      sig ++ chunk("IHDR", be32(5) ++ be32(6) ++
        Array[Byte](depth.toByte, colorType.toByte, 0, 0, interlace.toByte)) ++
        chunk("IDAT", deflate(new Array[Byte]((5 * 3 + 1) * 6))) ++
        chunk("IEND", Array.empty[Byte])
    assert(pngDecode(ihdrVariant(8, 3, 0)).isEmpty)  // palette
    assert(pngDecode(ihdrVariant(16, 2, 0)).isEmpty) // 16-bit samples
    assert(pngDecode(ihdrVariant(8, 2, 1)).isEmpty)  // Adam7 interlace
    // a stream that inflates SHORT of the pixel data
    val short = sig ++ chunk("IHDR", be32(5) ++ be32(6) ++
      Array[Byte](8, 2, 0, 0, 0)) ++ chunk("IDAT", z) ++
      chunk("IEND", Array.empty[Byte])
    assert(pngDecode(short).isEmpty)
  }

  test("encodePng -> decodePngFeatures equals the PPM kernel; raster kernels accept PNG") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 40)
    val media = Multimodal.fromText(docs, "doc_id", "text", "source")
    val cols = Seq("media_id", "width", "height", "mean_r", "mean_g",
      "mean_b", "is_valid")
    // PNG is lossless: decoded features must be bit-identical to the
    // uncompressed kernel's on the same pixel construction
    val png = Multimodal.decodePngFeatures(Multimodal.encodePng(media))
      .select(cols.head, cols.tail: _*).orderBy("media_id").collect().toSeq
    val ppm = Multimodal.decodePpmFeatures(Multimodal.encodePpm(media))
      .select(cols.head, cols.tail: _*).orderBy("media_id").collect().toSeq
    assert(png == ppm)
    assert(png.nonEmpty && png.forall(_.getAs[Boolean]("is_valid")))
    // aHash over the PNG corpus equals aHash over the PPM corpus: the
    // shared rasterView makes the fingerprint container-independent
    val hashCols = Seq("media_id", "ahash", "n_bits", "is_valid")
    val hPng = Multimodal.aHashFeatures(Multimodal.encodePng(media), grid = 4)
      .select(hashCols.head, hashCols.tail: _*).orderBy("media_id").collect().toSeq
    val hPpm = Multimodal.aHashFeatures(Multimodal.encodePpm(media), grid = 4)
      .select(hashCols.head, hashCols.tail: _*).orderBy("media_id").collect().toSeq
    assert(hPng == hPpm)
    // resize preserves the container: a resized PNG is still a PNG, and
    // its decoded plane equals the resized PPM corpus' plane
    val rPng = Multimodal.resizePpm(Multimodal.encodePng(media), 4, 4)
    val first = rPng.orderBy("media_id").select("payload").head()
      .getAs[Array[Byte]](0)
    assert((first(0) & 0xff) == 0x89 && first(1) == 'P'.toByte)
    val fPng = Multimodal.decodePngFeatures(rPng)
      .select(cols.head, cols.tail: _*).orderBy("media_id").collect().toSeq
    val fPpm = Multimodal.decodePpmFeatures(
        Multimodal.resizePpm(Multimodal.encodePpm(media), 4, 4))
      .select(cols.head, cols.tail: _*).orderBy("media_id").collect().toSeq
    assert(fPng == fPpm)
    // meta describes the compressed payload bit-for-bit
    val enc = Multimodal.encodePng(media)
    val metaOk = enc.select(
        (col("meta.byte_len") === length(col("payload")).cast("long")).as("l"),
        (col("meta.sha256") === sha2(col("payload"), 256)).as("s")).collect()
    assert(metaOk.nonEmpty && metaOk.forall(r => r.getBoolean(0) && r.getBoolean(1)))
    // encode -> decode is scan-stage end to end
    val plan = Multimodal.decodePngFeatures(Multimodal.encodePng(media))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"png chain must not shuffle:\n$plan")
    // a raw non-PNG payload flags invalid instead of throwing
    val invalid = Multimodal.decodePngFeatures(media).collect()
    assert(invalid.forall(r => !r.getAs[Boolean]("is_valid")))
  }

  test("aHash: hand bits, brightness invariance, downscale fixpoint, fail-soft") {
    import spark.implicits._
    // 2x2 image, alternating dark/bright columns
    val px = Array[Byte](10, 10, 10, 100, 100, 100, 10, 10, 10,
      100, 100, 100)
    val ppm = "P6\n2 2\n255\n".getBytes("US-ASCII") ++ px
    val df = Seq((1L, ppm)).toDF("media_id", "payload")
    // lumas 30, 300, 30, 300; tot 660; bit = 4*l > 660: 0,1,0,1 -> 0b0101
    val r = Multimodal.aHashFeatures(df, grid = 2).head()
    assert(r.getAs[Long]("ahash") == 5L)
    assert(r.getAs[Int]("n_bits") == 4 && r.getAs[Boolean]("is_valid"))
    // uniform brightness shift cannot move a bit
    val brighter = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      px.map(b => ((b & 0xff) + 50).toByte)
    val rb = Multimodal.aHashFeatures(
      Seq((1L, brighter)).toDF("media_id", "payload"), grid = 2).head()
    assert(rb.getAs[Long]("ahash") == 5L)
    // corpus-wide: hashing a 4x4 pre-resample equals hashing the original
    val media = Multimodal.encodePpm(Multimodal.fromText(
      Tables.documents(spark, sf).filter(col("doc_id") < 40),
      "doc_id", "text", "source"))
    val direct = Multimodal.aHashFeatures(media, grid = 4)
      .select("media_id", "ahash").collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    val pre = Multimodal.aHashFeatures(Multimodal.resizePpm(media, 4, 4),
        grid = 4)
      .select("media_id", "ahash").collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(direct.nonEmpty && direct == pre)
    // banded pair join == brute-force hamming over the collected hashes
    // (4 bands are COMPLETE for maxHamming <= 3 by pigeonhole)
    val got = Multimodal.aHashPairs(media, grid = 4, maxHamming = 3)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1)) -> r2.getInt(2))
      .toMap
    val want = (for {
      (ia, ha) <- direct.toSeq; (ib, hb) <- direct.toSeq
      if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib) -> d).toMap
    assert(got == want && want.nonEmpty)
    // malformed payloads flag invalid instead of throwing
    val bad = Multimodal.aHashFeatures(
      Seq((9L, "not a ppm".getBytes("US-ASCII"))).toDF("media_id", "payload"))
      .head()
    assert(!bad.getAs[Boolean]("is_valid") && bad.getAs[Long]("ahash") == 0L)
  }

  test("pHash: Q15 DCT table, longhand re-derivation, fixpoint, fail-soft") {
    import spark.implicits._
    // hand values of the Q15 DCT-II table: C[t][0] = 32768 for every t;
    // C[0][1] = round(32768·cos(π/32)) = 32610, antisymmetric partner
    // C[15][1] = −32610; C[0][8] = round(32768·cos(π/4)) = 23170;
    // C[3][4] = −30274; C[2][2] = 18205
    val C = Multimodal.dctCosQ15
    assert((0 until 16).forall(t => C(t)(0) == 32768L))
    assert(C(0)(1) == 32610L && C(15)(1) == -32610L)
    assert(C(0)(8) == 23170L && C(3)(4) == -30274L && C(2)(2) == 18205L)
    // longhand re-derivation on a crafted 4x20 gradient+stripe image:
    // independently resample, pad, DCT (cos recomputed from the formula),
    // median, pack — must equal the kernel bit for bit
    val w = 4; val h = 20
    val px = Array.tabulate(w * h * 3)(i => ((i / 3 / w) * 12 +
      (i / 3 % w) * 17 + i % 3 * 5).min(255).toByte)
    val ppm = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
    val row = Multimodal.pHashFeatures(
      Seq((1L, ppm)).toDF("media_id", "payload")).head()
    assert(row.getAs[Boolean]("is_valid"))
    assert(row.getAs[Int]("grid_w") == 4 && row.getAs[Int]("grid_h") == 16)
    val g = Array.ofDim[Long](16, 16)
    (0 until 16).foreach { y =>
      val ys = y * h / 16; val ye = (y + 1) * h / 16
      (0 until w).foreach { x =>
        (0 until 3).foreach { c =>
          var sum = 0L
          (ys until ye).foreach(yy =>
            sum += px((yy * w + x) * 3 + c) & 0xff)
          val cnt = ye - ys
          g(y)(x) += (2 * sum + cnt) / (2 * cnt)
        }
      }
    }
    def cq(t: Int, k: Int): Long =
      math.round(32768.0 * math.cos(math.Pi * (2 * t + 1) * k / 32.0))
    val s = Array.tabulate(8, 8)((v, u) =>
      (0 until 16).map(y =>
        (0 until 16).map(x => g(y)(x) * cq(x, u)).sum * cq(y, v)).sum)
    val ac = (for { v <- 0 until 8; u <- 0 until 8 if v != 0 || u != 0 }
      yield s(v)(u)).sorted
    val med = ac(31)
    var want = 0L
    for { v <- 0 until 8; u <- 0 until 8
          if (v != 0 || u != 0) && s(v)(u) > med }
      want |= 1L << (63 - (8 * v + u))
    assert(row.getAs[Long]("dct_median") == med)
    assert(row.getAs[Long]("phash") == want)
    // strictly-above-median bits: at most 31 of 63; DC bit always 0
    assert(java.lang.Long.bitCount(want) <= 31)
    assert((want & (1L << 63)) == 0L)
    // corpus-wide grid fixpoint: hashing a 16x16 pre-resample equals
    // hashing the original (single-pixel boxes are resampler fixpoints)
    val media = Multimodal.encodePpm(Multimodal.fromText(
      Tables.documents(spark, sf).filter(col("doc_id") < 40),
      "doc_id", "text", "source"))
    val direct = Multimodal.pHashFeatures(media)
      .select("media_id", "phash").collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    val pre = Multimodal.pHashFeatures(Multimodal.resizePpm(media, 16, 16))
      .select("media_id", "phash").collect()
      .map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(direct.nonEmpty && direct == pre)
    // banded pair join == brute-force hamming over the collected hashes
    // (4 bands are COMPLETE at maxHamming <= 3 by pigeonhole); offset-id
    // exact copies guarantee a non-empty pair space
    val both = media.select(col("media_id"), col("payload")).unionByName(
      media.select((col("media_id") + 1000).as("media_id"), col("payload")))
    val gotP = Multimodal.pHashPairs(both, maxHamming = 3).collect()
      .map(r2 => (r2.getLong(0), r2.getLong(1)) -> r2.getInt(2)).toMap
    val hashes = direct ++ direct.map { case (i, h) => (i + 1000L) -> h }
    val wantP = (for { (ia, ha) <- hashes.toSeq; (ib, hb) <- hashes.toSeq
                       if ia < ib
                       dd = java.lang.Long.bitCount(ha ^ hb) if dd <= 3 }
      yield (ia, ib) -> dd).toMap
    assert(gotP == wantP && wantP.nonEmpty)
    // malformed payloads flag invalid instead of throwing
    val bad = Multimodal.pHashFeatures(
      Seq((9L, "not a ppm".getBytes("US-ASCII"))).toDF("media_id", "payload"))
      .head()
    assert(!bad.getAs[Boolean]("is_valid") && bad.getAs[Long]("phash") == 0L)
  }

  test("wavEnvelopeHash: hand-computed bits over crafted PCM, fail-soft") {
    import spark.implicits._
    // samples 0,0,1000,1000,0,0,1000,1000 -> 4 windows of 2 -> means
    // 0,1000,0,1000; tot 2000; bit = 4*m > 2000: 0,1,0,1 -> 0b0101
    val pcm = Array(0, 0, 1000, 1000, 0, 0, 1000, 1000).flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    val raw = Seq((1L, pcm)).toDF("media_id", "payload")
      .withColumn("meta", struct(lit(0L).as("byte_len"),
        lit("").as("sha256"), lit("s").as("source")))
    val r = Multimodal.wavEnvelopeHash(Multimodal.encodeWav(raw),
      windows = 4).head()
    assert(r.getAs[Long]("envhash") == 5L)
    assert(r.getAs[Int]("n_bits") == 4 && r.getAs[Boolean]("is_valid"))
    // fewer samples than windows: boxes shrink to one sample each
    val short = Seq((2L, Array[Byte](0, 0, -24, 3))) // samples 0, 1000
      .toDF("media_id", "payload")
      .withColumn("meta", struct(lit(0L).as("byte_len"),
        lit("").as("sha256"), lit("s").as("source")))
    val r2 = Multimodal.wavEnvelopeHash(Multimodal.encodeWav(short),
      windows = 16).head()
    assert(r2.getAs[Int]("n_bits") == 2 && r2.getAs[Long]("envhash") == 1L)
    // a non-WAV payload flags invalid instead of throwing
    val bad = Multimodal.wavEnvelopeHash(raw, windows = 4).head()
    assert(!bad.getAs[Boolean]("is_valid"))
  }

  test("wavSpectrogram: bin-aligned sines land on their bin; powers track a float DFT") {
    import spark.implicits._
    val N = Multimodal.SpecFrame
    // two frames of a bin-5 sine, one frame of a bin-12 sine: with a Hann
    // window a bin-aligned tone leaks only to the two adjacent bins at a
    // quarter of the center power, so the dominant bin is the tone's
    def sine(bin: Int, amp: Double): Array[Int] =
      Array.tabulate(N)(i => math.round(
        amp * math.sin(2.0 * math.Pi * bin * i / N)).toInt)
    val samples = sine(5, 20000) ++ sine(5, 20000) ++ sine(12, 15000)
    val pcm = samples.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    val raw = Seq((1L, pcm)).toDF("media_id", "payload")
      .withColumn("meta", struct(lit(0L).as("byte_len"),
        lit("").as("sha256"), lit("s").as("source")))
    val cells = Multimodal.wavSpectrogram(Multimodal.encodeWav(raw))
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
    assert(cells.size == 3 * (N / 2 + 1))
    def dominant(f: Int): Int =
      (0 to N / 2).maxBy(b => (cells((f, b)), -b))
    assert(dominant(0) == 5 && dominant(1) == 5 && dominant(2) == 12)
    // frames 0 and 1 carry identical samples -> identical spectra
    assert((0 to N / 2).forall(b => cells((0, b)) == cells((1, b))))
    // the fixed-point power must track an independent double-precision
    // windowed DFT to Q15 quantization error (scale: 2^30 per amplitude)
    (0 to N / 2).foreach { b =>
      val xw = Array.tabulate(N)(i => samples(i) *
        0.5 * (1.0 - math.cos(2.0 * math.Pi * i / N)))
      val re = (0 until N).map(i =>
        xw(i) * math.cos(2.0 * math.Pi * i * b / N)).sum
      val im = -(0 until N).map(i =>
        xw(i) * math.sin(2.0 * math.Pi * i * b / N)).sum
      val scale = 32768.0 * 32768.0
      val want = (re * re + im * im) * scale * scale
      val tol = 1e-3 * math.pow(20000.0 * N * scale, 2)
      assert(math.abs(cells((0, b)) - want) <= tol,
        s"bin $b: ${cells((0, b))} vs $want")
    }
    // a DC frame concentrates in bin 0
    val dc = Array.fill(N)(1000).flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    val dcells = Multimodal.wavSpectrogram(Multimodal.encodeWav(
        Seq((2L, dc)).toDF("media_id", "payload")
          .withColumn("meta", struct(lit(0L).as("byte_len"),
            lit("").as("sha256"), lit("s").as("source")))))
      .collect().map(r => r.getInt(2) -> r.getDouble(3)).toMap
    assert((1 to N / 2).forall(b => dcells(0) > dcells(b)))
    // fail-soft and budget: no rows for non-WAV or sub-frame clips; the
    // maxFrames budget truncates, and the kernel never shuffles
    assert(Multimodal.wavSpectrogram(raw).count() == 0)
    val one = Multimodal.wavSpectrogram(Multimodal.encodeWav(raw),
      maxFrames = 1)
    assert(one.count() == (N / 2 + 1))
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"spectrogram must not shuffle:\n$plan")
  }

  test("wavFingerprintHash: pitch trajectory packs 6 bits a frame, gain-invariant") {
    import spark.implicits._
    val N = Multimodal.SpecFrame
    def sine(bin: Int, amp: Double): Array[Int] =
      Array.tabulate(N)(i => math.round(
        amp * math.sin(2.0 * math.Pi * bin * i / N)).toInt)
    def pcmOf(samples: Array[Int]): Array[Byte] = samples.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.encodeWav(rows.toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    // frames at bins 5, 12, 31 -> hash = 5 <<12 | 12 <<6 | 31
    val full = sine(5, 20000) ++ sine(12, 15000) ++ sine(31, 9000)
    val half = full.map(_ / 2) // re-gained copy: same pitch trajectory
    val r = Multimodal.wavFingerprintHash(
        mediaOf(Seq((1L, pcmOf(full)), (2L, pcmOf(half)))))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getInt(2), x.getBoolean(3))).toMap
    assert(r(1L) == (((5L << 12) | (12L << 6) | 31L, 3, true)))
    assert(r(2L)._1 == r(1L)._1, "a re-gained copy keeps its fingerprint")
    // sub-frame clip: zero frames, still valid; non-WAV payload: invalid
    val short = mediaOf(Seq((3L, Array[Byte](1, 2, 3, 4))))
    val rs = Multimodal.wavFingerprintHash(short).head()
    assert(rs.getLong(1) == 0L && rs.getInt(2) == 0 && rs.getBoolean(3))
    val bad = Multimodal.wavFingerprintHash(
      Seq((4L, "nope".getBytes("US-ASCII"))).toDF("media_id", "payload"))
      .head()
    assert(!bad.getBoolean(3) && bad.getLong(1) == 0L)
    // maxFrames budget: only the first frame's bin survives
    val r1 = Multimodal.wavFingerprintHash(mediaOf(Seq((5L, pcmOf(full)))),
      maxFrames = 1).head()
    assert(r1.getLong(1) == 5L && r1.getInt(2) == 1)
  }

  test("wavBandEnergy: exact limb-split band sums, band placement, cell counts") {
    import spark.implicits._
    val N = Multimodal.SpecFrame
    def sine(bin: Int, amp: Double): Array[Int] =
      Array.tabulate(N)(i => math.round(
        amp * math.sin(2.0 * math.Pi * bin * i / N)).toInt)
    def pcmOf(samples: Array[Int]): Array[Byte] = samples.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.encodeWav(rows.toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    // frame 1: tone in band 0 (bin 5); frame 2: tone in band 3 (bin 30)
    val samples = sine(5, 20000) ++ sine(30, 20000)
    val raw = Multimodal.wavBandEnergy(
        mediaOf(Seq((1L, pcmOf(samples)))), bands = 4)
      .collect()
    // the limb surface's contract: every surfaced value is far below
    // 2^53, so no engine canonicalization (int64/float64/decimal) can
    // lose a bit of it
    raw.foreach(r => (3 to 7).foreach(i =>
      assert(r.getLong(i) >= 0 && r.getLong(i) < (1L << 53))))
    val rows = raw.map(r => r.getInt(1) ->
      (r.getLong(2),
        Multimodal.energyFromLimbs((3 to 7).map(r.getLong)))).toMap
    assert(rows.keySet == Set(0, 1, 2, 3))
    // cell counts: bands of 9/9/9/6 bins x 2 frames
    assert(rows.map { case (b, (c, _)) => b -> c } ==
      Map(0 -> 18L, 1 -> 18L, 2 -> 18L, 3 -> 12L))
    // the two tone bands dwarf the middle bands
    assert(rows(0)._2 > rows(1)._2 * 100 && rows(3)._2 > rows(2)._2 * 100)
    // exact vs an independent BigInt re-derivation of the windowed DFT
    val want = Array.fill(4)(BigInt(0))
    (0 until 2).foreach { f =>
      val xw = Array.tabulate(N)(i => samples(f * N + i).toLong *
        math.round(32768.0 * 0.5 * (1 - math.cos(2 * math.Pi * i / N))))
      (0 to N / 2).foreach { bn =>
        val re = BigInt((0 until N).map(i => xw(i) *
          math.round(32768.0 * math.cos(2 * math.Pi * ((i * bn) % N) / N))).sum)
        val im = BigInt(-(0 until N).map(i => xw(i) *
          math.round(32768.0 * math.sin(2 * math.Pi * ((i * bn) % N) / N))).sum)
        want(bn / 9) += re * re + im * im
      }
    }
    (0 to 3).foreach(b => assert(rows(b)._2 == want(b), s"band $b"))
    // fail-soft: non-WAV and sub-frame clips emit no rows
    assert(Multimodal.wavBandEnergy(
      Seq((2L, "nope".getBytes)).toDF("media_id", "payload")).count() == 0)
  }

  test("melWeightsQ15: hand-computed triangles, coverage, DC exclusion") {
    // rate 8000, nMel 2: mel points 0 / 620.58 / 1791.33 / 4000 Hz, bins
    // every 125 Hz. Hand-derived Q15 values (round(32768·w) of the
    // triangle at each bin center):
    //   band 0 rising: bin 1 = 6600, bin 4 = 26401; peak past the
    //   620.58 Hz midpoint: bin 5 = 32644 (falling edge, w = 0.99626);
    //   band 1 bin 14 = 31611 (rising), bin 32 (Nyquist) = 0
    val w2 = Multimodal.melWeightsQ15(8000, 2)
    assert(w2(0)(1) == 6600L && w2(0)(4) == 26401L && w2(0)(5) == 32644L)
    assert(w2(1)(14) == 31611L && w2(1)(32) == 0L)
    // structure, any config: DC excluded (triangle 0 rises FROM 0 Hz),
    // weights within Q15, every band non-empty, every interior bin
    // covered by some band
    val w8 = Multimodal.melWeightsQ15(8000, 8)
    assert(w8.forall(_(0) == 0L))
    assert(w8.forall(_.forall(w => w >= 0L && w <= 32768L)))
    assert(w8.forall(_.exists(_ > 0L)))
    assert((1 to 31).forall(bn => w8.exists(_(bn) > 0L)))
  }

  test("wavLogMel: exact weighted limb sums, tone placement, integer log") {
    import spark.implicits._
    val N = Multimodal.SpecFrame
    def sine(bin: Int, amp: Double): Array[Int] =
      Array.tabulate(N)(i => math.round(
        amp * math.sin(2.0 * math.Pi * bin * i / N)).toInt)
    def pcmOf(samples: Array[Int]): Array[Byte] = samples.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.encodeWav(rows.toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    val nMel = 8
    val weights = Multimodal.melWeightsQ15(8000, nMel)
    // two frames: tones at bin 3 (low mel bands) and bin 30 (top band)
    val samples = sine(3, 20000) ++ sine(30, 20000)
    val df = Multimodal.wavLogMel(mediaOf(Seq((1L, pcmOf(samples)))),
      sampleRate = 8000, nMel = nMel)
    val raw = df.collect()
    assert(raw.map(_.getInt(1)).toSet == (0 until nMel).toSet)
    // every surfaced limb sum is far below 2^53 (the weighted bound 2^45)
    raw.foreach(r => (3 to 7).foreach(i =>
      assert(r.getLong(i) >= 0 && r.getLong(i) < (1L << 45))))
    val got = raw.map(r => r.getInt(1) ->
      (r.getLong(2), Multimodal.energyFromLimbs((3 to 7).map(r.getLong)),
        r.getInt(8))).toMap
    // independent BigInt re-derivation: longhand windowed DFT, exact
    // cell, weighted sum per mel band with the shared Q15 weight table
    val want = Array.fill(nMel)(BigInt(0))
    val wantCells = Array.fill(nMel)(0L)
    (0 until 2).foreach { f =>
      val xw = Array.tabulate(N)(i => samples(f * N + i).toLong *
        math.round(32768.0 * 0.5 * (1 - math.cos(2 * math.Pi * i / N))))
      (0 to N / 2).foreach { bn =>
        val re = BigInt((0 until N).map(i => xw(i) *
          math.round(32768.0 * math.cos(2 * math.Pi * ((i * bn) % N) / N))).sum)
        val im = BigInt(-(0 until N).map(i => xw(i) *
          math.round(32768.0 * math.sin(2 * math.Pi * ((i * bn) % N) / N))).sum)
        val cell = re * re + im * im
        (0 until nMel).foreach { m =>
          if (weights(m)(bn) > 0) {
            want(m) += BigInt(weights(m)(bn)) * cell
            wantCells(m) += 1
          }
        }
      }
    }
    (0 until nMel).foreach { m =>
      assert(got(m)._1 == wantCells(m), s"n_cells mel $m")
      assert(got(m)._2 == want(m), s"energy mel $m")
      val digits = if (want(m) == 0) -1 else want(m).toString.length - 1
      assert(got(m)._3 == digits, s"log10_floor mel $m")
    }
    // tone placement: among the bands covering a tone's bin, the one with
    // the peak weight at that bin carries the most energy
    val loBand = (0 until nMel).maxBy(m => weights(m)(3))
    val hiBand = (0 until nMel).maxBy(m => weights(m)(30))
    assert(loBand != hiBand)
    assert((0 until nMel).filter(m => weights(m)(3) > 0)
      .maxBy(m => got(m)._2) == loBand)
    assert((0 until nMel).filter(m => weights(m)(30) > 0)
      .maxBy(m => got(m)._2) == hiBand)
    // fail-soft + zero shuffle
    assert(Multimodal.wavLogMel(
      Seq((2L, "nope".getBytes)).toDF("media_id", "payload")).count() == 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"logmel must not shuffle:\n$plan")
  }

  test("resampleWav: exact integer phase — decimation, midpoints, clamp, passthrough") {
    import spark.implicits._
    import graft.operators.Multimodal.{resampleWavBytes, decodeWav}
    def pcmOf(samples: Seq[Int]): Array[Byte] = samples.toArray.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.encodeWav(rows.toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    def samplesOf(wav: Array[Byte]): Seq[Int] = {
      val f = decodeWav(9L, wav)
      assert(f.is_valid)
      val n = f.n_samples.toInt
      (0 until n).map { k =>
        val o = wav.length - 2 * n + 2 * k
        val v = (wav(o) & 0xff) | ((wav(o + 1) & 0xff) << 8)
        if (v >= 0x8000) v - 0x10000 else v
      }
    }
    val src = Seq(100, -200, 300, -400, 500, -600, 700, -32768)
    val wav8k = {
      val df = Multimodal.resampleWav(mediaOf(Seq((1L, pcmOf(src)))), 8000)
      df.select("payload").head().getAs[Array[Byte]](0)
    }
    // identity rate: canonical re-encode, samples untouched
    assert(samplesOf(wav8k) == src)
    // 2:1 decimation: integer phase, frac always 0 -> every other sample
    val down = Multimodal.resampleWav(mediaOf(Seq((2L, pcmOf(src)))), 4000)
      .select("payload").head().getAs[Array[Byte]](0)
    assert(samplesOf(down) == Seq(100, 300, 500, 700))
    assert(decodeWav(2L, down).sample_rate == 4000)
    // 1:2 upsample: odd outputs are floor-midpoints (sign-correct: the
    // Q15 floor rounds toward -inf, so a falling pair floors DOWN)
    val up = Multimodal.resampleWav(mediaOf(Seq((3L, pcmOf(Seq(1, 2, 1)))))
      , 16000).select("payload").head().getAs[Array[Byte]](0)
    // outN = 3*16000/8000 = 6; positions 0,.5,1,1.5,2,2.5(clamped)
    assert(samplesOf(up) == Seq(1, 1, 2, 1, 1, 1))
    // non-WAV payloads pass through unchanged (resize fail-soft contract)
    val raw = Seq((4L, "not audio".getBytes("US-ASCII")))
      .toDF("media_id", "payload")
      .withColumn("kind", lit("audio"))
      .withColumn("meta", struct(lit(0L).as("byte_len"),
        lit("").as("sha256"), lit("s").as("source")))
    val pass = Multimodal.resampleWav(raw, 4000)
      .select("payload").head().getAs[Array[Byte]](0)
    assert(new String(pass, "US-ASCII") == "not audio")
    // kernel-level 4/3 ratio: all three Q15 offsets exercised, vs a
    // direct re-derivation of the phase arithmetic
    val r = resampleWavBytes(wav8k, 6000).get
    val out = samplesOf(r)
    val n = src.length
    val expect = (0 until out.length).map { k =>
      val num = k.toLong * 8000
      val i = (num / 6000).toInt
      val frac = ((num % 6000) * 32768L) / 6000
      val s0 = src(math.min(i, n - 1)); val s1 = src(math.min(i + 1, n - 1))
      s0 + math.floorDiv((s1 - s0) * frac, 32768L).toInt
    }
    assert(out.length == n * 6000 / 8000 && out == expect)
    val plan = Multimodal.resampleWav(mediaOf(Seq((5L, pcmOf(src)))), 6000)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"resample must not shuffle:\n$plan")
    // overflow fail-soft: an upsample ratio whose output plane would wrap
    // the Int allocation / 32-bit RIFF size fields refuses (None), and the
    // operator passes the clip through unchanged rather than corrupting it
    val long8k = {
      val df = Multimodal.resampleWav(
        mediaOf(Seq((6L, pcmOf(Seq.fill(8000)(7))))), 8000)
      df.select("payload").head().getAs[Array[Byte]](0)
    }
    assert(resampleWavBytes(long8k, Int.MaxValue).isEmpty)
    val kept = Multimodal.resampleWav(
        mediaOf(Seq((7L, pcmOf(Seq.fill(8000)(7))))), Int.MaxValue)
      .select("payload").head().getAs[Array[Byte]](0)
    assert(kept.toSeq == long8k.toSeq)
  }

  test("media row kernels survive CODEGEN_ONLY — no interpreted-encoder fallback") {
    // r18 regression class: a `private` row case class compiles but makes
    // Spark's encoder codegen fail and silently fall back to interpreted
    // row encoding (ERROR CodeGenerator in every run). Pin: run every wav
    // row-kernel under a session where codegen failure THROWS instead of
    // falling back, so the next private case class cannot land silently.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    strict.conf.set("spark.sql.codegen.fallback", "false")
    import strict.implicits._
    val media = Multimodal.encodeWav(
      Seq((1L, Array.tabulate[Byte](256)(i => (i * 7).toByte)))
        .toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    // collect(), not count(): count prunes the serializer's fields, so the
    // row-class accessor codegen this pin exists to exercise never runs
    assert(Multimodal.wavBandEnergy(media).collect().nonEmpty)
    assert(Multimodal.wavSpectrogram(media, maxFrames = 2).collect().nonEmpty)
    assert(Multimodal.wavFingerprintHash(media).collect().nonEmpty)
    assert(Multimodal.decodeWavFeatures(media).collect().nonEmpty)
    assert(Multimodal.resampleWav(media, 6000).collect().nonEmpty)
    assert(Multimodal.wavEnvelopeHash(media, windows = 4).collect().nonEmpty)
  }

  test("wavMfcc: longhand cepstrum re-derivation, k=0 identity, fail-soft") {
    import spark.implicits._
    val N = Multimodal.SpecFrame
    def sine(bin: Int, amp: Double): Array[Int] =
      Array.tabulate(N)(i => math.round(
        amp * math.sin(2.0 * math.Pi * bin * i / N)).toInt)
    def pcmOf(samples: Array[Int]): Array[Byte] = samples.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.encodeWav(rows.toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    val nMel = 8
    val weights = Multimodal.melWeightsQ15(8000, nMel)
    val samples = sine(3, 20000) ++ sine(30, 20000)
    val df = Multimodal.wavMfcc(mediaOf(Seq((1L, pcmOf(samples)))))
    val got = df.collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(got.keySet == (0 until 8).toSet)
    // independent longhand: exact integer mel energies (the logmel spec's
    // DFT re-derivation), then the same round-9 log and fixed-order DCT
    val want = Array.fill(nMel)(BigInt(0))
    (0 until 2).foreach { f =>
      val xw = Array.tabulate(N)(i => samples(f * N + i).toLong *
        math.round(32768.0 * 0.5 * (1 - math.cos(2 * math.Pi * i / N))))
      (0 to N / 2).foreach { bn =>
        val re = BigInt((0 until N).map(i => xw(i) *
          math.round(32768.0 * math.cos(2 * math.Pi * ((i * bn) % N) / N))).sum)
        val im = BigInt(-(0 until N).map(i => xw(i) *
          math.round(32768.0 * math.sin(2 * math.Pi * ((i * bn) % N) / N))).sum)
        val cell = re * re + im * im
        (0 until nMel).foreach(m =>
          if (weights(m)(bn) > 0) want(m) += cell * BigInt(weights(m)(bn)))
      }
    }
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val logs = Array.tabulate(nMel)(m => r9(math.log((want(m) + 1).toDouble)))
    (0 until 8).foreach { k =>
      var c = 0.0
      (0 until nMel).foreach(m =>
        c += logs(m) * math.cos(math.Pi * (2 * m + 1) * k / (2.0 * nMel)))
      assert(got(k) == r6(c), s"coefficient $k")
    }
    // k = 0 is the plain sum of the log energies (cos terms all 1)
    assert(got(0) == r6(logs.sum))
    // fail-soft: non-WAV and sub-frame clips emit no rows; zero shuffle
    assert(Multimodal.wavMfcc(
      Seq((2L, "nope".getBytes)).toDF("media_id", "payload")).count() == 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mfcc must not shuffle:\n$plan")
  }

  test("wavVadSegments + trimWavSilence: hand segments, tail, gain invariance, pass-through") {
    import spark.implicits._
    def pcmOf(samples: Seq[Int]): Array[Byte] = samples.toArray.flatMap(v =>
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte))
    def mediaOf(rows: Seq[(Long, Array[Byte])]) =
      Multimodal.encodeWav(rows.toDF("media_id", "payload")
        .withColumn("meta", struct(lit(0L).as("byte_len"),
          lit("").as("sha256"), lit("s").as("source"))))
    val sil = Seq.fill(64)(0)
    val tone = Seq.fill(64)(1000)
    val half = Seq.tabulate(64)(i => if (i % 2 == 0) 500 else -500)
    // [silence, tone, silence, half-tone]: clip mean |s| = 375, so both
    // tone (1000) and half-tone (500) windows are voiced, separately
    val segs = Multimodal.wavVadSegments(
        mediaOf(Seq((1L, pcmOf(sil ++ tone ++ sil ++ half)))))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(segs.toSeq == Seq((1, 64L, 64L, 64000L, 1),
      (2, 192L, 64L, 32000L, 1)))
    // adjacent voiced windows merge into ONE run
    val merged = Multimodal.wavVadSegments(
        mediaOf(Seq((2L, pcmOf(sil ++ tone ++ tone ++ sil)))))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(merged.toSeq == Seq((1, 64L, 128L)))
    // partial tail window is a window of its own length
    val tail = Multimodal.wavVadSegments(
        mediaOf(Seq((3L, pcmOf(sil ++ Seq.fill(32)(1000))))))
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getInt(5)))
    assert(tail.toSeq == Seq((64L, 32L, 1)))
    // uniform gain cannot move a boundary (cross-multiplied threshold)
    val gained = Multimodal.wavVadSegments(
        mediaOf(Seq((4L, pcmOf((sil ++ tone ++ sil ++ half).map(_ * 2))))))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(gained.toSeq == Seq((1, 64L, 64L), (2, 192L, 64L)))
    // all-equal clip: no window beats the mean -> no segments
    assert(Multimodal.wavVadSegments(
      mediaOf(Seq((5L, pcmOf(Seq.fill(128)(700)))))).count() == 0)
    // non-WAV payload: no rows (fail-soft row generator)
    assert(Multimodal.wavVadSegments(
      Seq((6L, "nope".getBytes)).toDF("media_id", "payload")).count() == 0)
    // trim: keeps first-voiced start .. last-voiced end (middle silence
    // survives), canonical re-encode
    def samplesOf(wav: Array[Byte]): Seq[Int] = {
      val f = Multimodal.decodeWav(9L, wav)
      assert(f.is_valid)
      val n = f.n_samples.toInt
      (0 until n).map { k =>
        val o = wav.length - 2 * n + 2 * k
        val v = (wav(o) & 0xff) | ((wav(o + 1) & 0xff) << 8)
        if (v >= 0x8000) v - 0x10000 else v
      }
    }
    val src = sil ++ tone ++ sil ++ half ++ sil
    val trimmed = Multimodal.trimWavSilence(mediaOf(Seq((7L, pcmOf(src)))))
      .select("payload").head().getAs[Array[Byte]](0)
    assert(samplesOf(trimmed) == (tone ++ sil ++ half))
    // no voiced anchor (all-equal) and non-WAV: pass through unchanged
    val flat = Multimodal.trimWavSilence(
        mediaOf(Seq((8L, pcmOf(Seq.fill(128)(700))))))
      .select("payload").head().getAs[Array[Byte]](0)
    assert(samplesOf(flat) == Seq.fill(128)(700))
    val raw = Seq((9L, "not audio".getBytes("US-ASCII")))
      .toDF("media_id", "payload")
      .withColumn("kind", lit("audio"))
      .withColumn("meta", struct(lit(0L).as("byte_len"),
        lit("").as("sha256"), lit("s").as("source")))
    assert(new String(Multimodal.trimWavSilence(raw)
      .select("payload").head().getAs[Array[Byte]](0), "US-ASCII")
      == "not audio")
    // both stay scan-stage
    val plan1 = Multimodal.wavVadSegments(mediaOf(Seq((10L, pcmOf(src)))))
      .queryExecution.executedPlan.toString
    assert(!plan1.contains("Exchange"), s"vad must not shuffle:\n$plan1")
    val plan2 = Multimodal.trimWavSilence(mediaOf(Seq((11L, pcmOf(src)))))
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange"), s"trim must not shuffle:\n$plan2")
  }

  test("y4mTemporalHash: hand bits over crafted frames, fail-soft") {
    import spark.implicits._
    // 4 mono 4x4 frames: two dark (byte 10), two bright (byte 200);
    // windows=2 -> span means 10 and 200, tot 210, bits 0,1 -> 0b01
    val payload = (Array.fill[Byte](32)(10) ++
      Array.fill[Byte](32)(200.toByte))
    val raw = Seq((1L, payload)).toDF("media_id", "payload")
      .withColumn("meta", struct(lit(0L).as("byte_len"),
        lit("").as("sha256"), lit("s").as("source")))
    val r = Multimodal.y4mTemporalHash(Multimodal.encodeY4m(raw),
      windows = 2).head()
    assert(r.getAs[Long]("thash") == 1L)
    assert(r.getAs[Int]("n_bits") == 2 && r.getAs[Long]("n_frames") == 4L)
    assert(r.getAs[Boolean]("is_valid"))
    // a non-Y4M payload flags invalid instead of throwing
    val bad = Multimodal.y4mTemporalHash(raw, windows = 2).head()
    assert(!bad.getAs[Boolean]("is_valid"))
  }

  test("decode cap bounds the scan blowup: oversize payload == its capped prefix") {
    val docs = Tables.documents(spark, sf).limit(5)
    val media = Multimodal.fromText(docs, "doc_id", "text", "source")
    // features of a payload larger than maxBytes are the features OF the
    // first maxBytes — the staging hex/array cost stays O(maxBytes)/row
    // however large the payload
    val capped = Multimodal.fakeDecodeFeatures(media, maxBytes = 16)
      .select("media_id", "features").collect().toSeq
    val prefixed = Multimodal.fakeDecodeFeatures(
        media.withColumn("payload",
          org.apache.spark.sql.functions.substring(col("payload"), 1, 16)))
      .select("media_id", "features").collect().toSeq
    assert(capped == prefixed)
    // the default cap leaves the gate payloads (document text) untouched
    val full = Multimodal.fakeDecodeFeatures(media)
      .select("media_id", "features").collect().toSeq
    val uncapped = Multimodal.fakeDecodeFeatures(media, maxBytes = Int.MaxValue)
      .select("media_id", "features").collect().toSeq
    assert(full == uncapped)
  }

  test("semanticDedup with k-means centroids collapses planted duplicates") {
    import graft.operators.Dedup
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    // plant exact duplicates: id+1000 carries an identical vector, so the
    // pair shares a nearest cell (deterministic tie-break) whatever the
    // clustering quality, and cosine(a, dup) = 1
    val withDups = base.unionByName(
      base.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000))
    val cents = Similarity.buildIvf(withDups, nLists = 4).centroids
    val out = Dedup.semanticDedup(withDups, "vec_id", "embedding",
        cents, threshold = 0.999)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getBoolean(4))).toMap
    (0L until 10L).foreach { i =>
      val (compA, keepA) = out(i)
      val (compB, keepB) = out(i + 1000)
      assert(compA == compB, s"dup pair $i split across components")
      // identical vectors tie on centroid distance -> lowest id kept
      assert(keepA && !keepB, s"expected keeper $i, got ($keepA, $keepB)")
    }
    // non-duplicated vectors are their own component and kept
    assert((10L until 100L).forall { i => out(i) == ((i, true)) })
  }

  test("semanticDedup keeper is the vector farthest from its centroid") {
    import graft.operators.Dedup
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.0)), // near-dups, same direction
      (3L, Seq(0.0, 2.0))                        // unrelated
    ).toDF("vec_id", "v")
    val cents = Seq((0L, Seq(0.0, 0.0))).toDF("cell", "centroid")
    val out = Dedup.semanticDedup(vecs, "vec_id", "v", cents, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    // {1, 2} duplicate-group; 1 is farther from the origin centroid (d2 1.0
    // vs 0.81) so it is the diversity-preserving keeper
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((1L, false)))
    assert(out(3L) == ((3L, true)))
  }

  test("random projection keeps planted near-duplicates findable by ANN") {
    import graft.functions.VectorFunctions
    import spark.implicits._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // plant a perturbed twin for each of 30 base vectors: cosine(base, twin)
    // ~ 0.995 while unrelated random pairs sit near 0 — the structure an
    // embedding near-dup corpus actually has. The uniform synthetic corpus
    // itself has NO neighborhood structure (all cosines ~ 0), so top-k
    // recall straight on it measures noise, not the projection.
    val bases = emb.filter(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val twins = bases.map { case (id, v) =>
      (id + 100000L, v.zipWithIndex.map { case (x, i) =>
        (x + (if (((id + i) % 3) == 0) 0.05 else -0.05)).toFloat }.toSeq)
    }.toSeq.toDF("vec_id", "embedding")
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(twins.select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding")))
    val queries = emb.filter(col("vec_id") < 30)
    def top1Twins(c: org.apache.spark.sql.DataFrame,
                  q: org.apache.spark.sql.DataFrame): Int =
      Similarity.bruteForceTopK(c, q, k = 1)
        .filter(col("nbr_id") === col("query_id") + 100000L).collect().length
    // sanity: full-dimension search finds every twin
    assert(top1Twins(corpus, queries) === 30)
    def proj(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
      VectorFunctions.randomProject(col("embedding"), 16, 64)
        .cast("array<float>").as("embedding"))
    val hits = top1Twins(proj(corpus), proj(queries))
    assert(hits >= 27, s"only $hits/30 planted twins survive the projection")
  }

  test("random projection is deterministic and norm-concentrated") {
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val p1 = emb.select(col("vec_id"),
      VectorFunctions.randomProject(col("embedding"), 16, 64).as("pv"))
    val p2 = emb.select(col("vec_id"),
      VectorFunctions.randomProject(col("embedding"), 16, 64).as("pv"))
    assert(p1.exceptAll(p2).count() === 0)
    // JL concentration: the projected norm tracks the original norm for
    // almost every vector (ratio within [0.5, 2] for >= 90% of rows)
    val ratios = emb.select(
        (VectorFunctions.norm2(VectorFunctions.randomProject(col("embedding"), 16, 64)) /
          VectorFunctions.norm2(col("embedding"))).as("r"))
      .collect().map(_.getDouble(0))
    val ok = ratios.count(r => r >= 0.5 && r <= 2.0)
    assert(ok.toDouble / ratios.length >= 0.9,
      s"only $ok of ${ratios.length} inside [0.5, 2]")
  }

  test("contrastivePairs: positive from own component, negatives exclude it, mateless anchors drop") {
    import graft.operators.Similarity
    import spark.implicits._
    // component 100: anchor + its paraphrase; component 200: a hard negative
    // pointing nearly the same way; component 300: an easy negative; vec 5
    // is a singleton anchor with no mate
    val labeled = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 100L),  // anchor
      (1L, Seq(0.95f, 0.1f, 0.0f), 100L), // paraphrase (positive)
      (2L, Seq(0.9f, 0.2f, 0.0f), 200L),  // hard negative
      (3L, Seq(0.0f, 0.0f, 1.0f), 300L),  // easy negative
      (5L, Seq(0.5f, 0.5f, 0.0f), 500L))  // mateless anchor
      .toDF("vec_id", "embedding", "component")
    val out = Similarity.contrastivePairs(labeled,
        labeled.filter(col("vec_id").isin(0L, 5L)), kNeg = 3)
      .orderBy("query_id", "neg_rank").collect()
    // anchor 5 has no same-component mate -> no rows at all
    assert(out.forall(_.getAs[Long]("query_id") == 0L))
    assert(out.forall(_.getAs[Long]("pos_id") == 1L))
    // negatives: hard one first, never the positive, never self
    val negs = out.map(_.getAs[Long]("neg_id")).toSeq
    assert(negs.head == 2L && !negs.contains(1L) && !negs.contains(0L))
    assert(negs.toSet == Set(2L, 3L, 5L)) // kNeg=3 over the 3 other-component vecs
  }

  test("IVF-routed hard negatives: nProbe=nLists equals brute; pruning keeps exclusion and monotone recall") {
    val emb = Tables.embeddings(spark, sf)
    // any labeling exercises the contract; a coarse mod-component makes
    // same-component exclusions actually occur among the top candidates
    val labeled = emb.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(7L)).as("component"))
    val queries = labeled.filter(col("vec_id") < 8)
    val comps = labeled.select("vec_id", "component")
    val index = Similarity.buildIvf(emb, nLists = 8)
    try {
      val exact = Similarity.hardNegativeTopK(labeled, queries, k = 10)
        .select("query_id", "nbr_id", "cosine", "rank")
      // exhaustive probe = brute force, row for row
      val full = Similarity.hardNegativeTopKIvf(index, comps, queries,
        k = 10, nProbe = 8).select("query_id", "nbr_id", "cosine", "rank")
      assert(full.exceptAll(exact).count() == 0 &&
        exact.exceptAll(full).count() == 0)
      val exactPairs = exact.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val compOf = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def prunedPairs(nProbe: Int): Set[(Long, Long)] = {
        val rows = Similarity.hardNegativeTopKIvf(index, comps, queries,
          k = 10, nProbe = nProbe).collect()
        // exclusion survives pruning; every pair's cosine is the true cosine
        rows.foreach { r =>
          val (q, n) = (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))
          assert(compOf(q) != compOf(n), s"same-component pair ($q,$n)")
        }
        rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("nbr_id"))).toSet
      }
      // candidate supersets can only improve agreement with exact top-k
      val r2 = prunedPairs(2).intersect(exactPairs).size.toDouble / exactPairs.size
      val r4 = prunedPairs(4).intersect(exactPairs).size.toDouble / exactPairs.size
      assert(r4 >= r2, s"recall must be monotone in nProbe: $r2 -> $r4")
      assert(r4 > 0.0, "nProbe=4 of 8 must recover some exact negatives")
    } finally index.assigned.unpersist()
  }

  test("contrastivePairsIvf at nProbe=nLists matches contrastivePairs incl. mateless drop") {
    import spark.implicits._
    val labeled = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 100L),
      (1L, Seq(0.95f, 0.1f, 0.0f), 100L),
      (2L, Seq(0.9f, 0.2f, 0.0f), 200L),
      (3L, Seq(0.0f, 0.0f, 1.0f), 300L),
      (5L, Seq(0.5f, 0.5f, 0.0f), 500L))
      .toDF("vec_id", "embedding", "component")
    val index = Similarity.buildIvf(
      labeled.select("vec_id", "embedding"), nLists = 2)
    try {
      val brute = Similarity.contrastivePairs(labeled,
        labeled.filter(col("vec_id").isin(0L, 5L)), kNeg = 3)
      val ivf = Similarity.contrastivePairsIvf(index,
        labeled.select("vec_id", "component"),
        labeled.filter(col("vec_id").isin(0L, 5L)), kNeg = 3, nProbe = 2)
      assert(ivf.exceptAll(brute).count() == 0 &&
        brute.exceptAll(ivf).count() == 0)
      // the mateless anchor (5) emits nothing through the IVF path either
      assert(ivf.filter(col("query_id") === 5L).count() == 0)
    } finally index.assigned.unpersist()
  }

  test("MMR at lambda=1 is plain top-k; lower lambda breaks up a planted redundant pair") {
    import spark.implicits._
    // query q looks for (1,0); candidates: two near-identical high-relevance
    // vectors a1/a2, one moderately-relevant orthogonal-ish vector b
    val cand = Seq(
      (0L, 10L, 0.99, Seq(1.0f, 0.1f, 0.0f)), // a1
      (0L, 11L, 0.98, Seq(1.0f, 0.11f, 0.0f)), // a2 ~ duplicate of a1
      (0L, 12L, 0.80, Seq(0.3f, 0.0f, 1.0f))) // b, diverse
      .toDF("query_id", "nbr_id", "cosine", "nbr_v")
    val topk = Similarity.mmrSelect(cand, k = 3, lambda = 1.0)
      .orderBy("sel_rank").collect().map(_.getAs[Long]("nbr_id")).toSeq
    assert(topk == Seq(10L, 11L, 12L)) // pure relevance order
    val diverse = Similarity.mmrSelect(cand, k = 2, lambda = 0.5)
      .orderBy("sel_rank").collect().map(_.getAs[Long]("nbr_id")).toSeq
    // first pick is still the relevance argmax; second skips the near-copy
    assert(diverse == Seq(10L, 12L))
  }

  test("MMR selects at most min(k, candidates) per query and ranks are dense from 1") {
    import spark.implicits._
    val cand = Seq(
      (0L, 1L, 0.9, Seq(1.0f, 0.0f)), (0L, 2L, 0.8, Seq(0.0f, 1.0f)),
      (1L, 3L, 0.7, Seq(1.0f, 1.0f)))
      .toDF("query_id", "nbr_id", "cosine", "nbr_v")
    val out = Similarity.mmrSelect(cand, k = 5, lambda = 0.7)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("sel_rank"))).toSeq
    assert(out.filter(_._1 == 0L).map(_._2).sorted == Seq(1, 2))
    assert(out.filter(_._1 == 1L).map(_._2) == Seq(1))
  }

  test("Lloyd refinement converges planted clusters in one round and drops empty cells") {
    import spark.implicits._
    // two tight planted clusters around (0,0) and (10,10); seeds start
    // inside ONE cluster plus a far-off seed that captures nothing
    val vecs = Seq(
      (1L, Seq(0.0f, 0.2f)), (2L, Seq(0.2f, 0.0f)), (3L, Seq(-0.2f, 0.0f)),
      (4L, Seq(10.0f, 10.2f)), (5L, Seq(10.2f, 10.0f)), (6L, Seq(9.8f, 10.0f)))
      .toDF("nbr_id", "nbr_v")
    val init = Seq(
      (0, Seq(0.1, 0.1)), (1, Seq(9.0, 9.0)), (2, Seq(500.0, 500.0)))
      .toDF("cell", "centroid")
    val r = Similarity.refineCentroids(vecs, init, iters = 1)
      .collect().map(x => x.getAs[Int]("cell") ->
        (x.getAs[Long]("n_vecs"), x.getAs[scala.collection.Seq[Double]]("centroid").toSeq)).toMap
    assert(r.keySet == Set(0, 1)) // the 500,500 seed captured nothing
    assert(r(0)._1 == 3L && r(1)._1 == 3L)
    def close(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).forall { case (x, y) => math.abs(x - y) < 1e-6 }
    assert(close(r(0)._2, Seq(0.0, 0.2 / 3)))    // mean of cluster A
    assert(close(r(1)._2, Seq(10.0, 30.2 / 3)))  // mean of cluster B
    // a second round is a fixpoint: assignments no longer move
    val r2 = Similarity.refineCentroids(vecs, init, iters = 2)
      .collect().map(x => x.getAs[Int]("cell") ->
        x.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toMap
    assert(close(r2(0), r(0)._2) && close(r2(1), r(1)._2))
  }

  test("RRF fusion: consensus candidates outrank single-list winners; scores follow 1/(c+r)") {
    import spark.implicits._
    // lexical list: A first, B second; vector list: B first, C second.
    // B appears in both -> 1/61 + 1/62 beats A's 1/61 and C's 1/62.
    val lex = Seq((0L, 100L, 1), (0L, 101L, 2)).toDF("query_id", "nbr_id", "rank")
    val vec = Seq((0L, 101L, 1), (0L, 102L, 2)).toDF("query_id", "nbr_id", "rank")
    val r = Similarity.rrfFuse(Seq(lex, vec), k = 10).orderBy("rank").collect()
      .map(x => (x.getAs[Long]("nbr_id"), x.getAs[Long]("n_lists"),
        x.getAs[Double]("rrf_score"), x.getAs[Long]("rank")))
    assert(r.map(_._1).toSeq == Seq(101L, 100L, 102L))
    assert(r.map(_._2).toSeq == Seq(2L, 1L, 1L))
    def c(rank: Int) = BigDecimal(1.0 / (60 + rank))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def s(x: BigDecimal) = x.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(0)._3 == s(c(1) + c(2)) && r(1)._3 == s(c(1)) && r(2)._3 == s(c(2)))
    // k bounds the fused list per query
    assert(Similarity.rrfFuse(Seq(lex, vec), k = 1).count() == 1L)
  }

  test("bitext mining: mutual-best only, hub killed by margin, crafted pair found") {
    val s = spark
    import s.implicits._
    def v(xs: Double*) = xs.toArray
    // x0<->y1 a clean aligned pair; x2 is a HUB equally close to everything
    // (uniform neighborhood -> margin ~1 -> filtered); y3/y5 fillers
    val xs = Seq(
      (0L, v(1.0, 0.0, 0.0)),
      (2L, v(0.5, 0.5, 0.5))).toDF("vec_id", "embedding")
    val ys = Seq(
      (1L, v(0.98, 0.1, 0.0)),
      (3L, v(0.0, 1.0, 0.0)),
      (5L, v(0.0, 0.0, 1.0))).toDF("vec_id", "embedding")
    val mined = Similarity.bitextMine(xs, ys, k = 3, minMargin = 1.05)
      .collect()
    assert(mined.length == 1)
    assert(mined(0).getAs[Long]("src_id") == 0L &&
      mined(0).getAs[Long]("tgt_id") == 1L)
    assert(mined(0).getAs[Double]("margin") > 1.05)
    // with no margin floor, pairs are still MUTUAL best matches only:
    // each src and each tgt appears at most once
    val all = Similarity.bitextMine(xs, ys, k = 3, minMargin = 0.0).collect()
    assert(all.map(_.getAs[Long]("src_id")).distinct.length == all.length)
    assert(all.map(_.getAs[Long]("tgt_id")).distinct.length == all.length)
  }

  test("matryoshkaRecall: full-dim self-recall 1.0, monotone-ish curve, zero-hit floor") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val out = Similarity.matryoshkaRecall(emb,
        emb.filter(col("vec_id") < 4), k = 5, dims = Seq(2, dim))
      .collect().map(r => (r.getAs[Int]("m"), r.getAs[Long]("query_id")) ->
        r.getAs[Double]("recall")).toMap
    // truncating to the FULL dimension is a no-op: recall exactly 1
    emb.filter(col("vec_id") < 4).collect().map(_.getLong(0)).foreach { q =>
      assert(out((dim, q)) == 1.0, s"full-dim recall must be 1 for query $q")
    }
    // all recalls in [0, 1]; 4 queries x 2 dims rows
    assert(out.size == 8)
    assert(out.values.forall(r => r >= 0.0 && r <= 1.0))
    // 2 dims of 64 loses information: mean recall strictly below 1
    val m2 = out.collect { case ((m, _), r) if m == 2 => r }
    assert(m2.sum / m2.size < 1.0)
  }

  test("matryoshkaRecallIvf at nProbe = nLists equals brute matryoshkaRecall") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dims = Seq(8, 32)
    val idxs = dims.map(m => m -> Similarity.buildIvf(
      emb.select(col("vec_id"), slice(col("embedding"), 1, m).as("embedding")),
      nLists = 4, seed = 42L))
    val fullIdx = Similarity.buildIvf(emb, nLists = 4, seed = 42L)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("m", "query_id").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSeq
      val brute = rows(Similarity.matryoshkaRecall(emb,
        emb.filter(col("vec_id") < 4), k = 5, dims))
      val ivf = rows(Similarity.matryoshkaRecallIvf(fullIdx, idxs,
        emb.filter(col("vec_id") < 4), k = 5, nProbe = 4, nProbeFull = 4))
      assert(brute.nonEmpty && ivf == brute,
        s"ivf (${ivf.length}) != brute (${brute.length})")
    } finally spark.catalog.clearCache()
  }

  test("bitextMineIvf at nProbe = nLists equals brute bitextMine") {
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val xs = emb.filter(col("vec_id") % 2 === 0)
    val ys = emb.filter(col("vec_id") % 2 === 1)
    val ix = Similarity.buildIvf(xs, nLists = 4, seed = 42L)
    val iy = Similarity.buildIvf(ys, nLists = 4, seed = 43L)
    try {
      val brute = Similarity.bitextMine(xs, ys, k = 4, minMargin = 1.0)
        .orderBy("src_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      val ivf = Similarity.bitextMineIvf(ix, iy, xs, ys, k = 4,
          minMargin = 1.0, nProbe = 4)
        .orderBy("src_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      assert(brute.nonEmpty && ivf == brute,
        s"ivf (${ivf.length}) != brute (${brute.length})")
    } finally spark.catalog.clearCache()
  }

  test("two-level IVF: exhaustive probe equals brute force; one corpus shuffle") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 8)
    val i2 = Similarity.buildIvf2(emb, nParents = 4, fanout = 4, seed = 42L)
    try {
      // every leaf probed => candidates = whole corpus => exact search,
      // regardless of where the hierarchical descent placed each vector
      val full = Similarity.searchIvf2(i2, queries, k = 10, nProbe = 16,
          probeParents = 4)
        .select("query_id", "nbr_id", "rank").orderBy("query_id", "rank")
        .collect().toSeq
      val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "nbr_id", "rank").orderBy("query_id", "rank")
        .collect().toSeq
      assert(full.nonEmpty && full == brute)
      // the assignment plan pays ONE corpus exchange: the child-stage
      // min_by reuses the parent stage's hash partitioning on nbr_id
      // (its broadcast join preserves it), so no second shuffle appears.
      // Counted on a FRESH plan — the built index's own frame is already
      // cache-backed, so its executed plan is just the InMemory scan.
      val plan = Similarity.assignCells2(
          emb.select(col("vec_id").as("nbr_id"), col("embedding").as("nbr_v")),
          i2.coarse, i2.index.centroids)
        .queryExecution.executedPlan.toString
      val nShuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(nShuffles == 1,
        s"expected 1 exchange in assignCells2, got $nShuffles:\n$plan")
    } finally {
      i2.index.assigned.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("two-level IVF: recall parity with flat IVF at equal probe budget") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "nbr_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = hits(Similarity.bruteForceTopK(emb, queries, k))
    val flat = Similarity.buildIvf(emb, nLists = 16, seed = 42L)
    val two = Similarity.buildIvf2(emb, nParents = 4, fanout = 4, seed = 42L)
    try {
      // SAME probe budget: 4 of 16 leaf cells each
      val rFlat = (exact intersect
        hits(Similarity.searchIvf(flat, queries, k, nProbe = 4))).size.toDouble / exact.size
      val r2 = (exact intersect
        hits(Similarity.searchIvf2(two, queries, k, nProbe = 4))).size.toDouble / exact.size
      // the hierarchical descent must not cost meaningful recall at the
      // same budget (it probes the same NUMBER of leaves, chosen through
      // the parent level)
      assert(r2 >= rFlat - 0.15, s"two-level recall $r2 vs flat $rFlat")
      assert(r2 >= 0.4, s"two-level recall too low: $r2")
    } finally {
      flat.assigned.unpersist()
      two.index.assigned.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("two-level IVF rides save/load; flat loadIvf still reads the dir") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val base = emb.filter(col("vec_id") % 20 =!= 0)
    val i2 = Similarity.buildIvf2(base, nParents = 3, fanout = 3, seed = 7L)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2").toString
    try {
      Similarity.saveIvf2(i2, dir)
      val loaded = Similarity.loadIvf2(spark, dir)
      assert(loaded.fanout == 3)
      val a = Similarity.searchIvf2(i2, queries, k = 5, nProbe = 3)
        .orderBy("query_id", "rank").collect().toSeq
      val b = Similarity.searchIvf2(loaded, queries, k = 5, nProbe = 3)
        .orderBy("query_id", "rank").collect().toSeq
      assert(a.nonEmpty && a == b)
      // the same dir loads as a FLAT index (leaf table carries `parent`
      // harmlessly); flat search at full probe = brute force over the base
      val flat = Similarity.loadIvf(spark, dir)
      val fullFlat = Similarity.searchIvf(flat, queries, k = 5, nProbe = 9)
        .select("query_id", "nbr_id").orderBy("query_id", "nbr_id")
        .collect().toSeq
      val bruteBase = Similarity.bruteForceTopK(base, queries, k = 5)
        .select("query_id", "nbr_id").orderBy("query_id", "nbr_id")
        .collect().toSeq
      assert(fullFlat == bruteBase)
      // flat retrain on a two-level dir must fail fast — rebuilding flat
      // centroids would orphan the coarse table and loadIvf2 would
      // descend a stale hierarchy (silent row loss, not an error)
      val e = intercept[IllegalArgumentException] {
        Similarity.retrainIvf(spark, dir, nLists = 4, seed = 11L)
      }
      assert(e.getMessage.contains("two-level"))
    } finally {
      i2.index.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      spark.catalog.clearCache()
    }
  }

  test("IVF2+PQ: composed lifecycle — encode, persist, and the byte ladder") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") < 4)
    val base = emb.filter(col("vec_id") < 400)
    val pq = PqTraining.trainPq(base, m = 16, nCodes = 32, seed = 11L)
    val i2 = Similarity.buildIvf2(base, nParents = 2, fanout = 3, seed = 42L)
    val coded = Similarity.encodePq2(i2, pq)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf2_pq").toString
    def bytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).fold(0L)(_.map(walk).sum)
        else f.length()
      walk(new java.io.File(d))
    }
    try {
      // persist both halves; loaded search == in-memory search row for row
      Similarity.saveIvf2(coded, dir)
      Similarity.savePq(pq, dir)
      val loaded = Similarity.loadIvf2(spark, dir)
      val loadedPq = Similarity.loadPq(spark, dir)
      val a = Similarity.searchIvf2Pq(coded, pq, queries, k = 5, nProbe = 3)
        .orderBy("query_id", "rank").collect()
      val b = Similarity.searchIvf2Pq(loaded, loadedPq, queries, k = 5,
          nProbe = 3)
        .orderBy("query_id", "rank").collect()
      assert(a.nonEmpty && a.toSeq == b.toSeq)
      // exhaustive hierarchical probe == exhaustive FLAT probe over the
      // same coded inner index: the descent only picks cells, the scores
      // are the same reconstruction fold
      val h = Similarity.searchIvf2Pq(coded, pq, queries, k = 5,
          nProbe = 6, probeParents = 2)
        .orderBy("query_id", "rank").collect()
      val f = Similarity.searchIvfPq(coded.index, pq, queries, k = 5,
          nProbe = 6)
        .orderBy("query_id", "rank").collect()
      assert(h.toSeq == f.toSeq)
      // the byte ladder on the TWO-LEVEL layout: pq < i8 < raw over the
      // same rows, same one-file layout
      val cmpDir = java.nio.file.Files.createTempDirectory("graft_cmp2").toString
      try {
        i2.index.assigned.coalesce(1)
          .write.mode("overwrite").parquet(s"$cmpDir/raw")
        Similarity.quantizeIvf(i2.index).assigned.coalesce(1)
          .write.mode("overwrite").parquet(s"$cmpDir/i8")
        coded.index.assigned.coalesce(1)
          .write.mode("overwrite").parquet(s"$cmpDir/pq")
        val (raw, i8, pqB) =
          (bytes(s"$cmpDir/raw"), bytes(s"$cmpDir/i8"), bytes(s"$cmpDir/pq"))
        assert(i8 < raw, s"int8 $i8 not smaller than raw $raw")
        assert(pqB < i8, s"pq $pqB not smaller than int8 $i8")
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cmpDir))
      }
    } finally {
      i2.index.assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      spark.catalog.clearCache()
    }
  }

  test("retrain re-cells a PQ-coded index on its reconstructions, codes byte-exact") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 4)
    val pq = PqTraining.trainPq(emb, m = 16, nCodes = 32, seed = 11L)
    def codesOf(assigned: org.apache.spark.sql.DataFrame) =
      assigned.select("nbr_id", "pq_codes").collect()
        .map(r => r.getLong(0) -> r.getSeq[Byte](1).toSeq).toMap
    // ---- flat: a PQ dir re-trains on its reconstructions; exhaustive
    //      probe results are IDENTICAL before and after (cells cannot
    //      matter at full probe; scores come from the same codes)
    val flatDir = java.nio.file.Files.createTempDirectory("graft_pq_rt").toString
    val bareDir = java.nio.file.Files.createTempDirectory("graft_pq_rt3").toString
    try {
      val flat = Similarity.buildIvf(emb, nLists = 4, seed = 42L)
      val coded = Similarity.encodePq(flat, pq)
      Similarity.saveIvf(coded, flatDir)
      Similarity.savePq(pq, flatDir)
      flat.assigned.unpersist()
      val before = Similarity.searchIvfPq(Similarity.loadIvf(spark, flatDir),
          Similarity.loadPq(spark, flatDir), queries, k = 5, nProbe = 4)
        .orderBy("query_id", "rank").collect().toSeq
      val codesBefore = codesOf(Similarity.loadIvf(spark, flatDir).assigned)
      Similarity.retrainIvf(spark, flatDir, nLists = 8, seed = 7L)
      val reloaded = Similarity.loadIvf(spark, flatDir)
      assert(reloaded.centroids.count() == 8)
      assert(codesOf(reloaded.assigned) == codesBefore,
        "re-celling must keep every stored code byte-exact")
      val after = Similarity.searchIvfPq(reloaded,
          Similarity.loadPq(spark, flatDir), queries, k = 5, nProbe = 8)
        .orderBy("query_id", "rank").collect().toSeq
      assert(before.nonEmpty && after == before)
      // ---- a PQ layout without its codebooks cannot retrain — fail fast,
      //      never train on garbage
      val bare = Similarity.buildIvf(emb, nLists = 2, seed = 5L)
      Similarity.saveIvf(Similarity.encodePq(bare, pq), bareDir)
      bare.assigned.unpersist()
      val e = intercept[IllegalArgumentException] {
        Similarity.retrainIvf(spark, bareDir, nLists = 4, seed = 6L)
      }
      assert(e.getMessage.contains("savePq"))
    } finally {
      Seq(flatDir, bareDir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
      spark.catalog.clearCache()
    }
  }

  test("retrain fails fast on a stale crash-leftover temp root and on a false rename") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 100)
    val flatDir = java.nio.file.Files.createTempDirectory("graft_stale_f").toString
    try {
      val flat = Similarity.buildIvf(emb, nLists = 2, seed = 3L)
      Similarity.saveIvf(flat, flatDir)
      flat.assigned.unpersist()
      // a surviving temp root is RECOVERY MATERIAL: retraining over it
      // would rename into it and then delete it — fail fast instead
      assert(new java.io.File(s"$flatDir/__retraining").mkdirs())
      val e1 = intercept[IllegalArgumentException] {
        Similarity.retrainIvf(spark, flatDir, nLists = 2, seed = 4L)
      }
      assert(e1.getMessage.contains("__retraining"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(flatDir))
      spark.catalog.clearCache()
    }
  }

  test("PQ-filtered search: true pre-filter top-k over reconstructions") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 4)
    val attrs = emb.select(col("vec_id"), (col("vec_id") % 2 === 0).as("keep"))
    val pq = PqTraining.trainPq(emb, m = 16, nCodes = 32, seed = 11L)
    val i2 = Similarity.buildIvf2(emb, nParents = 2, fanout = 3, seed = 42L)
    val coded = Similarity.encodePq2(i2, pq)
    def tup(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getAs[Number](3).intValue)).toSeq
    try {
      val got = Similarity.searchIvfPqFiltered(coded.index, pq, attrs,
          queries, k = 5, nProbe = 6, pred = col("keep"))
        .orderBy("query_id", "rank").collect()
      // expected: the FULL exhaustive PQ ranking post-filtered and
      // re-ranked — with every candidate ranked, pre- and post-filter
      // must agree row for row (ids, scores, ranks)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
      val expected = Similarity.searchIvfPq(coded.index, pq, queries,
          k = 500, nProbe = 6)
        .join(attrs.withColumnRenamed("vec_id", "nbr_id"), Seq("nbr_id"))
        .filter(col("keep"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("query_id"), col("nbr_id"), col("cosine"), col("rk"))
        .orderBy("query_id", "rk").collect()
      assert(got.nonEmpty && tup(got) == tup(expected))
      // the predicate is respected and a selective predicate never
      // starves the top-k: k rows per query, all of them eligible
      assert(got.forall(_.getLong(1) % 2 == 0))
      assert(got.groupBy(_.getLong(0)).values.forall(_.length == 5))
      // the fixture actually exercises pre-filter semantics: some plain
      // top-k row is filtered-out (so post-filtering the shortlist would
      // starve below k where the pre-filter path did not)
      val plain = Similarity.searchIvfPq(coded.index, pq, queries,
        k = 5, nProbe = 6).collect()
      assert(plain.exists(_.getLong(1) % 2 == 1),
        "fixture too easy: plain top-k already all-eligible")
    } finally {
      i2.index.assigned.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("int8 store composes with the two-level probe and with the filtered path") {
    // closes the quantization x layout x predicate matrix: raw/PQ already
    // ride both probes gated; the int8 probeStore path is shared code, so
    // these are composition PINS, not new machinery
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300)
    val queries = emb.filter(col("vec_id") < 4)
    val i2 = Similarity.buildIvf2(emb, nParents = 2, fanout = 3, seed = 42L)
    val q2 = Ivf2IndexQuantized(i2)
    try {
      // exhaustive two-level probe over the int8 inner store == exhaustive
      // FLAT probe over the same quantized index (the descent only picks
      // cells; scores are the same dequantized cosine fold)
      val h = Similarity.searchIvf2(q2, queries, k = 5, nProbe = 6,
          probeParents = 2)
        .orderBy("query_id", "rank").collect()
      val f = Similarity.searchIvf(q2.index, queries, k = 5, nProbe = 6)
        .orderBy("query_id", "rank").collect()
      assert(h.nonEmpty && h.toSeq == f.toSeq)
      // filtered search over the int8 store: pre-filter top-k over the
      // dequantized vectors — equals the post-filtered FULL ranking
      val attrs = emb.select(col("vec_id"), (col("vec_id") % 2 === 0).as("keep"))
      val got = Similarity.searchIvfFiltered(q2.index, attrs, queries,
          k = 5, nProbe = 6, pred = col("keep"))
        .orderBy("query_id", "rank").collect()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("cosine"), asc("nbr_id"))
      val expected = Similarity.searchIvf(q2.index, queries, k = 500,
          nProbe = 6)
        .join(attrs.withColumnRenamed("vec_id", "nbr_id"), Seq("nbr_id"))
        .filter(col("keep"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("query_id"), col("nbr_id"), col("cosine"), col("rk"))
        .orderBy("query_id", "rk").collect()
      def tup(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getAs[Number](3).intValue)).toSeq
      assert(got.nonEmpty && tup(got) == tup(expected))
      assert(got.forall(_.getLong(1) % 2 == 0))
    } finally {
      i2.index.assigned.unpersist()
      spark.catalog.clearCache()
    }
  }

  private def Ivf2IndexQuantized(i2: Similarity.Ivf2Index): Similarity.Ivf2Index =
    Similarity.Ivf2Index(Similarity.quantizeIvf(i2.index), i2.coarse, i2.fanout)
}
