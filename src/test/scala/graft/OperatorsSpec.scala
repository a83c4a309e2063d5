package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Dedup, Resample, Sessionize, Windows}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("backward as-of join: latest prior right row, inclusive at equality") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p1"),
      (1L, ts("2024-01-01 12:00:00"), "p2"),
      (2L, ts("2024-01-01 09:00:00"), "p3")).toDF("k", "t", "id")
    val right = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1.0),
      (1L, ts("2024-01-01 12:00:00"), 2.0), // equal ts -> matched (>=)
      (2L, ts("2024-01-01 09:30:00"), 3.0)) // after left -> no match
      .toDF("k", "t", "v")
    val out = AsOfJoin.backward(left, right, "k", "t", Seq("t", "v"))
      .orderBy("id").collect()
    assert(out.map(r => Option(r.getAs[Any]("asof_v"))).toSeq ==
      Seq(Some(1.0), Some(2.0), None))
  }

  test("nearest-to as-of lookup picks min |t - at|, earliest on tie") {
    val df = Seq(
      (1L, ts("2024-01-01 00:00:00"), "a"),
      (1L, ts("2024-01-03 00:00:00"), "b"), // tie with "a" around Jan 2 -> earliest wins
      (2L, ts("2024-01-05 00:00:00"), "c")).toDF("k", "t", "id")
    val out = AsOfJoin.nearestTo(df, "k", "t", lit("2024-01-02 00:00:00"))
      .orderBy("k").select("id").as[String].collect()
    assert(out.toSeq == Seq("a", "c"))
  }

  test("sessionize splits on gap and rolls up sessions") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00")),
      (1L, ts("2024-01-01 00:10:00")),
      (1L, ts("2024-01-01 01:00:00")), // 50 min gap > 30 -> new session
      (2L, ts("2024-01-01 00:00:00"))).toDF("user_id", "t")
    val out = Sessionize.sessions(ev, "user_id", "t", gapMinutes = 30)
      .orderBy("user_id", "session_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("n_events"))).toSeq ==
      Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L)))
  }

  test("trailing moving average has the pandas rolling(n) null head") {
    val df = (1 to 5).map(i => (i, i.toDouble)).toDF("ord", "v")
    val out = Windows.trailingAvg(df, "ord", "v", n = 3, outCol = "ma")
      .orderBy("ord").select("ma").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 2.0 && out(4).getDouble(0) == 4.0)
  }

  test("exact dedup: keeper is lowest id per content group") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("id", "text")
    val out = Dedup.exact(docs, "id", "text").orderBy("id").collect()
    assert(out.map(_.getAs[Boolean]("is_keeper")).toSeq == Seq(true, true, false))
    assert(out.map(_.getAs[Long]("dup_count")).toSeq == Seq(2L, 1L, 2L))
  }

  test("jaccard and minhash-LSH find a near-duplicate pair") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words about spark engines and scale"))
      .toDF("id", "text")
    val j = Dedup.jaccardPairs(docs, "id", "text", threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
    assert(j.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(j(0).getAs[Double]("jaccard") > 0.7)
    val m = Dedup.minhashLshPairs(docs, "id", "text", k = 16, rowsPerBand = 2,
      threshold = 0.5).collect()
    assert(m.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("containment flags an embedded document that jaccard misses") {
    val small = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, small),
      (2L, small + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")),
      (3L, "unrelated content entirely different here now")).toDF("id", "text")
    // doc 1 is fully contained in doc 2 -> containment 1.0 on unigram sets
    val c = Dedup.containmentPairs(docs, "id", "text", threshold = 0.9)
      .collect()
    assert(c.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(c(0).getAs[Double]("containment") == 1.0)
    // ...while jaccard dilutes the same pair below any usable threshold
    val j = Dedup.jaccardPairs(docs, "id", "text", threshold = 0.3).collect()
    assert(j.isEmpty)
  }

  test("simhash: identical docs get identical signatures, hamming 0") {
    val docs = Seq((1L, "spark shuffles at scale"), (2L, "spark shuffles at scale"),
      (3L, "unrelated text entirely here")).toDF("id", "text")
    val sig = Dedup.simhash(docs, "id", "text").orderBy("doc_id")
      .select("simhash").as[String].collect()
    assert(sig(0).length == 16 && sig(0) == sig(1) && sig(0) != sig(2))
    val pairs = Dedup.simhashPairs(docs, "id", "text", maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs(0).getAs[Int]("hamming") == 0)
  }

  test("resample densifies to the hour grid and forward-fills gaps") {
    val df = Seq(
      ("bdg", ts("2025-01-01 00:00:00"), 25.0),
      ("bdg", ts("2025-01-01 03:00:00"), 28.0), // 2-hour gap before this
      ("jkt", ts("2025-01-01 00:00:00"), 30.0))
      .toDF("city", "t", "temp")
    val out = Resample.fillForward(df, "city", "t", Seq("temp"))
      .orderBy("city", "t").collect()
    assert(out.length == 5) // bdg 00..03 (4 rows) + jkt 00 (1 row)
    val bdg = out.filter(_.getString(0) == "bdg")
    assert(bdg.map(_.getAs[Double]("temp")).toSeq == Seq(25.0, 25.0, 25.0, 28.0))
    assert(bdg.map(_.getAs[Boolean]("is_observed")).toSeq ==
      Seq(true, false, false, true))
  }

  test("connected components label clusters by min id, chains included") {
    // two clusters: {1,2,3} via a chain (1-2, 2-3; 1-3 never paired) and {5,6}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).orderBy("id").collect()
    assert(comp.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    assert(comp.map(_.getAs[Boolean]("is_keeper")).toSeq ==
      Seq(true, false, false, true, false))
  }

  test("star components match propagation and contract a chain in ~log rounds") {
    // a 40-node path is the adversarial case for min-label propagation:
    // labels crawl one hop per round (O(diameter) ≈ 40 rounds), while the
    // large-star/small-star alternation contracts it in ~O(log n) rounds.
    // Differential: both algorithms must emit identical labels.
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.connectedComponents(pairs, maxIter = 64,
      maxLocalEdges = 0).orderBy("id").collect()
    val starRounds = Dedup.lastRunRounds
    val prop = Dedup.connectedComponentsPropagation(pairs, maxIter = 64)
      .orderBy("id").collect()
    val propRounds = Dedup.lastRunRounds
    assert(star.toSeq == prop.toSeq)
    assert(star.length == 40)
    assert(star.forall(_.getLong(1) == 1L)) // one component rooted at the min
    assert(propRounds >= 30, s"propagation finished in $propRounds rounds?")
    assert(starRounds <= 10, s"alternation took $starRounds rounds")
  }

  test("bounded-local components fast path matches the distributed alternation") {
    // mixed shapes: a chain, a clique, a star, singleton-free isolated pairs —
    // the local union-find (default maxLocalEdges) must label them exactly as
    // the star alternation (maxLocalEdges = 0 forces the distributed path)
    val pairs = ((1L until 12L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (30L, 40L), (50L, 31L),
        (31L, 32L), (60L, 61L))).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs).orderBy("id").collect()
    assert(Dedup.lastRunRounds == 0, "expected the bounded-local path")
    val dist = Dedup.connectedComponents(pairs, maxLocalEdges = 0)
      .orderBy("id").collect()
    assert(Dedup.lastRunRounds > 0, "expected the distributed path")
    assert(local.toSeq == dist.toSeq)
  }

  test("connected components: reliable-checkpoint mode reaches the same fixpoint") {
    // a longer chain (diameter 4) forces several label-propagation rounds, so
    // both the checkpoint round (iter % 3 == 0) and the persist-between
    // branch are exercised
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
      .toDF("id_a", "id_b")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    try {
      val local = Dedup.connectedComponents(pairs).orderBy("id").collect()
      val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir),
        checkpointInterval = 3, maxLocalEdges = 0).orderBy("id").collect()
      assert(reliable.toSeq == local.toSeq)
      assert(reliable.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (8L, 8L), (9L, 8L)))
      // the reliable mode actually wrote checkpoint data outside the executors
      def anyFiles(p: java.io.File): Boolean =
        p.isFile || Option(p.listFiles).exists(_.exists(anyFiles))
      assert(anyFiles(new java.io.File(dir)), "no reliable checkpoint written")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("embedding near-dup within sign buckets") {
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f, 0.5f)),
      (2L, Seq(1.1f, 2.1f, 0.4f)),  // same bucket, cosine ~1
      (3L, Seq(-1.0f, 2.0f, 0.5f))) // cosine 0.62 vs id 1 — below threshold
      .toDF("id", "embedding")
    val out = Dedup.embeddingNearDup(emb, "id", "embedding", threshold = 0.9,
      bucketBits = 3, dim = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
  }

  test("label centroids: distributed mean agrees with the exact fold") {
    import graft.operators.Centroids
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("label"), col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fast = Centroids.meanByKey(
        emb.withColumnRenamed("v", "embedding"), "label", "embedding")
      .orderBy("key").collect()
    assert(fast.map(_.getAs[scala.collection.Seq[Double]]("centroid").length).forall(_ == 64))
    assert(fast.map(_.getAs[Long]("n_vecs")).sum == 500)
    val dims = (1 to 4).map(i => Centroids.exactDimMean(col("vec_id"),
      element_at(col("v"), i)).as(s"c$i"))
    val exact = emb.groupBy("label").agg(dims.head, dims.tail: _*)
      .orderBy("label").collect()
    fast.zip(exact).foreach { case (f, e) =>
      val c = f.getAs[scala.collection.Seq[Double]]("centroid")
      (1 to 4).foreach { i =>
        assert(math.abs(c(i - 1) - e.getAs[Double](s"c$i")) < 1e-9,
          s"dim $i drifted for key ${f.get(0)}")
      }
    }
  }

  test("label centroids: ragged dims are flagged, consistent keys stay exact") {
    import graft.operators.Centroids
    val emb = Seq(
      (1L, "ok", Seq(1.0, 2.0, 3.0)),
      (2L, "ok", Seq(3.0, 4.0, 5.0)),
      (3L, "ragged", Seq(1.0, 2.0, 3.0)),
      (4L, "ragged", Seq(10.0, 20.0)), // one dim short: dim-3 mean covers 1 vec
      (5L, "lone", Seq(7.0)))
      .toDF("vec_id", "label", "embedding")
    val out = Centroids.meanByKey(emb, "label", "embedding")
      .orderBy("key").collect()
    val byKey = out.map(r => r.getString(0) ->
      ((r.getAs[scala.collection.Seq[Double]]("centroid"),
        r.getAs[Long]("n_vecs"), r.getAs[Boolean]("dims_consistent")))).toMap
    assert(byKey("ok")._3 && byKey("lone")._3, "uniform groups must pass the guard")
    assert(byKey("ok")._1 == Seq(2.0, 3.0, 4.0) && byKey("ok")._2 == 2L)
    // the silent-wrong hazard the flag exists for: dim 3 averaged over ONE
    // vector while dims 1-2 averaged over two — flagged, not hidden
    assert(!byKey("ragged")._3, "mixed-length group must be flagged")
    assert(byKey("ragged")._1 == Seq(5.5, 11.0, 3.0) && byKey("ragged")._2 == 2L)
  }

  test("label centroids: empty and NULL vectors trip the guard too") {
    import graft.operators.Centroids
    // posexplode alone emits NO rows for these — without the sentinel row
    // count the group below would report dims_consistent=true with the
    // NULL/empty members silently excluded from every dimension's mean
    val emb = Seq(
      (1L, "mixed", Seq(1.0, 2.0)),
      (2L, "mixed", Seq(3.0, 4.0)),
      (3L, "mixed", Seq.empty[Double]),
      (4L, "allempty", Seq.empty[Double]))
      .toDF("vec_id", "label", "embedding")
      .union(Seq((5L, "mixed"), (6L, "allempty")).toDF("vec_id", "label")
        .withColumn("embedding", lit(null).cast("array<double>")))
    val byKey = Centroids.meanByKey(emb, "label", "embedding")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[scala.collection.Seq[Double]]("centroid"),
          r.getAs[Long]("n_vecs"), r.getAs[Boolean]("dims_consistent")))).toMap
    assert(!byKey("mixed")._3, "empty/NULL members must flag the group")
    assert(byKey("mixed")._1 == Seq(2.0, 3.0) && byKey("mixed")._2 == 2L,
      "centroid still emitted over the real vectors for inspection")
    assert(!byKey("allempty")._3 && byKey("allempty")._2 == 0L &&
      byKey("allempty")._1.isEmpty, "all-empty keys emit [] with n_vecs=0, flagged")
  }

  test("domain extraction and per-key cap") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "read https://a.example.org/x and http://b.example.net/y?z=1 now"),
      (2L, "nothing here"),
      (3L, "twice https://a.example.org/1 https://a.example.org/2"))
      .toDF("doc_id", "text")
    val edges = Curation.domainEdges(docs, "doc_id", "text")
      .orderBy("doc_id", "domain").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(edges.toSeq == Seq(
      (1L, "a.example.org"), (1L, "b.example.net"),
      (3L, "a.example.org"), (3L, "a.example.org"))) // occurrences kept
    // cap: at most 2 rows per key, lowest ids win, ties impossible (unique id)
    val many = Seq((1L, "k1"), (2L, "k1"), (3L, "k1"), (4L, "k2"))
      .toDF("doc_id", "k")
    val capped = Curation.capPerKey(many, col("k"), n = 2,
        order = Seq(col("doc_id")), idCol = col("doc_id"))
      .orderBy("doc_id").collect().map(_.getLong(0))
    assert(capped.toSeq == Seq(1L, 2L, 4L))
  }

  test("capPerKey stays shard-bounded under a heavily-tied order column") {
    import graft.operators.{Curation, Sampling}
    // the natural "top-n highest-quality docs per domain" call: order leads
    // with a low-cardinality score. The shard hash MUST come from the unique
    // id — hashing the score would put every tied row into one shard and
    // re-create the hot partition the two-phase design exists to avoid.
    val shards = 16
    val rows = (1L to 2000L).map(i => (i, "k", i % 3 * 0.1)) // 3 distinct scores
    val df = rows.toDF("doc_id", "k", "score")
    val order = Seq(desc("score"), col("doc_id"))
    // phase-1 window partitions are (key, hashBucket(id)) groups: bounded
    val sizes = df
      .groupBy(col("k"), Sampling.hashBucket(col("doc_id").cast("string"), shards, "capshard"))
      .count().collect().map(_.getAs[Long]("count"))
    assert(sizes.length == shards, "unique-id hash must spread across all shards")
    assert(sizes.max <= 2 * 2000 / shards,
      s"phase-1 partition ${sizes.max} exceeds ~2x the ideal shard bound")
    // and the tied hash source would NOT be bounded (the footgun, pinned):
    val tied = df
      .groupBy(col("k"), Sampling.hashBucket(col("score").cast("string"), shards, "capshard"))
      .count().collect().map(_.getAs[Long]("count"))
    assert(tied.max >= 2000 / 3, "score-hash concentrates ties (why idCol exists)")
    // correctness under the tied order: identical to the single global window
    val got = Curation.capPerKey(df, col("k"), n = 25, order = order,
        idCol = col("doc_id"), shards = shards)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy(order: _*)
    val want = df.withColumn("r", row_number().over(w)).filter(col("r") <= 25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want)
  }

  test("sequence packing fills budget bins contiguously per shard") {
    import graft.operators.Packing
    val docs = Seq((1L, 4L), (2L, 5L), (3L, 3L), (4L, 6L), (5L, 2L))
      .toDF("doc_id", "n_tokens")
    // one shard -> a single deterministic layout in id order:
    // prefix sums 0,4,9,12,18 -> bins 0,0,0,1,1 at budget 10
    val packed = Packing.packBins(docs, "doc_id", col("n_tokens"),
      budgetTokens = 10L, shards = 1).orderBy("doc_id")
    assert(packed.select("bin").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 0L, 0L, 1L, 1L))
    assert(packed.select("tokens_before").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 4L, 9L, 12L, 18L))
    val stats = Packing.binStats(packed, col("n_tokens"), budgetTokens = 10L)
      .orderBy("bin").collect()
    assert(stats.map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_tokens"))).toSeq == Seq((0L, 3L, 12L), (1L, 2L, 8L)))
    // a doc can straddle its bin boundary (bin 0 fills to 12/10); no doc is
    // ever split and every doc lands in exactly one bin
    assert(stats.map(_.getAs[Long]("n_docs")).sum == 5)
    // sharding is deterministic: same layout on re-evaluation
    val again = Packing.packBins(docs, "doc_id", col("n_tokens"),
      budgetTokens = 10L, shards = 4)
    assert(again.collect().toSet == Packing.packBins(docs, "doc_id",
      col("n_tokens"), budgetTokens = 10L, shards = 4).collect().toSet)
    // materialize: id-ordered concatenation, one sequence per bin
    val withText = docs.withColumn("text", concat(lit("d"), col("doc_id")))
    val seqs = Packing.materialize(
        Packing.packBins(withText, "doc_id", col("n_tokens"),
          budgetTokens = 10L, shards = 1),
        "doc_id", "text", sep = " ")
      .orderBy("bin").collect()
    assert(seqs.map(_.getAs[String]("sequence")).toSeq ==
      Seq("d1 d2 d3", "d4 d5"))
  }

  test("decreasing-length capped packing raises fill ratio, same determinism") {
    import graft.operators.Packing
    // alternating medium (240) and short (40) docs at budget 512: id-order
    // next-fit closes every bin at 240+40 = 280 (the next 240 never fits);
    // decreasing order pairs the 240s (480/bin) then runs the short tail at
    // 12 x 40 = 480/bin — the classic next-fit-decreasing win
    val docs = (1L to 120L)
      .map(i => (i, if (i % 2 == 0) 240L else 40L)).toDF("doc_id", "n_tokens")
    def meanFill(order: Seq[org.apache.spark.sql.Column]): Double = {
      val packed = Packing.packBinsCapped(docs, "doc_id", col("n_tokens"),
        budgetTokens = 512L, shards = 2, order = order)
      Packing.binStats(packed, col("n_tokens"), budgetTokens = 512L)
        .agg(avg("fill_ratio")).collect().head.getDouble(0)
    }
    val idFill = meanFill(Nil)
    val nfdFill = meanFill(Seq(desc("n_tokens")))
    assert(nfdFill > idFill,
      f"length-desc layout should improve fill ($nfdFill%.3f vs $idFill%.3f)")
    // capped bins never exceed budget (no doc here is itself over budget)
    val stats = Packing.binStats(
      Packing.packBinsCapped(docs, "doc_id", col("n_tokens"), budgetTokens = 512L,
        shards = 2, order = Seq(desc("n_tokens"))),
      col("n_tokens"), budgetTokens = 512L).collect()
    assert(stats.forall(_.getAs[Long]("n_tokens") <= 512L))
    // an over-budget doc still lands alone in its own bin, never split
    val big = Seq((1L, 600L), (2L, 100L)).toDF("doc_id", "n_tokens")
    val bigPacked = Packing.packBinsCapped(big, "doc_id", col("n_tokens"),
      budgetTokens = 512L, shards = 1).collect()
    assert(bigPacked.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("bin"))).toSet == Set((1L, 0L), (2L, 1L)))
    // identical determinism: re-evaluating the ordered layout reproduces it
    val a = Packing.packBinsCapped(docs, "doc_id", col("n_tokens"), budgetTokens = 512L,
      shards = 2, order = Seq(desc("n_tokens"))).collect().toSet
    val b = Packing.packBinsCapped(docs, "doc_id", col("n_tokens"), budgetTokens = 512L,
      shards = 2, order = Seq(desc("n_tokens"))).collect().toSet
    assert(a == b)
  }

  test("first-fit packing matches a naive sequential first-fit and never overflows") {
    import graft.operators.Packing
    // varied sizes incl. docs over budget; enough rows that the maxResidual
    // probe-skip shortcut exercises both the hit and retighten paths
    val docs = (1L to 400L)
      .map(i => (i, (i * 2654435761L) % 600L + 1L)).toDF("doc_id", "n_tokens")
    val budget = 512L
    val order = Seq(desc("n_tokens"))
    val out = Packing.packBinsFirstFit(docs, "doc_id", col("n_tokens"),
        budgetTokens = budget, shards = 4, order = order)
      .select("doc_id", "n_tokens", "shard", "bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // differential reference: per shard, lay out in (n_tokens desc, id) order
    // and run plain sequential first-fit with no shortcut
    val want: Map[Long, Long] = out.groupBy(_._3).toSeq.flatMap { case (_, rows) =>
      val fills = scala.collection.mutable.ArrayBuffer[Long]()
      rows.sortBy(r => (-r._2, r._1)).map { case (id, t, _, _) =>
        val i = fills.indexWhere(_ + t <= budget)
        if (i >= 0) { fills(i) += t; id -> i.toLong }
        else { fills += t; id -> (fills.length - 1).toLong }
      }
    }.toMap
    assert(out.forall { case (id, _, _, bin) => bin == want(id) },
      "operator bins must equal the naive sequential first-fit per shard")
    // no bin exceeds the budget except a single over-budget doc alone
    val byBin = out.groupBy(r => (r._3, r._4)).values
    assert(byBin.forall(rows =>
      rows.map(_._2).sum <= budget || (rows.length == 1 && rows.head._2 > budget)))
    // first-fit reopens earlier bins: strictly fewer bins than next-fit on a
    // fixture built for it (300s open two bins, the 212s must come BACK)
    val ffWins = Seq((1L, 300L), (2L, 300L), (3L, 212L), (4L, 212L))
      .toDF("doc_id", "n_tokens")
    def nBins(f: (org.apache.spark.sql.DataFrame, String, org.apache.spark.sql.Column,
        Long, Int, String, Seq[org.apache.spark.sql.Column]) => org.apache.spark.sql.DataFrame) =
      f(ffWins, "doc_id", col("n_tokens"), budget, 1, "", order)
        .select("bin").distinct().count()
    assert(nBins(Packing.packBinsFirstFit) == 2 && nBins(Packing.packBinsCapped) == 3,
      "FFD must pack the 300/212 fixture into 2 bins where NFD needs 3")
  }

  test("decontamination flags benchmark overlap and clean() drops it") {
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // = benchmark doc
      (2L, "the quick brown fox sleeps all day long today"), // partial overlap
      (3L, "completely unrelated text about spark plans"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val f = Decontaminate.fractions(corpus, bench, "doc_id", "text",
      threshold = 0.5).orderBy("doc_id").collect()
    assert(f.map(_.getAs[Double]("contamination")).head == 1.0) // exact copy
    assert(f(1).getAs[Double]("contamination") > 0.0 &&
      f(1).getAs[Double]("contamination") < 0.5) // shares "the quick brown" head
    assert(f(2).getAs[Long]("n_matched") == 0L)
    assert(f.map(_.getAs[Boolean]("is_contaminated")).toSeq ==
      Seq(true, false, false))
    val kept = Decontaminate.clean(corpus, bench, "doc_id", "text",
      threshold = 0.5).select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("n-gram collision rule: one shared 13-gram flags the document") {
    import graft.operators.Decontaminate
    val benchSentence = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliett kilo lima mike" // exactly 13 tokens
    val corpus = Seq(
      (1L, s"intro words then $benchSentence and a long trailing tail here"),
      (2L, "no overlap with the benchmark at all in this document text body " +
        "that runs well past thirteen tokens to form real shingles"),
      (3L, "alpha bravo charlie delta echo foxtrot golf hotel india juliett " +
        "kilo lima DIFFERENT so the window never matches anywhere"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, s"some context $benchSentence closing words"))
      .toDF("doc_id", "text")
    val r = Decontaminate.ngramCollisions(corpus, bench, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r.map(_.getAs[Boolean]("is_contaminated")).toSeq ==
      Seq(true, false, false))
    assert(r.head.getAs[Long]("n_collisions") >= 1L)
    // fraction rule at 0.5 would MISS doc 1 (one 13-gram in a long doc);
    // the collision rule exists precisely for that case
    val frac = Decontaminate.fractions(corpus, bench, "doc_id", "text",
      threshold = 0.5, shingleK = 13).orderBy("doc_id").collect()
    assert(!frac.head.getAs[Boolean]("is_contaminated"))
    val kept = Decontaminate.ngramClean(corpus, bench, "doc_id", "text")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    assert(kept.toSeq == Seq(2L, 3L))
  }

  test("hash split is stable, exhaustive, and salt-independent samples differ") {
    import graft.operators.Sampling
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val a = docs.select(col("doc_id"), Sampling.split(col("doc_id")).as("s"))
    val b = docs.select(col("doc_id"), Sampling.split(col("doc_id")).as("s"))
    // same assignment on every evaluation (pure function of the key)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val counts = a.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("train", "valid", "test")) // exhaustive
    assert(counts("train") > counts("valid")) // ~80/10/10
    // a different salt draws a (near-)independent sample
    val s1 = Sampling.sampleByHash(docs, col("doc_id"), 10, salt = "a").count()
    val s2 = Sampling.sampleByHash(docs, col("doc_id"), 10, salt = "b")
    val overlap = Sampling.sampleByHash(docs, col("doc_id"), 10, salt = "a")
      .select("doc_id").intersect(s2.select("doc_id")).count()
    assert(overlap < s1, "salted samples should not coincide")
  }

  test("temperature mixture: T=1 keeps all, T>1 flattens, smallest source at 100%") {
    import graft.operators.Sampling
    // sources with 400 / 100 / 25 docs — a 16:4:1 head-heavy mixture
    val docs = ((1 to 400).map(i => (i.toLong, "web")) ++
      (401 to 500).map(i => (i.toLong, "books")) ++
      (501 to 525).map(i => (i.toLong, "code"))).toDF("doc_id", "source")
    def rates(t: Double): Map[String, Double] =
      Sampling.temperatureRates(docs, "source", t).collect()
        .map(r => r.getAs[String]("source") -> r.getAs[Double]("rate_pct")).toMap
    // T = 1: proportional sampling is a no-op — every source keeps 100%
    assert(rates(1.0).values.forall(v => math.abs(v - 100.0) < 1e-9))
    // T = 2 (alpha = .5): rate ∝ 1/sqrt(n) — smallest keeps 100%, web keeps
    // sqrt(25/400) = 25%, books sqrt(25/100) = 50%
    val r2 = rates(2.0)
    assert(math.abs(r2("code") - 100.0) < 1e-9)
    assert(math.abs(r2("web") - 25.0) < 1e-9 && math.abs(r2("books") - 50.0) < 1e-9)
    // flattening is monotone in T: higher temperature cuts the head harder
    // (T=4: 16^(-0.75) = 12.5% < 25%)
    assert(rates(4.0)("web") < r2("web"))
    // the sample realizes the rates deterministically and only ever drops
    val kept = Sampling.temperatureSample(docs, col("doc_id"), "source", 2.0, ":t")
    val counts = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("code") == 25L) // 100% rate keeps every row
    assert(counts("web") < 400L && counts("books") < 100L)
    val again = Sampling.temperatureSample(docs, col("doc_id"), "source", 2.0, ":t")
    assert(kept.orderBy("doc_id").collect().toSeq == again.orderBy("doc_id").collect().toSeq)
  }

  test("group split is leakage-free: no group ever straddles two splits") {
    import graft.operators.Sampling
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), md5(col("text")).as("grp"))
    val sp = Sampling.splitByGroup(docs, col("grp"), salt = ":g1")
    // exact duplicates share a grp; hashing the GROUP key means none of
    // them can land on both sides of a train/eval boundary
    val straddlers = sp.groupBy("grp")
      .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1).count()
    assert(straddlers == 0L)
    val names = sp.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(names == Set("train", "valid", "test"))
  }

  test("component split closes the pair graph transitively; singletons keep their own label") {
    import graft.operators.Sampling
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z"))
      .toDF("doc_id", "text")
    // chain 1~2, 2~3: 1 and 3 were never paired but must share a split
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val sp = Sampling.splitByComponents(docs, "doc_id", pairs, salt = ":cs1")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("comp"), r.getAs[String]("split"))).toMap
    assert(Seq(1L, 2L, 3L).map(sp(_)._1).distinct == Seq(1L)) // comp = min id
    assert(Seq(1L, 2L, 3L).map(sp(_)._2).distinct.size == 1)  // one split
    assert(sp(9L)._1 == 9L) // unpaired doc is its own singleton component
    // deterministic: a rerun draws the identical assignment
    val again = Sampling.splitByComponents(docs, "doc_id", pairs, salt = ":cs1")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(sp.map { case (k, v) => k -> v._2 } == again)
  }

  test("soft dedup weights sum to 1 per cluster and the keep rule is the integer hash law") {
    import graft.operators.Sampling
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (9L, "z"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val r = Dedup.softDedupSample(docs, "doc_id", pairs, salt = ":sw1").collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("cluster_size"), x.getAs[Double]("weight"),
          x.getAs[Boolean]("kept"))).toMap
    assert(Seq(1L, 2L, 3L).forall(id => r(id)._1 == 3L && r(id)._2 == 1.0 / 3))
    assert(r(9L)._1 == 1L && r(9L)._2 == 1.0 && r(9L)._3) // singletons always keep
    // kept is exactly fp60(id ++ salt) < floor(2^60 / size) — reproducible,
    // engine-free, and P(keep) tracks 1/size at ANY cluster size (no
    // bucket-space floor that would over-keep giant cliques)
    val fps = docs.select(col("doc_id"),
        Dedup.tokenFp60(concat(col("doc_id").cast("string"), lit(":sw1"))).as("b"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach { case (id, (size, _, kept)) =>
      assert(kept == (fps(id) < (1L << 60) / size), s"doc $id") }
    // cluster weight mass: each near-dup cluster contributes ~1 effective doc
    assert(math.abs(Seq(1L, 2L, 3L).map(r(_)._2).sum - 1.0) < 1e-12)
  }

  test("cross-corpus linkage pairs only across frames; union df-cut drops shared stopwords") {
    import graft.operators.Dedup
    val left = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), // within-left dup: must NOT pair
      (3L, "one two three four")).toDF("doc_id", "text")
    val right = Seq(
      (10L, "alpha beta gamma epsilon"), // near-dup of 1 and 2 across frames
      (11L, "five six seven eight")).toDF("doc_id", "text")
    val r = Dedup.jaccardJoinAcross(left, right, "doc_id", "text",
        threshold = 0.5).collect()
      .map(x => (x.getAs[Long]("id_left"), x.getAs[Long]("id_right"))).toSet
    assert(r == Set((1L, 10L), (2L, 10L))) // both lefts link to the one right
    // a token frequent across BOTH sides is cut by the union df: with
    // maxTokenDf = 1 every shared token dies and no pair survives
    val cut = Dedup.jaccardJoinAcross(left, right, "doc_id", "text",
      threshold = 0.1, maxTokenDf = 1L)
    assert(cut.count() == 0L)
    spark.catalog.clearCache()
  }

  test("corpus diff classifies added, removed, modified, retained by content hash") {
    import graft.operators.Diagnostics
    val old = Seq(
      (1L, "same text", "web"), (2L, "old version", "web"),
      (3L, "gone soon", "books")).toDF("doc_id", "text", "source")
    val neu = Seq(
      (1L, "same text", "web"), (2L, "new version", "web"),
      (4L, "brand new", "code")).toDF("doc_id", "text", "source")
    val r = Diagnostics.corpusDiff(old, neu, "doc_id", "text", "source")
      .collect().map(x => x.getAs[Long]("id") ->
        (x.getAs[String]("status"), x.getAs[String]("source"))).toMap
    assert(r(1L) == (("retained", "web")))
    assert(r(2L) == (("modified", "web")))
    assert(r(3L) == (("removed", "books"))) // source falls back to the old side
    assert(r(4L) == (("added", "code")))
  }

  test("tf-idf top-k ranks rare terms above common ones") {
    import graft.operators.TermWeights
    val docs = Seq((1L, "apple apple banana"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val r = TermWeights.tfIdfTopK(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank").collect()
    // doc 1: apple tf=2 df=1 -> 2*2/1 = 4.0; banana tf=1 df=2 -> 1.0
    assert(r(0).getAs[String]("tok") == "apple" && r(0).getAs[Double]("tf_idf") == 4.0)
    assert(r(1).getAs[String]("tok") == "banana" && r(1).getAs[Double]("tf_idf") == 1.0)
    // doc 2: cherry (df=1) outranks the corpus-common banana (df=2)
    assert(r(2).getAs[String]("tok") == "cherry")
    assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 1, 2))
  }

  test("bm25 ranks saturated tf and rare terms sensibly") {
    import graft.operators.TermWeights
    val docs = Seq(
      (1L, "spark spark spark spark spark spark spark spark filler filler filler filler filler filler"),
      (2L, "spark agg"),
      (3L, "filler noise rows")).toDF("doc_id", "text")
    val qs = Seq((1L, "spark agg")).toDF("query_id", "qtext")
    val r = TermWeights.bm25TopK(docs, "doc_id", "text", qs, "query_id", "qtext", k = 3)
      .orderBy("rank").collect()
    // doc 2 matches BOTH query terms (incl. the rarer "agg") and is short;
    // doc 1's eight "spark"s saturate (tf term is bounded by k1+1) and its
    // length dilutes — multi-term match beats repeated single-term match
    assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L, 1L))
    assert(r(0).getAs[Long]("n_terms") == 2L && r(1).getAs[Long]("n_terms") == 1L)
    assert(r.forall(_.getAs[Double]("score") > 0.0))
    assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2))
  }

  test("mixturePlan caps epochs and reports the realized mixture") {
    import graft.operators.Sampling
    // source a: 100 tokens, b: 1000 tokens; targets 50/50 of a 2000 budget.
    // a would need 10 epochs -> capped at 4 (400 planned); b takes 1 epoch
    // (1000 planned): realized mixture shifts to ~0.286/0.714.
    val docs = Seq(("a", 1L, 100L), ("b", 2L, 400L), ("b", 3L, 600L))
      .toDF("source", "doc_id", "n_toks")
    val weights = Seq(("a", 1.0), ("b", 1.0)).toDF("source", "weight")
    val r = Sampling.mixturePlan(docs, "source", col("n_toks"), weights,
        budgetTokens = 2000L, maxEpochs = 4.0)
      .orderBy("source").collect()
    val a = r(0); val b = r(1)
    assert(a.getAs[Double]("epochs") == 4.0 &&
      a.getAs[Double]("tokens_planned") == 400.0)
    assert(b.getAs[Double]("epochs") == 1.0 &&
      b.getAs[Double]("tokens_planned") == 1000.0)
    assert(math.abs(a.getAs[Double]("realized_w") - 400.0 / 1400.0) < 1e-12)
    assert(math.abs(a.getAs[Double]("target_w") - 0.5) < 1e-12)
    // uncapped when the budget fits: epochs follow the targets exactly
    val r2 = Sampling.mixturePlan(docs, "source", col("n_toks"), weights,
        budgetTokens = 200L, maxEpochs = 4.0)
      .orderBy("source").collect()
    assert(math.abs(r2(0).getAs[Double]("epochs") - 1.0) < 1e-12 &&
      math.abs(r2(1).getAs[Double]("realized_w") - 0.5) < 1e-12)
  }

  test("unimaxPlan water-fills: small sources cap, the rest split evenly, budget conserved") {
    import graft.operators.Sampling
    // sources a/b/c with 100/500/1000 tokens, cap 2 epochs, budget 1800:
    // uniform share 600 -> a caps at 200; remaining 1600 over 2 -> 800 each
    // -> b caps at 1000? no: b's cap is 1000 > 800 -> b uncapped at 800.
    val docs = Seq(
      ("a", 1L, 100L), ("b", 2L, 500L), ("c", 3L, 400L), ("c", 4L, 600L))
      .toDF("source", "doc_id", "n_toks")
    val r = Sampling.unimaxPlan(docs, "source", col("n_toks"),
        budgetTokens = 1800L, maxEpochs = 2.0)
      .orderBy("source").collect()
      .map(x => x.getAs[String]("source") -> x).toMap
    assert(r("a").getAs[Boolean]("is_capped") &&
      r("a").getAs[Double]("alloc_tokens") == 200.0 &&
      r("a").getAs[Double]("epochs") == 2.0)
    assert(!r("b").getAs[Boolean]("is_capped") &&
      r("b").getAs[Double]("alloc_tokens") == 800.0)
    assert(!r("c").getAs[Boolean]("is_capped") &&
      r("c").getAs[Double]("alloc_tokens") == 800.0)
    // budget conserved exactly when the corpus can absorb it
    assert(r.values.map(_.getAs[Double]("alloc_tokens")).sum == 1800.0)
    // budget exceeding every cap: all sources cap, shortfall is visible
    val r2 = Sampling.unimaxPlan(docs, "source", col("n_toks"),
        budgetTokens = 100000L, maxEpochs = 2.0)
      .orderBy("source").collect()
    assert(r2.forall(_.getAs[Boolean]("is_capped")))
    assert(r2.map(_.getAs[Double]("alloc_tokens")).sum == 3200.0) // 2 * 1600
    // tiny budget: nobody caps, pure uniform thirds
    val r3 = Sampling.unimaxPlan(docs, "source", col("n_toks"),
        budgetTokens = 300L, maxEpochs = 2.0)
      .orderBy("source").collect()
    assert(r3.forall(!_.getAs[Boolean]("is_capped")))
    assert(r3.forall(x => math.abs(x.getAs[Double]("alloc_tokens") - 100.0) < 1e-9))
  }

  test("bottomKPerKey: exact k per key, shard-invariant, resalt-independent") {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("source"))
    val k = 7
    val out = Sampling.bottomKPerKey(docs, col("source"), col("doc_id"), k,
      salt = ":t1")
    val counts = out.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      assert(counts(s) == math.min(n, k.toLong), s"source $s got ${counts(s)}")
    }
    // the two-phase shard form equals the single-window definition exactly
    val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":t1"))),
      1, 15), 16, 10).cast("long")
    val direct = docs
      .withColumn("sample_rank",
        row_number().over(Window.partitionBy("source").orderBy(h, col("doc_id"))))
      .filter(col("sample_rank") <= k)
    assert(out.select("doc_id", "source", "sample_rank").collect().toSet ==
      direct.select("doc_id", "source", "sample_rank").collect().toSet)
    // shards is an implementation knob, not a semantics knob
    val oneShard = Sampling.bottomKPerKey(docs, col("source"), col("doc_id"), k,
      salt = ":t1", shards = 1)
    assert(oneShard.select("doc_id").collect().toSet ==
      out.select("doc_id").collect().toSet)
    // a different salt draws a (very likely) different sample of equal shape
    val other = Sampling.bottomKPerKey(docs, col("source"), col("doc_id"), k,
      salt = ":t2")
    assert(other.count() == out.count())
    assert(other.select("doc_id").collect().toSet !=
      out.select("doc_id").collect().toSet)
    // rank <= j is itself the bottom-j sample of the same salt
    val j = 3
    val sub = Sampling.bottomKPerKey(docs, col("source"), col("doc_id"), j,
      salt = ":t1")
    assert(sub.select("doc_id").collect().toSet ==
      out.filter(col("sample_rank") <= j).select("doc_id").collect().toSet)
  }

  test("weightedBottomKPerKey: ES sampling prefers weight, matches the single-window form") {
    import graft.operators.Sampling
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("source"),
        (col("doc_id") % 10 + 1).cast("double").as("w"))
    val k = 7
    val out = Sampling.weightedBottomKPerKey(docs, col("source"), col("doc_id"),
      col("w"), k, salt = ":w1")
    val counts = out.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .foreach { case (s, n) => assert(counts(s) == math.min(n, k.toLong)) }
    // the two-phase shard form equals the single-window ES definition exactly
    val h = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":w1"))),
      1, 15), 16, 10).cast("long")
    val u = (h.cast("double") + lit(1.0)) / lit(1152921504606846976.0)
    val key = when(col("w") > 0, round(-log(u) / col("w"), 9))
      .otherwise(lit(Double.PositiveInfinity))
    val direct = docs
      .withColumn("sample_rank",
        row_number().over(Window.partitionBy("source").orderBy(key, h, col("doc_id"))))
      .filter(col("sample_rank") <= k)
    assert(out.select("doc_id", "source", "sample_rank").collect().toSet ==
      direct.select("doc_id", "source", "sample_rank").collect().toSet)
    // shards is an implementation knob, not a semantics knob
    val oneShard = Sampling.weightedBottomKPerKey(docs, col("source"),
      col("doc_id"), col("w"), k, salt = ":w1", shards = 1)
    assert(oneShard.select("doc_id").collect().toSet ==
      out.select("doc_id").collect().toSet)
    // a 1000x weight dominates k=1 draws across independent salts
    val s2 = spark
    import s2.implicits._
    val skew = (0L until 60L).map(i => (i, if (i == 0L) 1000.0 else 1.0))
      .toDF("id", "w").withColumn("g", lit("g"))
    val wins = (1 to 12).count { t =>
      Sampling.weightedBottomKPerKey(skew, col("g"), col("id"), col("w"), 1,
        salt = s":s$t").collect()(0).getAs[Long]("id") == 0L
    }
    assert(wins >= 8, s"heavy row won only $wins of 12 draws")
    // null / non-positive weights rank strictly after positive ones
    val zw = Seq((1L, Some(0.0)), (2L, None), (3L, Some(-2.0)), (4L, Some(0.5)))
      .toDF("id", "w").withColumn("g", lit("g"))
    val ranked = Sampling.weightedBottomKPerKey(zw, col("g"), col("id"),
      col("w"), 4, salt = ":z").orderBy("sample_rank")
      .collect().map(_.getAs[Long]("id"))
    assert(ranked.head == 4L, s"positive-weight row must rank first: ${ranked.toSeq}")
  }

  test("realizeMixture replicates integer epochs and hash-samples the fraction") {
    import graft.operators.Sampling
    val docs = (1L to 40L).map(i => (if (i <= 20) "a" else "b", i, 10L))
      .toDF("source", "doc_id", "n_toks")
    // a: epochs = 2.5 -> every a-row twice plus a deterministic half-rate
    // partial pass; b: epochs = 1.0 exactly -> one copy, no partial pass
    val plan = Seq(("a", 2.5), ("b", 1.0)).toDF("source", "epochs")
    val out = Sampling.realizeMixture(docs, "source", col("doc_id"), plan,
      salt = ":t")
    val rows = out.collect().map(r =>
      (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    val byDoc = rows.groupBy(_._2).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // every a-doc appears in epochs {0,1} or {0,1,2}; every b-doc exactly {0}
    (1L to 20L).foreach { i =>
      assert(byDoc(i) == Seq(0L, 1L) || byDoc(i) == Seq(0L, 1L, 2L),
        s"doc $i got epochs ${byDoc(i)}")
    }
    (21L to 40L).foreach(i => assert(byDoc(i) == Seq(0L)))
    // the partial pass is close to half of source a (hash-binomial, 20 docs)
    val partial = rows.count { case (s, _, e) => s == "a" && e == 2L }
    assert(partial > 2 && partial < 18, s"partial pass took $partial/20")
    // deterministic: same salt -> identical realization; salt change -> the
    // integer passes hold and only the partial-pass membership moves
    assert(Sampling.realizeMixture(docs, "source", col("doc_id"), plan,
      salt = ":t").collect().map(_.toSeq).toSet == out.collect().map(_.toSeq).toSet)
    val other = Sampling.realizeMixture(docs, "source", col("doc_id"), plan,
      salt = ":u").collect().map(r =>
        (r.getAs[String]("source"), r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    assert(other.count(_._3 < 2L) == rows.count(_._3 < 2L))
    // zero-epoch sources vanish entirely
    val none = Sampling.realizeMixture(docs, "source", col("doc_id"),
      Seq(("a", 0.0), ("b", 0.0)).toDF("source", "epochs"), salt = ":t")
    assert(none.count() == 0)
  }

  test("thresholdBySource cuts each source at its own percentile") {
    import graft.operators.Curation
    val df = Seq(
      ("a", 1L, 0.0), ("a", 2L, 0.4), ("a", 3L, 0.8), ("a", 4L, 1.0),
      ("b", 5L, 0.0), ("b", 6L, 0.0), ("b", 7L, 0.2), ("b", 8L, 0.2))
      .toDF("source", "doc_id", "q")
    // p=0.5: source a threshold = 0.6 (interp 0.4..0.8) keeps {3,4};
    // source b threshold = 0.1 keeps {7,8} — a global cut could not do both
    val r = Curation.thresholdBySource(df, "source", col("q"), p = 0.5)
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("threshold"))).toSeq
    assert(r.map(_._1) == Seq(3L, 4L, 7L, 8L))
    assert(math.abs(r(0)._2 - 0.6) < 1e-12 && math.abs(r(2)._2 - 0.1) < 1e-12)
    // approx path: same contract (kept rows all clear their threshold)
    val ra = Curation.thresholdBySource(df, "source", col("q"), p = 0.5,
      approx = true).collect()
    assert(ra.nonEmpty && ra.forall(x =>
      x.getAs[Double]("q") >= x.getAs[Double]("threshold")))
  }

  test("z-value arithmetic: bucket edges clamp and bit interleave matches the Morton law") {
    import graft.operators.Layout
    val df = Seq((0L, 7L), (5L, 3L), (10L, 7L), (10L, 0L))
      .toDF("a", "b")
    // bucket: lo -> 0, hi -> top bucket, interior proportional
    val bk = df.select(
      Layout.rangeBucket(col("a"), lit(0L), lit(10L), 3).as("ba"),
      Layout.rangeBucket(col("a"), lit(4L), lit(4L), 3).as("const"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(bk.map(_._1).toSeq == Seq(0L, 4L, 7L, 7L))
    assert(bk.forall(_._2 == 0L)) // degenerate range collapses to bucket 0
    // interleave b0=0b101, b1=0b011 at 3 bits: z bits (lsb first) are
    // b0[0],b1[0],b0[1],b1[1],b0[2],b1[2] = 1,1,0,1,1,0 -> 0b011011 = 27
    val z = df.limit(1).select(
      Layout.interleaveBits(Seq(lit(5L), lit(3L)), 3).as("z"))
      .collect().head.getLong(0)
    assert(z == 27L)
  }

  test("blocklistFlags counts repeated hits, case-folds terms, and leaves clean docs at zero") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "spam spam and more spam"),     // 3 hits of 5 tokens
      (2L, "perfectly clean document"),    // 0 hits
      (3L, "one Scam here")).toDF("doc_id", "text")
    val terms = Seq("SPAM", "scam", "spam").toDF("term") // dupes + case fold
    val r = Curation.blocklistFlags(docs, "doc_id", "text", terms)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_tokens"), x.getAs[Long]("n_blocked"),
          x.getAs[Double]("blocked_frac"), x.getAs[Boolean]("has_blocked"))).toMap
    assert(r(1L) == ((5L, 3L, 0.6, true)))
    assert(r(2L) == ((3L, 0L, 0.0, false)))
    assert(r(3L) == ((3L, 1L, 1.0 / 3, true))) // "Scam" folds to the term
  }

  test("syntheticScreen: template tokens case-sensitive, phrases case-folded, null text clean") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "normal prose about weather <|im_start|>assistant leaked"),
      (2L, "she wrote AS AN AI LANGUAGE MODEL I cannot help with that"),
      (3L, "plain organic text with [inst] lowercase lookalike"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = Curation.syntheticScreen(docs, "text")
      .collect().map(x => x.getAs[Long]("doc_id") ->
        ((x.getAs[Boolean]("has_template"), x.getAs[Boolean]("has_ai_phrase"),
          x.getAs[Boolean]("is_synthetic")))).toMap
    assert(r(1L) == ((true, false, true)),  "template control token flags")
    assert(r(2L) == ((false, true, true)),  "phrase match is case-folded")
    assert(r(3L) == ((false, false, false)), "[inst] must NOT match [INST]")
    assert(r(4L) == ((false, false, false)), "null text is clean, not null")
  }

  test("rank normalization: sharded reassembly equals the plain window rank, ties and all") {
    import graft.operators.Curation
    import org.apache.spark.sql.expressions.Window
    // 2 sources x 40 rows with HEAVY ties (score = id % 4) so tie-breaks
    // and shard-boundary ties are actually exercised
    val df = (0L until 80L).map(i =>
        (i, if (i < 40) "a" else "b", (i % 4).toDouble))
      .toDF("doc_id", "source", "score")
    val r = Curation.rankNormalizeBySource(df, "source", col("score"),
        col("doc_id"), shards = 4)
      .select("doc_id", "src_rank", "src_n", "pct_rank").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    val w = Window.partitionBy("source").orderBy(col("score"), col("doc_id"))
    val plain = df.withColumn("rk", row_number().over(w) - 1)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Int]("rk")).toMap
    (0L until 80L).foreach { id =>
      assert(r(id)._1 == plain(id).toLong, s"doc $id sharded != window rank")
      assert(r(id)._2 == 40L)
      assert(math.abs(r(id)._3 - plain(id) / 39.0) < 1e-12)
    }
    // a single global pct threshold cuts each source at its own quantile
    val cut = Curation.rankNormalizeBySource(df, "source", col("score"),
        col("doc_id"), shards = 4)
      .filter(col("pct_rank") >= 0.75)
    assert(cut.groupBy("source").count().collect()
      .map(x => x.getLong(1)).toSeq == Seq(10L, 10L))
    // approx thresholds move only shard boundaries, never ranks: the
    // reassembled output is bit-identical to the exact-percentile path
    val ap = Curation.rankNormalizeBySource(df, "source", col("score"),
        col("doc_id"), shards = 4, approx = true)
      .select("doc_id", "src_rank", "pct_rank").orderBy("doc_id").collect().toSeq
    val ex = Curation.rankNormalizeBySource(df, "source", col("score"),
        col("doc_id"), shards = 4)
      .select("doc_id", "src_rank", "pct_rank").orderBy("doc_id").collect().toSeq
    assert(ap == ex)
  }

  test("semanticFlags flags near-benchmark vectors, ties to smallest bench id") {
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)), (3L, Seq(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val bench = Seq((100L, Seq(1.0, 0.0)), (101L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val r = Decontaminate.semanticFlags(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", threshold = 0.95)
      .orderBy("vec_id").collect()
      .map(x => (x.getAs[Long]("vec_id"), x.getAs[Long]("nearest_bench_id"),
        math.round(x.getAs[Double]("max_cosine") * 1e6) / 1e6,
        x.getAs[Boolean]("is_contaminated"))).toSeq
    assert(r == Seq((1L, 100L, 1.0, true), (2L, 101L, 1.0, true),
      (3L, 101L, 0.8, false)))
  }

  test("semanticFlagsIvf at full probe equals semanticFlags") {
    import graft.operators.{Decontaminate, Similarity}
    val corpus = Seq(
      (1L, Seq(1.0, 0.1)), (2L, Seq(0.1, 1.0)), (3L, Seq(0.7, 0.7)),
      (4L, Seq(-1.0, 0.2))).toDF("vec_id", "embedding")
    val bench = Seq((100L, Seq(0.9, 0.0)), (101L, Seq(0.0, 0.9)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)))
      .toDF("cell", "centroid")
    val assigned = Similarity.assignCells(
      corpus.select(col("vec_id").as("nbr_id"),
        col("embedding").cast("array<double>").as("nbr_v")), cents)
    val ivf = Decontaminate.semanticFlagsIvf(Similarity.IvfIndex(assigned, cents),
        bench, "vec_id", "embedding", threshold = 0.9, nProbe = 2)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val exact = Decontaminate.semanticFlags(corpus, "vec_id", "embedding",
        bench, "vec_id", "embedding", threshold = 0.9)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(ivf == exact)
  }

  test("dedupLinesAcrossDocs keeps only globally-first line occurrences") {
    import graft.operators.Lines
    val docs = Seq(
      (1L, "a\nb\n \na"), // blank line dropped; trailing "a" is a within-doc dup
      (2L, "b\nc"),
      (3L, "a")).toDF("doc_id", "text")
    val r = Lines.dedupLinesAcrossDocs(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("text"),
        x.getAs[Long]("n_lines"), x.getAs[Long]("n_kept"))).toSeq
    assert(r == Seq((1L, "a\nb", 3L, 2L), (2L, "c", 2L, 1L), (3L, "", 1L, 0L)))
  }

  test("dropBoilerplate cuts >= minDocs lines everywhere, keeps the rest") {
    import graft.operators.Lines
    val docs = Seq(
      (1L, "x\nfoot"), (2L, "y\nfoot"), (3L, "foot\nz\nfoot"))
      .toDF("doc_id", "text")
    val r = Lines.dropBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[String]("text"),
        x.getAs[Long]("n_lines"), x.getAs[Long]("n_removed"))).toSeq
    assert(r == Seq((1L, "x", 2L, 1L), (2L, "y", 2L, 1L), (3L, "z", 3L, 2L)))
    // below threshold nothing is cut
    val keep = Lines.dropBoilerplate(docs, "doc_id", "text", minDocs = 4)
      .agg(sum("n_removed")).collect()(0).getLong(0)
    assert(keep == 0L)
  }

  test("htmlToText: scripts/styles/comments die, blocks become lines, entities unescape once") {
    import graft.operators.Curation
    val html =
      """<html><head><title>T</title><style>p{c:red}</style>
        |<script>var a = "<p>hidden</p>";</script></head>
        |<body><h1 class="big">Head Line</h1><p>para one &amp; more</p>
        |<!-- secret comment --><div>second&nbsp;para</div>
        |<pre>kept inline</pre><ul><li>item A</li></ul>
        |tail &amp;lt; stays literal</body></html>""".stripMargin.replace("\n", "")
    val out = Seq(html).toDF("h")
      .select(Curation.htmlToText(col("h")).as("t")).collect()(0).getString(0)
    assert(!out.contains("hidden") && !out.contains("c:red") &&
      !out.contains("secret"))
    val lines = out.split("\n").toSeq
    assert(lines.contains("Head Line"))
    assert(lines.contains("para one & more"))      // &amp; unescaped
    assert(lines.contains("second para"))          // &nbsp; -> space
    assert(lines.contains("item A"))
    // single-pass unescape: &amp;lt; becomes the LITERAL &lt;
    assert(out.contains("tail &lt; stays literal"))
    // <pre> is NOT a block tag (the \b boundary): its text stays inline
    assert(out.contains("kept inline"))
    // null -> '' and plain text passes through trimmed
    val plain = Seq((1L, null.asInstanceOf[String]), (2L, "  just text  "))
      .toDF("id", "h").select(col("id"), Curation.htmlToText(col("h")).as("t"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(plain == Seq("", "just text"))
  }

  test("canonicalizeUrl folds fragment/tracking/userinfo/port/slash; dedupByUrl keeps min id") {
    import graft.operators.Curation
    val urls = Seq(
      (1L, "HTTP://User@WWW.Example.COM:80/A/b?utm_source=x&q=1&gclid=z#top"),
      (2L, "http://www.example.com/A/b?q=1"),          // same canonical as 1
      (3L, "https://Example.com:443/"),                 // -> https://example.com
      (4L, "https://example.com"),                      // same canonical as 3
      (5L, "http://example.com:8080/a?ref=nav"),        // non-default port kept
      (6L, "https://example.com/a?utm_medium=m&utm_campaign=c")) // query dies
      .toDF("doc_id", "url")
    val out = Curation.dedupByUrl(urls, "doc_id", "url")
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("canonical_url"),
        r.getAs[Long]("dup_count"), r.getAs[Boolean]("is_keeper"))).toSeq
    assert(out(0) == (1L, "http://www.example.com/A/b?q=1", 2L, true))
    assert(out(1) == (2L, "http://www.example.com/A/b?q=1", 2L, false))
    assert(out(2) == (3L, "https://example.com", 2L, true))
    assert(out(3) == (4L, "https://example.com", 2L, false))
    assert(out(4) == (5L, "http://example.com:8080/a", 1L, true))
    assert(out(5) == (6L, "https://example.com/a", 1L, true))
  }

  test("screenDomains flags over-cap and low-quality domains, not the rest") {
    import graft.operators.Curation
    val docs = Seq(
      // big.example: 3 docs (over cap 2), good quality
      (1L, "big.example", 0.9), (2L, "big.example", 0.9), (3L, "big.example", 0.9),
      // spam.example: 2 docs, low mean quality
      (4L, "spam.example", 0.1), (5L, "spam.example", 0.3),
      // ok.example: under cap, good quality
      (6L, "ok.example", 0.8))
      .toDF("doc_id", "domain", "q")
    val out = Curation.screenDomains(docs, "doc_id", "domain", col("q"),
        maxDocsPerDomain = 2L, minAvgQuality = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Long]("domain_docs"),
        r.getAs[Boolean]("domain_flagged"))).toSeq
    assert(out.count(_._1 == "big.example") == 3 &&
      out.filter(_._1 == "big.example").forall(x => x._2 == 3L && x._3))
    assert(out.filter(_._1 == "spam.example").forall(_._3))
    assert(out.filter(_._1 == "ok.example").forall(!_._3))
  }

  test("ensembleRank: mean of pct ranks, invariant to monotone member rescaling") {
    import graft.operators.Curation
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("source"),
        (col("doc_id") % 13).cast("double").as("a"),
        (col("doc_id") % 7).cast("double").as("b"))
    val two = Curation.ensembleRank(docs, "source", col("doc_id"),
        Seq("a" -> col("a"), "b" -> col("b")))
      .select(col("doc_id"), col("pct_a"), col("pct_b"), col("ensemble_score"))
      .collect()
    two.foreach { r =>
      assert(r.getDouble(3) == (r.getDouble(1) + r.getDouble(2)) / 2.0)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // a monotone rescale of a member (exp) changes nothing: ranks are ranks
    val rescaled = Curation.ensembleRank(docs, "source", col("doc_id"),
        Seq("a" -> exp(col("a")), "b" -> col("b")))
      .select(col("doc_id"), col("ensemble_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = two.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rescaled == plain)
  }

  test("domain stats merge exactly: incremental fold == flat recompute, schema stable") {
    import graft.operators.Curation
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"),
        concat(lit("d"), (col("doc_id") % 11).cast("string")).as("domain"),
        (col("doc_id") % 7).cast("double").as("q"))
    val flat = Curation.domainStats(docs, "domain", col("q"))
    val parts = (0 to 2).map(i =>
      Curation.domainStats(docs.filter(col("doc_id") % 3 === i), "domain", col("q")))
    val folded = parts.reduce(Curation.mergeDomainStats)
    // exact equality including the decimal sum, in any fold order
    assert(folded.orderBy("domain").collect().toSeq ==
      flat.orderBy("domain").collect().toSeq)
    assert(parts.reverse.reduce(Curation.mergeDomainStats)
      .orderBy("domain").collect().toSeq ==
      flat.orderBy("domain").collect().toSeq)
    // the (name, type) schema is a fixed point of merging — no decimal
    // widening creep (nullability legitimately differs: sum vs count)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(folded) == shape(flat))
    assert(shape(Curation.mergeDomainStats(folded, flat)) == shape(flat))
    // verdicts from merged stats == verdicts from flat stats
    val vm = Curation.domainVerdicts(folded, 100L, 3.0).orderBy("domain").collect()
    val vf = Curation.domainVerdicts(flat, 100L, 3.0).orderBy("domain").collect()
    assert(vm.toSeq == vf.toSeq)
  }

  test("c4Clean applies the C4 line rules and document verdicts") {
    import graft.operators.Lines
    val good = "the quick brown fox jumps high."
    val short = "too few words."
    val noPunct = "this line has no terminal punctuation at all"
    val js = "please enable javascript to see the content."
    val policy = "by using this site you accept our privacy policy."
    val s2 = "another proper sentence with enough words here!"
    val s3 = "is this a third full sentence with words?"
    val docs = Seq(
      (1L, Seq(good, short, noPunct, js, policy, s2, s3).mkString("\n")),
      (2L, Seq(good, s2).mkString("\n")), // only 2 sentences -> drop
      (3L, Seq(good, "lorem ipsum dolor sit amet.", s2, s3).mkString("\n")),
      (4L, Seq(good, s2, s3).mkString("\n") + "\nint f() { }")
    ).toDF("doc_id", "text")
    val r = Lines.c4Clean(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Boolean]("keep_doc"),
        x.getAs[Long]("n_kept"), x.getAs[Long]("n_sentences"),
        x.getAs[String]("text"))).toSeq
    // doc 1: js/policy/short/no-punct lines all cut, 3 sentences survive
    assert(r(0) == (1L, true, 3L, 3L, Seq(good, s2, s3).mkString("\n")))
    // doc 2: clean lines but < 3 sentences
    assert(r(1)._2 == false && r(1)._3 == 2L)
    // doc 3: lorem ipsum page-level drop (its 5-word lorem line even passes
    // the line rules — the verdict is the page rule, not the line rule)
    assert(r(2)._2 == false && r(2)._3 == 4L)
    // doc 4: brace page-level drop; the brace line itself dies on word count
    assert(r(3)._2 == false && r(3)._3 == 3L)
  }

  test("c4CleanCodeAware protects fences and math; prose rules still fire outside") {
    import graft.operators.Lines
    val good = "the quick brown fox jumps high."
    val s2 = "another proper sentence with enough words here!"
    val s3 = "is this a third full sentence with words?"
    val js = "please enable javascript to see the content."
    val fenced = Seq("```python", "def f(x):", "    return {x: 1}", "```")
    val math = "so $x^2 + y^2$ holds"
    // bare-dollar chrome: real $...$ spans protect, price/spam lines do NOT
    val spam = "$$$ BUY NOW $$$ prices start from $5 and $10 each."
    val docs = Seq(
      // fenced braces + unpunctuated code survive verbatim; chrome still cut
      (1L, (Seq(good) ++ fenced ++ Seq(js, math, spam, s2, s3)).mkString("\n")),
      // UNFENCED brace still flags the page
      (2L, Seq(good, s2, s3, "int f() { }").mkString("\n")),
      // all code, no prose sentences -> sentence floor fails the page
      (3L, fenced.mkString("\n")),
      // unclosed fence protects to end of document
      (4L, (Seq(good, s2, s3, "```") ++ Seq(js)).mkString("\n"))
    ).toDF("doc_id", "text")
    val r = Lines.c4CleanCodeAware(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Boolean]("keep_doc"),
        x.getAs[Long]("n_kept"), x.getAs[Long]("n_protected"),
        x.getAs[Long]("n_sentences"), x.getAs[String]("text"))).toSeq
    // doc 1: 4 fence lines + 1 math line protected VERBATIM (indentation
    // intact), js cut; the $-spam line is NOT protected (no flush $...$
    // span) and survives only as ordinary trimmed prose -> 4 sentences
    assert(r(0) == (1L, true, 9L, 5L, 4L,
      (Seq(good) ++ fenced ++ Seq(math, spam, s2, s3)).mkString("\n")))
    // doc 2: the brace is outside any fence -> page flagged
    assert(r(1)._2 == false && r(1)._4 == 0L)
    // doc 3: protected code survives but the page has zero prose sentences
    assert(r(2) == (3L, false, 4L, 4L, 0L, fenced.mkString("\n")))
    // doc 4: everything after the unclosed fence marker is protected
    assert(r(3)._2 == true && r(3)._4 == 2L &&
      r(3)._6.endsWith("```\n" + js))
  }

  test("dedupLines keeps the first occurrence of each line, in order") {
    import graft.functions.TextFunctions
    val out = Seq("a\nb\na\nc\nb", "solo", "")
      .toDF("text")
      .select(TextFunctions.dedupLines(col("text")).as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("a\nb\nc", "solo", ""))
  }

  test("incremental exact dedup: survivors exclude corpus matches and in-batch dups") {
    import graft.operators.Dedup
    val corpus = Seq((1L, "alpha text"), (2L, "beta text")).toDF("doc_id", "text")
    val batch = Seq((20L, "alpha text"), (40L, "gamma text"),
      (60L, "gamma text"), (80L, "delta text")).toDF("doc_id", "text")
    val out = Dedup.exactIncrement(batch, corpus, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // 20 matches corpus doc 1; 60 is an in-batch dup of 40
    assert(out == Seq(40L, 80L))
  }

  test("bloom-gated increment equals the plain anti-join even when the filter saturates") {
    import graft.operators.Dedup
    val corpus = (1L to 40L).map(i => (i, s"corpus doc number $i")).toDF("doc_id", "text")
    val batch = (Seq((200L, "corpus doc number 7"), (201L, "fresh a"),
      (202L, "fresh a"), (203L, "fresh b")) ++
      (210L to 260L).map(i => (i, s"fresh bulk $i"))).toDF("doc_id", "text")
    val plain = Dedup.exactIncrement(batch, corpus, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // a 64-bit filter for 40 keys is heavily saturated — most probes answer
    // might-contain, so the equivalence can't be an artifact of zero FPs
    val gated = Dedup.exactIncrementBloomGated(batch, corpus, "doc_id", "text",
        numBits = 64, k = 3)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(gated == plain)
    // and with a well-sized filter too
    val sized = Dedup.exactIncrementBloomGated(batch, corpus, "doc_id", "text",
        numBits = 1 << 12, k = 5)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(sized == plain)
  }

  test("incremental LSH near-dup matches the batch against the corpus only") {
    import graft.operators.Dedup
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base),
      (2L, "completely different words about spark plans")).toDF("doc_id", "text")
    val batch = Seq((20L, base + " extra"),
      (40L, "unrelated fresh content nothing shared here")).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshIncrement(batch, corpus, "doc_id", "text",
        k = 32, rowsPerBand = 4, threshold = 0.3).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((20L, 1L)))
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("incremental components equal a full recompute over the union") {
    import graft.operators.Dedup
    def lbl(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      df.select("id", "comp", "is_keeper").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // base: chain {1,2,3}, pair {10,11}, pair {20,21}
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("id_a", "id_b")
    // increment exercises every shape at once: (3,10) merges two existing
    // components; (11,100)+(100,101) hangs a NEW chain off an old node
    // (transitively joining the merged cluster); (200,201) is a fully new
    // pair; (20,21) re-delivers a known intra-component edge (no-op)
    val inc = Seq((3L, 10L), (11L, 100L), (100L, 101L), (200L, 201L), (20L, 21L))
      .toDF("id_a", "id_b")
    val incremental = lbl(Dedup.componentsIncrement(
      Dedup.connectedComponents(base), inc))
    val full = lbl(Dedup.connectedComponents(base.unionByName(inc)))
    assert(incremental == full, s"inc $incremental != full $full")
    // the merge really happened: everything from both old clusters and the
    // new chain shares component 1
    assert(incremental.filter(_._2 == 1L).map(_._1) ==
      Set(1L, 2L, 3L, 10L, 11L, 100L, 101L))
    // randomized: any base/increment split of a random graph agrees with
    // the full recompute
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val (b, i) = pairs.partition(_ => rnd.nextBoolean())
    val incR = lbl(Dedup.componentsIncrement(
      Dedup.connectedComponents(b.toDF("id_a", "id_b")), i.toDF("id_a", "id_b")))
    val fullR = lbl(Dedup.connectedComponents(pairs.toDF("id_a", "id_b")))
    // the incremental output also covers base nodes whose edges were all
    // re-delivered... both sides see every endpoint, so sets match exactly
    assert(incR == fullR)
  }

  test("per-row minhash signature equals the groupBy formulation on real docs") {
    import graft.operators.Dedup
    val k = 32
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01").limit(200)
    val grouped = Dedup.minhashSig(docs, "doc_id", "text", k)
    val perRow = Dedup.withMinhashSigCols(
      docs.select(col("doc_id"), col("text")), col("text"), k).drop("text")
    // the stateless (streaming-safe) array-fold signature must be value-
    // identical to the batch groupBy-min signature for every doc with tokens
    val joined = grouped.as("g").join(perRow.as("r"), "doc_id")
    val disagree = joined.filter(
      (0 until k).map(i => col(s"g.h$i") =!= col(s"r.h$i")).reduce(_ || _))
    assert(grouped.count() == 200)
    assert(disagree.count() == 0)
  }

  test("OPH signature: occupied bins carry true minima; empty bins rotate") {
    import graft.operators.Dedup
    val k = 32
    val p = Dedup.HashPrime
    // a SINGLE-token doc occupies exactly one bin: slot j* holds the raw
    // permuted min (< P), and every other slot j must read that value
    // plus (cyclic distance from j to j*) * P — the densification
    // structure, pinned without knowing md5 values
    val one = Seq((1L, "solitary")).toDF("doc_id", "text")
    val row = Dedup.minhashSigOph(one, "doc_id", "text", k).head
    val hs = (0 until k).map(i => row.getAs[Long](s"h$i"))
    val jStar = hs.indexWhere(_ < p)
    assert(jStar >= 0 && hs.count(_ < p) == 1)
    for (j <- 0 until k) {
      val t = (jStar - j + k) % k // rotation steps from j forward to j*
      assert(hs(j) == hs(jStar) + t * p, s"slot $j")
    }
    // identical docs produce identical signatures (band-collision
    // precondition); a disjoint doc produces a different one
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), (3L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSigOph(docs, "doc_id", "text", k)
      .orderBy("doc_id").collect()
    val v = sig.map(r => (0 until k).map(i => r.getAs[Long](s"h$i")))
    assert(v(0) == v(1) && v(0) != v(2))
    // occupied-bin slots agree with a direct per-bin recomputation
    val (a0, b0) = Dedup.HashParams(0)
    val direct = graft.operators.Dedup
      .tokenIndex(docs.filter(col("doc_id") === 1L), "doc_id", "text")
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 7), 16, 10).cast("long") + 1L)
      .collect().map(_.getLong(1))
      .groupBy(x => x % k)
      .map { case (bin, xs) =>
        bin -> xs.map(x => java.lang.Math.floorMod(a0 * x + b0, p)).min }
    direct.foreach { case (bin, want) =>
      assert(v(0)(bin.toInt) == want, s"bin $bin") }
  }

  test("OPH signature build pays two hash exchanges (k-perm pays one)") {
    import graft.operators.Dedup
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    // the k-permutation form: one groupBy(doc_id) exchange, k agg columns
    assert(shuffles(Dedup.minhashSig(docs, "doc_id", "text", 8)) == 1)
    // OPH trades a second (<=k rows/doc) exchange for 1-op-per-edge map
    // work: groupBy(doc_id, bin), then the per-doc re-agg
    assert(shuffles(Dedup.minhashSigOph(docs, "doc_id", "text", 8)) == 2)
  }

  test("chunking covers every token with the configured overlap") {
    import graft.operators.Chunking
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val out = Chunking.chunkByTokens(
        Seq((1L, doc), (2L, "short one")).toDF("doc_id", "text"),
        "doc_id", "text", chunkTokens = 4, overlapTokens = 1)
      .orderBy("doc_id", "chunk_id").collect()
    // 10 tokens, chunk 4, step 3 -> [1..4], [4..7], [7..10]
    assert(out.filter(_.getLong(0) == 1L).map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(out.filter(_.getLong(0) == 1L).map(_.getAs[Long]("n_tokens")).toSeq ==
      Seq(4L, 4L, 4L))
    // a doc at or under the window is one whole chunk
    assert(out.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text")).toSeq ==
      Seq("short one"))
  }

  test("star convergence checksum distinguishes same-count same-src-sum edge sets") {
    // The star loop declares a fixpoint when (count, src-sum, xxhash64-sum)
    // repeats. Equal count and equal src-sum collide by construction here —
    // the same sources re-paired with swapped destinations — so only the
    // xxhash64 pairing sum can tell the sets apart. If it could not, a star
    // round that re-paired edges this way would short-circuit before the
    // true fixpoint.
    val e1 = Seq((5L, 1L), (6L, 2L)).toDF("src", "dst")
    val e2 = Seq((5L, 2L), (6L, 1L)).toDF("src", "dst")
    val c1 = Dedup.edgeChecksum(e1)
    val c2 = Dedup.edgeChecksum(e2)
    assert(c1._1 == c2._1 && c1._2 == c2._2, "fixture must collide on count+src-sum")
    assert(c1 != c2, "checksum cannot distinguish re-paired edge sets")
    // empty edge set hits the null-sum guards, not an NPE
    assert(Dedup.edgeChecksum(Seq.empty[(Long, Long)].toDF("src", "dst")) ==
      ((0L, "0", "0")))
  }

  test("both component loops accept an empty pair set without NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0L)
    assert(Dedup.connectedComponentsPropagation(empty).count() == 0L)
  }

  test("indexed LSH increment matches the raw-text variant on a stored index") {
    import graft.functions.TextFunctions
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((1L, base),
      (2L, "completely different words about spark plans")).toDF("doc_id", "text")
    val batch = Seq((20L, base + " extra"),
      (40L, "unrelated fresh content nothing shared here")).toDF("doc_id", "text")
    // the deployed shape: bands + token sets persisted once at ingest, every
    // batch probes them — identical results to re-deriving from raw text
    val corpusBands = Dedup.minhashBands(
        Dedup.minhashSig(corpus, "doc_id", "text", k = 32), k = 32, rowsPerBand = 4)
      .withColumnRenamed("doc_id", "id_corpus")
    val corpusSets = corpus.select(col("doc_id").as("id_corpus"),
      TextFunctions.tokenSet(col("text")).as("toks_corpus"))
    val indexed = Dedup.minhashLshIncrementIndexed(batch, corpusBands, corpusSets,
      "doc_id", "text", k = 32, rowsPerBand = 4, threshold = 0.3).collect()
    val raw = Dedup.minhashLshIncrement(batch, corpus, "doc_id", "text",
      k = 32, rowsPerBand = 4, threshold = 0.3).collect()
    assert(indexed.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((20L, 1L)))
    assert(indexed.toSeq == raw.toSeq)
  }

  test("duplicate spans flag cross-doc runs, split on gaps, skip within-doc repeats") {
    val docs = Seq(
      (1L, "u1 u2 B1 B2 B3 B4 u3 u4"),       // boilerplate B1..B4 at tokens 3-6
      (2L, "v1 B1 B2 B3 B4 v2 v3 v4 v5"),    // same run at tokens 2-5
      (3L, "w1 w2 w3 x y z w1 w2 w3"),       // repeated only WITHIN one doc
      (4L, "B1 B2 B3 d1 d2 d3 d4 d5 d6 d7 C1 C2 C3"), // two shared runs, long gap
      (5L, "B1 B2 B3 e1 e2 e3 e4 e5 e6 e7 C1 C2 C3"),
      (6L, "tiny doc"),                       // shorter than k: whole-doc shingle
      (7L, "tiny doc")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id", "span_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 6L, 4L),                      // overlapping shingles merged
      (2L, 2L, 5L, 4L),
      (4L, 1L, 3L, 3L), (4L, 11L, 13L, 3L),  // gap > k splits the spans
      (5L, 1L, 3L, 3L), (5L, 11L, 13L, 3L),
      (6L, 1L, 2L, 2L), (7L, 1L, 2L, 2L)))   // doc 3 absent: within-doc only
  }

  test("within-doc repeated spans flag only the echoes; cutting keeps one copy") {
    val docs = Seq((1L, "a b c d a b c x")).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpansWithinDoc(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only the SECOND "a b c" (tokens 5-7) is flagged; the first stays
    assert(spans.toSeq == Seq((1L, 5L, 7L)))
    val cut = Dedup.cutSpans(docs, "doc_id", "text",
        Dedup.repeatedSpansWithinDoc(docs, "doc_id", "text", k = 3))
      .head()
    assert(cut.getAs[String]("text") == "a b c d x")
    assert(cut.getAs[Long]("n_removed") == 3L)
  }

  test("hash shuffle is reproducible per salt, a permutation, and salt-sensitive") {
    import graft.operators.Sampling
    val ids = (1L to 200L).toDF("id")
    def order(salt: String): Seq[Long] =
      Sampling.shuffleByHash(ids, col("id"), salt).collect().map(_.getLong(0)).toSeq
    val a = order("ep0")
    assert(a == order("ep0"))               // same salt -> identical order
    assert(a.sorted == (1L to 200L))        // a permutation, nothing lost
    assert(a != (1L to 200L).toSeq)         // actually shuffled
    assert(a != order("ep1"))               // resalt -> fresh epoch order
  }

  test("cutSpans strips duplicated spans from every document, keeps the rest") {
    val docs = Seq(
      (1L, "u1 u2 b1 b2 b3 b4 u3 u4"),
      (2L, "v1 b1 b2 b3 b4 v2 v3 v4 v5"),
      (3L, "w1 w2 w3 x y z w1 w2 w3")).toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, "doc_id", "text", k = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 8L, 4L, "u1 u2 u3 u4"),            // shared b-run cut from BOTH docs
      (2L, 9L, 4L, "v1 v2 v3 v4 v5"),
      (3L, 9L, 0L, "w1 w2 w3 x y z w1 w2 w3"))) // within-doc repeat untouched
  }

  test("span decontamination finds and cuts only the quoted benchmark passage") {
    import graft.operators.Decontaminate
    val corpus = Seq(
      (1L, "intro words q1 q2 q3 q4 closing remarks here"), // quotes the benchmark
      (2L, "nothing shared with any benchmark document")).toDF("doc_id", "text")
    val bench = Seq((10L, "q1 q2 q3 q4")).toDF("doc_id", "text")
    val spans = Decontaminate.contaminatedSpans(corpus, bench, "doc_id", "text",
        shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.toSeq == Seq((1L, 3L, 6L))) // exactly the quoted q1..q4 tokens
    val cut = Decontaminate.cutContaminated(corpus, bench, "doc_id", "text",
        shingleK = 3)
      .orderBy("doc_id").collect()
    assert(cut.map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq == Seq(
      (1L, 4L, "intro words closing remarks here"), // document survives minus the quote
      (2L, 0L, "nothing shared with any benchmark document")))
  }

  test("token-budget cap keeps the prefix through the crossing row, exact across shards") {
    import graft.operators.Curation
    val rows = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 300L), (4L, "a", 300L),
      (5L, "b", 2000L), (6L, "b", 1L), // over-budget first doc still kept
      (7L, "c", 100L)).toDF("id", "k", "n")
    val out = Curation.capTokensPerKey(rows, col("k"), col("n"), budget = 700L,
        order = Seq(col("id")), idCol = col("id"), shards = 4)
      .orderBy("id").collect().map(_.getLong(0))
    // key a: prior-token sums 0/300/600/900 -> row 4 is past the budget;
    // key b: row 5's prior sum is 0 (every key keeps >= 1 row), row 6's is
    // 2000; the 4-shard two-phase result must equal the global window's
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L, 7L))
  }

  test("chunking yields one empty chunk for null-text documents") {
    import graft.operators.Chunking
    val out = Chunking.chunkByTokens(
        Seq((1L, null.asInstanceOf[String]), (2L, "a b")).toDF("doc_id", "text"),
        "doc_id", "text", chunkTokens = 4, overlapTokens = 1)
      .orderBy("doc_id").collect()
    // null text = empty token set = one empty chunk, per the operator doc
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getAs[String]("chunk_text") == "" &&
      out(0).getAs[Long]("n_tokens") == 0L)
    assert(out(1).getAs[String]("chunk_text") == "a b")
  }

  test("rate-column sampling keeps nothing at rate 0 and everything at 100") {
    import graft.operators.Sampling
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    assert(Sampling.sampleByRateCol(docs, col("doc_id"), lit(0)).count() == 0L)
    assert(Sampling.sampleByRateCol(docs, col("doc_id"), lit(100)).count() == docs.count())
  }

  test("approx_percentile stays within 1% of exact on lineitem prices") {
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.01")
    val r = li.agg(
      expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)").as("ap"),
      expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("ex"))
      .head()
    val ap = r.getSeq[Double](0); val ex = r.getSeq[Double](1)
    ap.zip(ex).foreach { case (a, e) =>
      assert(math.abs(a - e) / e < 0.01, s"approx=$a exact=$e") }
  }

  // Bounds the no-oracle gate row q_a_approx_distinct: HLL sketches differ
  // across engines, so instead of a hash compare the sketch is held to <5%
  // relative error against the exact distinct counts on real data.
  test("approx_count_distinct stays within 5% of exact per group") {
    val orders = graft.core.Tables.orders(spark, "/root/testdata/sf0.01")
    val both = orders.groupBy("o_orderpriority")
      .agg(approx_count_distinct(col("o_custkey"), 0.01).as("approx"),
        countDistinct("o_custkey").as("exact"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (a, e) = (r.getAs[Long]("approx").toDouble, r.getAs[Long]("exact").toDouble)
      val relErr = math.abs(a - e) / e
      assert(relErr < 0.05,
        s"${r.getString(0)}: approx=$a exact=$e relErr=$relErr")
    }
  }

  test("funnel: strict ordering, greedy-earliest matching, out-of-order events don't count") {
    import graft.operators.Sessionize
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // A: clean view -> click -> purchase
      (1L, ts("2025-01-01 10:00:00"), "view"),
      (1L, ts("2025-01-01 10:01:00"), "click"),
      (1L, ts("2025-01-01 10:02:00"), "purchase"),
      // B: purchase BEFORE the click — click matches, purchase does not
      (2L, ts("2025-01-01 10:00:00"), "view"),
      (2L, ts("2025-01-01 10:01:00"), "purchase"),
      (2L, ts("2025-01-01 10:02:00"), "click"),
      // C: click with no prior view — reaches nothing
      (3L, ts("2025-01-01 10:00:00"), "click"),
      // D: click at the SAME ts as view — strictness rejects it; a later
      //    click then a purchase completes the funnel (greedy takes the
      //    EARLIEST qualifying click, leaving room for the purchase)
      (4L, ts("2025-01-01 10:00:00"), "view"),
      (4L, ts("2025-01-01 10:00:00"), "click"),
      (4L, ts("2025-01-01 10:05:00"), "click"),
      (4L, ts("2025-01-01 10:06:00"), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = Sessionize.funnelPerUser(events, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        r.getAs[Long]("steps_reached")).toMap
    assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 0L, 4L -> 3L))
    val report = Sessionize.funnelReport(
        Sessionize.funnelPerUser(events, "user_id", "ts", "event_type",
          Seq("view", "click", "purchase")),
        Seq("view", "click", "purchase"))
      .orderBy("step").collect()
    assert(report.map(_.getAs[Long]("n_users")).toSeq == Seq(3L, 3L, 2L))
    assert(report(2).getAs[Double]("conversion_from_head") == 2.0 / 3.0)
    assert(report(0).isNullAt(report(0).fieldIndex("conversion_from_prev")))
  }

  test("textrank: hub token outranks leaves, stopwords and short tokens excluded") {
    import graft.operators.TermWeights
    import spark.implicits._
    // "core" co-occurs with every other content token; "the" is a
    // stopword and "ab" is sub-minLen — neither may appear as a node
    val docs = Seq(
      "the core alpha ab core beta",
      "core gamma the core delta",
      "alpha beta").toDF("text")
    val out = TermWeights.textRankKeywords(docs, "text", k = 10, iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    val toks = out.map(_._1).toSet
    assert(!toks.contains("the") && !toks.contains("ab"))
    assert(out.head._1 == "core", s"hub must rank first: ${out.toSeq}")
    assert(out.map(_._2).sorted.reverse.toSeq == out.map(_._2).toSeq,
      "output must be rank-descending")
    // the filtered-adjacency weights matter: gamma sits next to core
    // TWICE ("core gamma" + "gamma core" after the stopword drop), delta
    // once — so gamma collects strictly more rank mass
    val m = out.toMap
    assert(m("gamma") > m("delta"))
    assert(out.forall(_._2 > 0.0))
  }

  test("geo nearestK: known distances, deterministic tie-break, k clamp") {
    import graft.operators.GeoJoin
    import spark.implicits._
    val pts = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0)).toDF("id", "lat", "lon")
    // b and c are symmetric about point 1 -> identical distance, name breaks
    val st = Seq(("a", 0.0, 1.0), ("b", 1.0, 0.0), ("c", -1.0, 0.0))
      .toDF("name", "lat", "lon")
    val out = GeoJoin.nearestK(pts, "id", st, k = 2)
      .orderBy("id", "rank").collect()
    val p1 = out.filter(_.getLong(0) == 1L)
    // one degree of latitude = pi/180 * 6371 km = 111.194927 km; a sits
    // one degree of longitude away ON the equator - same arc
    assert(p1(0).getAs[String]("station") == "a")
    assert(math.abs(p1(0).getAs[Double]("dist_km") - 111.194927) < 1e-6)
    assert(p1(1).getAs[String]("station") == "b",
      "equal distances must tie-break on name")
    assert(p1(0).getAs[Double]("dist_km") == p1(1).getAs[Double]("dist_km"))
    // k larger than the dimension yields all stations, ranked
    val all = GeoJoin.nearestK(pts, "id", st, k = 10)
      .filter($"id" === 2L).collect()
    assert(all.length == 3 && all.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3))
  }

  test("retention cohorts: weekly triangle, pre-cohort activity dropped") {
    import graft.operators.Sessionize
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2024-01-01 is a Monday. u1 cohort wk0, active wk0+wk2; u2 cohort wk0,
    // active wk0 only (plus PRE-cohort signup that must not count);
    // u3 cohort wk1, active wk1+wk2; non-matching event types are ignored.
    val events = Seq(
      (1L, ts("2024-01-02 10:00:00"), "purchase"),
      (1L, ts("2024-01-16 10:00:00"), "purchase"),
      (2L, ts("2023-12-25 10:00:00"), "signup"),
      (2L, ts("2024-01-03 10:00:00"), "purchase"),
      (2L, ts("2024-01-04 10:00:00"), "purchase"), // same week, one hit
      (3L, ts("2024-01-10 10:00:00"), "purchase"),
      (3L, ts("2024-01-17 10:00:00"), "purchase"),
      (3L, ts("2024-01-18 10:00:00"), "view")
    ).toDF("user_id", "ts", "event_type")
    val out = Sessionize.retentionCohorts(events, "user_id", "ts",
        $"event_type" === "purchase", $"event_type" === "purchase")
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out == Map(
      ("2024-01-01", 0) -> ((2L, 2L, 1.0)),
      ("2024-01-01", 2) -> ((1L, 2L, 0.5)),
      ("2024-01-08", 0) -> ((1L, 1L, 1.0)),
      ("2024-01-08", 1) -> ((1L, 1L, 1.0))))
  }

  test("lshRecallMatrix: exact-dup truth recovered at every config; cost counted") {
    import graft.operators.Dedup
    import spark.implicits._
    // two identical pairs (jaccard 1.0) + unrelated docs: at threshold
    // 0.99 the truth is exactly those pairs, and identical signatures
    // collide in EVERY band, so recall is 1.0 at any banding
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (3L, "india juliett kilo lima mike november oscar papa"),
      (4L, "india juliett kilo lima mike november oscar papa"),
      (5L, "one two three four five six seven eight nine ten"),
      (6L, "completely different words in this document entirely"))
      .toDF("doc_id", "text")
    val r = Dedup.lshRecallMatrix(docs, "doc_id", "text",
        threshold = 0.99, configs = Seq((32, 4), (32, 8), (32, 16)))
      .orderBy("rows_per_band").collect()
    assert(r.length == 3)
    r.foreach { row =>
      assert(row.getAs[Long]("n_true_pairs") == 2L)
      assert(row.getAs[Long]("n_recovered") == 2L)
      assert(row.getAs[Double]("recall") == 1.0)
      assert(row.getAs[Long]("n_candidates") >= row.getAs[Long]("n_recovered"))
      assert(row.getAs[Int]("n_bands") == 32 / row.getAs[Int]("rows_per_band"))
    }
    // empty truth -> recall undefined (null), not a division blowup
    val none = Dedup.lshRecallMatrix(docs, "doc_id", "text",
        threshold = 0.99, configs = Seq((32, 4)),
        tokens = t => array_distinct(graft.functions.TextFunctions.shingles(t, 8)))
      .collect().head
    // 8-shingles of 8-to-10-word docs rarely tie at >= 0.99... identical
    // docs still do; just pin the shape contract on whatever truth exists
    assert(none.getAs[Long]("n_candidates") >= 0L)
    intercept[IllegalArgumentException] {
      Dedup.lshRecallMatrix(docs, "doc_id", "text", 0.5, Seq((32, 5)))
    }
  }

  test("parseRobots: groups, comments, multi-UA, empty disallow, Allow ignored") {
    import graft.operators.Curation
    import spark.implicits._
    val robots = Seq(
      ("a.com",
        """# crawler policy
          |User-agent: graftbot
          |Disallow: /private/
          |Disallow: /tmp   # trailing comment
          |
          |User-agent: *
          |User-agent: otherbot
          |Disallow: /
          |Allow: /public
          |Disallow:
          |""".stripMargin),
      ("b.net", "User-agent: *\nDisallow: /search"))
      .toDF("domain", "txt")
    val rules = Curation.parseRobots(robots, "domain", "txt")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rules == Set(
      ("a.com", "graftbot", "/private/"),
      ("a.com", "graftbot", "/tmp"),
      // the second group lists TWO agents; both get its one real rule;
      // the empty Disallow emits nothing and Allow is ignored
      ("a.com", "*", "/"), ("a.com", "otherbot", "/"),
      ("b.net", "*", "/search")))
  }

  test("robotsVerdicts: exact group beats *, unlisted domain allows, prefix semantics") {
    import graft.operators.Curation
    import spark.implicits._
    val rules = Seq(
      ("a.com", "graftbot", "/private/"), ("a.com", "graftbot", "/tmp"),
      ("a.com", "*", "/"),
      ("b.net", "*", "/search"))
      .toDF("domain", "agent", "prefix")
    val docs = Seq(
      (1L, "http://A.com:80/private/x"),   // exact group: blocked
      (2L, "http://a.com/tmp9"),           // prefix match /tmp -> blocked
      (3L, "http://a.com/public"),         // exact group exists -> * "/"
                                           // is IGNORED -> allowed
      (4L, "https://b.net/search?q=1"),    // * group: blocked
      (5L, "https://b.net/about"),         // allowed
      (6L, "https://c.org/anything"))      // unlisted domain: allowed
      .toDF("doc_id", "url")
    val out = Curation.robotsVerdicts(docs, "url", rules, agent = "GraftBot")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("robots_blocked")).toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> false,
      4L -> true, 5L -> false, 6L -> false))
    // a crawler with no exact group on a.com falls back to its * rules
    val other = Curation.robotsVerdicts(docs, "url", rules, agent = "newbot")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("robots_blocked")).toMap
    assert(other(3L) && other(1L) && !other(6L)) // "/" blocks all of a.com
  }

  test("FIM transform: spans reassemble the original, PSM/SPM share cuts, rate and salt behave") {
    import graft.operators.Fim
    val docs = (1L to 40L).map(i =>
        (i, s"doc $i body " + ("w" + i + " ") * (i % 7).toInt + "tail"))
      .toDF("doc_id", "text")
    val original = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val psm = Fim.fim(docs, "doc_id", "text", ratePct = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val spm = Fim.fim(docs, "doc_id", "text", ratePct = 50, spm = true)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(psm.exists(_._3) && psm.exists(!_._3), "rate=50 must mix modes")
    // selection is a pure function of (id, salt): both modes agree on it
    assert(psm.map(t => t._1 -> t._3).toMap == spm.map(t => t._1 -> t._3).toMap)
    def spansPsm(t: String): (String, String, String) = {
      val p = t.stripPrefix(Fim.Prefix)
      val Array(pre, rest) = p.split(java.util.regex.Pattern.quote(Fim.Suffix), 2)
      val Array(suf, mid) = rest.split(java.util.regex.Pattern.quote(Fim.Middle), 2)
      (pre, mid, suf)
    }
    psm.foreach { case (id, t, applied) =>
      if (!applied) assert(t == original(id))
      else {
        assert(t.startsWith(Fim.Prefix))
        val (pre, mid, suf) = spansPsm(t)
        // the three spans reassemble the document exactly — FIM reorders,
        // never loses or duplicates a character
        assert(pre + mid + suf == original(id), s"doc $id spans diverge")
      }
    }
    // SPM rides the SAME cuts: its reassembly equals PSM's span split
    val psmById = psm.map(t => t._1 -> t._2).toMap
    spm.foreach { case (id, t, applied) =>
      if (applied) {
        val (pre, mid, suf) = spansPsm(psmById(id))
        assert(t == Fim.Prefix + Fim.Suffix + suf + Fim.Middle + pre + mid,
          s"doc $id SPM diverges from PSM cuts")
      } else assert(t == original(id))
    }
    // rate extremes
    assert(Fim.fim(docs, "doc_id", "text", ratePct = 0)
      .filter(col("fim_applied")).count() == 0)
    assert(Fim.fim(docs, "doc_id", "text", ratePct = 100)
      .filter(!col("fim_applied")).count() == 0)
    // determinism + salt sensitivity
    val again = Fim.fim(docs, "doc_id", "text", ratePct = 50)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(again.toSeq.sortBy(_._1) == psm.toSeq.sortBy(_._1))
    val salted = Fim.fim(docs, "doc_id", "text", ratePct = 50, salt = ":v2")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(salted != psm.map(t => t._1 -> t._3).toMap,
      "a different salt must re-draw the selection")
  }
}
