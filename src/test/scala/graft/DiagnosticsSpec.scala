package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Diagnostics, Sampling}

class DiagnosticsSpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text")

  test("distinct-n ratio: templated source scores below a diverse one; counts are exact") {
    val docs = docsOf(
      (1L, "tmpl", "click here to buy"), (2L, "tmpl", "click here to buy"),
      (3L, "tmpl", "click here to win"),
      (4L, "prose", "alpha beta gamma delta"), (5L, "prose", "epsilon zeta eta theta"))
    val r = Diagnostics.distinctNgramRatio(docs, "source", "text", n = 2)
      .collect().map(x => x.getAs[String]("source") ->
        (x.getAs[Long]("n_ngrams"), x.getAs[Long]("n_distinct"),
          x.getAs[Double]("distinct_ratio"))).toMap
    // tmpl: 3 docs x 3 bigrams = 9 positional, distinct {click-here, here-to,
    // to-buy, to-win} = 4; prose: 6 positional, all distinct
    assert(r("tmpl") == ((9L, 4L, round6(4.0 / 9))))
    assert(r("prose") == ((6L, 6L, 1.0)))
    assert(r("tmpl")._3 < r("prose")._3)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("KL divergence: non-negative, and a skewed source reads higher than a representative one") {
    // corpus is dominated by a/b; src_rep mirrors that, src_skew is all-c
    val docs = docsOf(
      (1L, "src_rep", "a a a b b a a b"),
      (2L, "src_rep", "a b a a b a a b"),
      (3L, "src_skew", "c c c c c c c c"))
    val out = Diagnostics.unigramKlBySource(docs, "source", "text", vocabSize = 8)
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Double]("kl_nats")).toMap
    assert(out.keySet == Set("src_rep", "src_skew"))
    assert(out.values.forall(_ >= 0.0))
    assert(out("src_skew") > out("src_rep"))
  }

  test("KL divergence: OOV mass is the per-source total minus in-vocab tokens") {
    // vocab cap 1 keeps only the corpus-top token "a"; src2's 3 b's are OOV
    val docs = docsOf((1L, "src1", "a a a a"), (2L, "src2", "a b b b"))
    val out = Diagnostics.unigramKlBySource(docs, "source", "text", vocabSize = 1)
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("oov_tokens"))).toSet
    assert(out == Set(("src1", 4L, 0L), ("src2", 4L, 3L)))
  }

  test("zipf slope reads ~-1 on an exact power-law vocabulary") {
    // token t_i appears floor(120/i) times, i = 1..12 — counts 120,60,40,...
    val words = (1 to 12).flatMap(i => Seq.fill(120 / i)(f"t$i%02d"))
    val docs = Seq((1L, "s", words.mkString(" "))).toDF("doc_id", "source", "text")
    val row = Diagnostics.zipfSlope(docs, "text", vocabSize = 64).collect().head
    assert(row.getAs[Long]("n_terms") == 12L)
    assert(math.abs(row.getAs[Double]("slope") - (-1.0)) < 0.05)
  }

  test("CMS: estimate >= exact always; tiny width forces a strict overestimate somewhere") {
    val docs = docsOf(
      (1L, "s", "a a a a b b c d e f g h"),
      (2L, "s", "b c d i j k l m n o p q"))
    val wide = Diagnostics.cmsTopK(docs, "text", depth = 2, width = 4096, k = 100)
      .collect()
    assert(wide.forall(r => r.getAs[Long]("est_cnt") == r.getAs[Long]("exact_cnt")))
    val tight = Diagnostics.cmsTopK(docs, "text", depth = 2, width = 2, k = 100)
      .collect()
    assert(tight.forall(r => r.getAs[Long]("est_cnt") >= r.getAs[Long]("exact_cnt")))
    assert(tight.exists(r => r.getAs[Long]("est_cnt") > r.getAs[Long]("exact_cnt")))
  }

  test("CMS cells are mergeable: sketch(A ++ B) == cell-wise sum of sketch(A) and sketch(B)") {
    val a = docsOf((1L, "s", "a a b c"), (2L, "s", "d e f a"))
    val b = docsOf((3L, "s", "b b c g"), (4L, "s", "a h i j"))
    val (d0, w0) = (3, 8)
    val merged = Diagnostics.cmsCells(a.unionByName(b), "text", d0, w0)
      .collect().map(r => (r.getAs[Int]("r"), r.getAs[Long]("c")) -> r.getAs[Long]("cell_cnt")).toMap
    val summed = (Diagnostics.cmsCells(a, "text", d0, w0).collect() ++
        Diagnostics.cmsCells(b, "text", d0, w0).collect())
      .groupBy(r => (r.getAs[Int]("r"), r.getAs[Long]("c")))
      .view.mapValues(_.map(_.getAs[Long]("cell_cnt")).sum).toMap
    assert(merged == summed)
  }

  test("cross-source dup matrix counts pair products per shared key") {
    // key k1: A×2, B×1 → AA C(2,2)=1, AB 2·1=2; key k2: B×2 → BB 1
    val df = Seq(("k1", "A"), ("k1", "A"), ("k1", "B"), ("k2", "B"), ("k2", "B"),
      ("k3", "A")).toDF("k", "source")
    val out = Diagnostics.crossSourceDupMatrix(df, col("k"), "source")
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_groups"))).toSeq
    assert(out == Seq(("A", "A", 1L, 1L), ("A", "B", 2L, 1L), ("B", "B", 1L, 1L)))
  }

  test("cluster size histogram folds a labeling into (size, n_clusters, n_docs)") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L),
      (10L, 10L), (11L, 10L)).toDF("id", "comp")
    val out = Diagnostics.clusterSizeHistogram(labels).collect()
      .map(r => (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"),
        r.getAs[Long]("n_docs"))).toSeq
    assert(out == Seq((2L, 2L, 4L), (3L, 1L, 3L)))
  }

  test("curriculum interleave: sharded two-phase pos equals the plain global per-bucket rank") {
    val docs = (1L to 97L).map(i => (i, (i * 37 % 23 + 1).toString * 3))
      .toDF("doc_id", "text")
      .select(col("doc_id"), length(col("text")).cast("long").as("score"))
    val out = Sampling.curriculumInterleave(
      docs, col("doc_id"), col("score"), nBuckets = 3, shards = 4, salt = ":t1")
    // expected: single global window per bucket over the same shuffle hash
    import org.apache.spark.sql.expressions.Window
    val h = Dedup.tokenFp60(concat(col("doc_id").cast("string"), lit(":t1")))
    val expected = out.select(col("doc_id"), col("bucket"))
      .withColumn("__h", h)
      .withColumn("want_pos", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("__h"), col("doc_id"))) - 1)
    val joined = out.join(expected.select("doc_id", "want_pos"), "doc_id")
    assert(joined.filter(col("pos") =!= col("want_pos")).isEmpty)
    // (pos, bucket) is a total order: unique pairs, buckets interleave
    assert(out.select("pos", "bucket").distinct().count() == 97L)
  }

  test("CMS cells build incrementally over a stream and equal the batch sketch") {
    // cell counts ADD, so the batch operator runs unchanged as a streaming
    // Complete-mode aggregation — the per-microbatch update IS the merge
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = Diagnostics.cmsCells(stream, "text", depth = 3, width = 16)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData((1L, "a a b c"), (2L, "d e f a"))
      q.processAllAvailable()
      mem.addData((3L, "b b c g"), (4L, "a h i j"))
      q.processAllAvailable()
      val got = spark.sql("SELECT * FROM cms_stream").collect()
        .map(r => (r.getAs[Int]("r"), r.getAs[Long]("c")) -> r.getAs[Long]("cell_cnt")).toMap
      val want = Diagnostics.cmsCells(
          Seq((1L, "a a b c"), (2L, "d e f a"), (3L, "b b c g"), (4L, "a h i j"))
            .toDF("doc_id", "text"), "text", depth = 3, width = 16)
        .collect().map(r => (r.getAs[Int]("r"), r.getAs[Long]("c")) -> r.getAs[Long]("cell_cnt")).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("embedding drift: a source matching the global direction reads cos 1, an orthogonal one lower") {
    val docs = Seq((1L, "aligned"), (2L, "aligned"), (3L, "ortho"))
      .toDF("doc_id", "source")
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val out = Diagnostics.embeddingDriftBySource(
        docs, emb, "source", "doc_id", "vec_id", "embedding")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("cos_centroid"))).toMap
    // global centroid = (2/3, 1/3); aligned centroid (1,0) → cos = 2/sqrt(5)
    assert(out("aligned")._1 == 2L)
    assert(math.abs(out("aligned")._2 - 2.0 / math.sqrt(5.0)) < 1e-6)
    assert(out("ortho")._2 < out("aligned")._2)
  }

  test("firstFailVerdict labels by the FIRST failing stage, kept fallback") {
    import graft.operators.Curation
    val df = Seq(-5, 5, 50).toDF("x")
      .withColumn("v", Curation.firstFailVerdict(Seq(
        "neg" -> (col("x") < 0), "small" -> (col("x") < 10))))
      .orderBy("x")
    assert(df.select("v").as[String].collect().toSeq == Seq("neg", "small", "kept"))
  }

  test("curriculum interleave rejects a non-power-of-two shard count") {
    val docs = Seq((1L, 3L)).toDF("doc_id", "score")
    intercept[IllegalArgumentException] {
      Sampling.curriculumInterleave(docs, col("doc_id"), col("score"),
        nBuckets = 2, shards = 3)
    }
  }

  test("filter agreement: kappa 1 on identical, hand-value on partial, null on degenerate") {
    import graft.operators.Diagnostics
    import spark.implicits._
    // 8 docs, two scores: f1 = s1 > 0, f2 = s2 > 0, f3 ≡ f1, f4 always true
    // contingency f1/f2: n11=3, n10=1, n01=1, n00=3 -> po=6/8,
    // pe = (4/8)(4/8)+(4/8)(4/8) = 1/2, kappa = (0.75-0.5)/0.5 = 0.5
    val docs = Seq(
      (1, 1), (1, 1), (1, 1), (1, -1),
      (-1, 1), (-1, -1), (-1, -1), (-1, -1))
      .toDF("s1", "s2")
    val out = Diagnostics.filterAgreementMatrix(docs, Seq(
        "f1" -> (col("s1") > 0), "f2" -> (col("s2") > 0),
        "f3" -> (col("s1") > 0), "f4" -> lit(true)))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val f12 = out(("f1", "f2"))
    assert((f12.getLong(2), f12.getLong(3), f12.getLong(4), f12.getLong(5)) ==
      ((3L, 1L, 1L, 3L)))
    assert(f12.getAs[Double]("p_o") == 0.75 && f12.getAs[Double]("p_e") == 0.5)
    assert(f12.getAs[Double]("kappa") == 0.5)
    // identical filters: perfect agreement
    assert(out(("f1", "f3")).getAs[Double]("kappa") == 1.0)
    // degenerate pair (f4 constant true vs itself impossible here, but
    // f4 against f1 has pe < 1 -> defined; a constant-vs-constant pair is
    // the null case, exercised by comparing f4 with an all-true clone
    val deg = Diagnostics.filterAgreementMatrix(docs, Seq(
        "a" -> lit(true), "b" -> lit(true)))
      .collect().head
    assert(deg.getAs[Double]("p_e") == 1.0 &&
      deg.isNullAt(deg.fieldIndex("kappa")))
    // one pass, all pairs: 4 filters -> 6 rows
    assert(Diagnostics.filterAgreementMatrix(docs, Seq(
      "f1" -> (col("s1") > 0), "f2" -> (col("s2") > 0),
      "f3" -> (col("s1") > 0), "f4" -> lit(true))).count() == 6)
  }

  test("exactQuantiles: rank semantics on a hand-built multiset, sharded == tiny") {
    import spark.implicits._
    // values 1x10, 2x20, 3x30, 4x40 (n=100): cum = 10, 30, 60, 100
    val df = (Seq.fill(10)(1) ++ Seq.fill(20)(2) ++ Seq.fill(30)(3) ++
      Seq.fill(40)(4)).toDF("v")
    val out = Diagnostics.exactQuantiles(df, col("v"),
        qs = Seq(0.1, 0.11, 0.3, 0.5, 0.95, 1.0))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0.1) == ((10L, 1L, 100L)))   // rank 10 -> cum(1)=10 reaches
    assert(out(0.11) == ((11L, 2L, 100L)))  // rank 11 -> first past value 1
    assert(out(0.3) == ((30L, 2L, 100L)))
    assert(out(0.5) == ((50L, 3L, 100L)))
    assert(out(0.95) == ((95L, 4L, 100L)))
    assert(out(1.0) == ((100L, 4L, 100L))) // q=1 is the max
    // shard count cannot change an exact answer (only the cumsum layout)
    val s2 = Diagnostics.exactQuantiles(df, col("v"),
        qs = Seq(0.1, 0.11, 0.3, 0.5, 0.95, 1.0), shards = 3)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(s2 == out)
  }

  test("exactQuantilesBy: per-group rank quantiles, null group dropped") {
    import spark.implicits._
    val df = (Seq.fill(2)(("a", 1)) ++ Seq.fill(3)(("a", 2)) ++
      Seq(("b", 10), ("b", 20), ("b", 30), ("b", 30)) ++
      Seq((null: String, 99))).toDF("g", "v")
    val out = Diagnostics.exactQuantilesBy(df, "g", col("v"),
        qs = Seq(0.4, 0.5, 1.0), shards = 3)
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.size == 6)                       // 2 groups x 3 qs, no null
    assert(out(("a", 0.4)) == ((2L, 1L, 5L)))   // rank 2 -> cum(1)=2
    assert(out(("a", 0.5)) == ((3L, 2L, 5L)))   // rank 3 -> first past 1
    assert(out(("a", 1.0)) == ((5L, 2L, 5L)))
    assert(out(("b", 0.4)) == ((2L, 20L, 4L)))  // cum: 10->1, 20->2, 30->4
    assert(out(("b", 0.5)) == ((2L, 20L, 4L)))
    assert(out(("b", 1.0)) == ((4L, 30L, 4L)))
    // the counts-frame entry point is the same computation
    val c = df.filter(col("g") === "a").groupBy(col("v").cast("long").as("v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
    val fromCounts = Diagnostics.exactQuantilesFromCounts(c, Seq(0.4, 0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> r.getLong(2)).toMap
    assert(fromCounts == Map(0.4 -> 1L, 0.5 -> 2L, 1.0 -> 2L))
  }

  test("massQuantilesFromCounts: mass targets, zero-length rows carry none") {
    import spark.implicits._
    // mass per value: 1x10=10, 2x20=40, 3x30=90, 4x40=160; cum 10/50/140/300
    val c = Seq((0L, 5L), (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("v", "cnt")
    val out = Diagnostics.massQuantilesFromCounts(c, Seq(0.1, 0.5, 1.0))
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0.1) == ((30L, 2L, 300L)))  // mass 30 -> cum(2)=50 reaches
    assert(out(0.5) == ((150L, 4L, 300L))) // half the tokens need v=4
    assert(out(1.0) == ((300L, 4L, 300L)))
  }

  test("psiByCategory: hand-computed terms, one-sided category, zero drift") {
    import spark.implicits._
    val ref = (Seq.fill(6)("a") ++ Seq.fill(2)("b")).toDF("g")
    val cur = (Seq.fill(2)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c"))
      .toDF("g")
    val out = Diagnostics.psiByCategory(ref, cur, col("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(5)))).toMap
    // union k=3; smoothed pr = (n_ref+1)/11, pc = (n_cur+1)/11
    def term(a: Long, b: Long): Double = {
      val pr = (a + 1.0) / 11.0; val pc = (b + 1.0) / 11.0
      BigDecimal((pc - pr) * math.log(pc / pr))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(out("a") == ((6L, 2L, term(6, 2))))
    assert(out("b") == ((2L, 4L, term(2, 4))))
    assert(out("c") == ((0L, 2L, term(0, 2)))) // one-sided stays finite
    assert(out.values.map(_._3).sum > 0.25)    // this split is real drift
    // identical slices: every term is exactly zero
    val same = Diagnostics.psiByCategory(ref, ref, col("g"))
      .collect().map(_.getDouble(5))
    assert(same.forall(_ == 0.0))
  }
}
