package graft

import org.apache.spark.sql.functions._

import graft.operators.QualityClassifier

/** Naive-Bayes quality filter: hand-computed model on a tiny labeled split,
  * the prior-only verdict for token-less docs, and the separation property
  * (docs made of good-class tokens keep, bad-class tokens drop). */
class QualityClassifierSpec extends SparkSpec {

  private val B = 64

  private def df(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("hand-computed two-token model scores exactly") {
    val pos = df(Seq((1L, "good good"), (2L, "good fine")))
    val neg = df(Seq((3L, "bad bad bad")))
    val m = QualityClassifier.train(pos, neg, "doc_id", "text", buckets = B)
    // class-conditional token totals: np = 4, nn = 3
    val scored = QualityClassifier.score(df(Seq((10L, "good"), (11L, "bad"))),
      "doc_id", "text", m).orderBy("doc_id").collect()
    val prior = BigDecimal(math.log(3.0 / 2.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // p(good|pos) = (3+1)/(4+64); p(good|neg) = (0+1)/(3+64)
    val llrGood = BigDecimal(math.log((4.0 / 68.0) / (1.0 / 67.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val llrBad = BigDecimal(math.log((1.0 / 68.0) / (4.0 / 67.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val expGood = (llrGood + prior).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expBad = (llrBad + prior).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scored(0).getAs[Double]("log_odds") === expGood)
    assert(scored(0).getAs[Boolean]("keep"))
    assert(scored(1).getAs[Double]("log_odds") === expBad)
    assert(!scored(1).getAs[Boolean]("keep"))
  }

  test("token-less documents get the prior-only verdict") {
    val pos = df(Seq((1L, "alpha beta")))
    val neg = df(Seq((2L, "gamma"), (3L, "delta")))
    val m = QualityClassifier.train(pos, neg, "doc_id", "text", buckets = B)
    val r = QualityClassifier.score(df(Seq((9L, "   "))), "doc_id", "text", m)
      .collect().head
    assert(r.getAs[Long]("n_tokens") === 0L)
    // prior = ln((1+1)/(2+1)) < 0 → drop
    val prior = BigDecimal(math.log(2.0 / 3.0)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(r.getAs[Double]("log_odds") ===
      prior.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!r.getAs[Boolean]("keep"))
  }

  test("classifier separates class-pure documents on a generated split") {
    val goodWords = Seq("clear", "prose", "reads", "well", "structured")
    val badWords = Seq("zzspam", "xxjunk", "qqnoise", "vvgarbled", "kkrandom")
    val pos = df((0 until 20).map(i =>
      (i.toLong, (0 until 8).map(j => goodWords((i + j) % 5)).mkString(" "))))
    val neg = df((0 until 20).map(i =>
      (100L + i, (0 until 8).map(j => badWords((i + j) % 5)).mkString(" "))))
    val m = QualityClassifier.train(pos, neg, "doc_id", "text", buckets = 1024)
    val probe = df(Seq((500L, "prose reads well"), (501L, "xxjunk qqnoise kkrandom")))
    val r = QualityClassifier.score(probe, "doc_id", "text", m)
      .orderBy("doc_id").collect()
    assert(r(0).getAs[Boolean]("keep"), "good-token doc dropped")
    assert(!r(1).getAs[Boolean]("keep"), "bad-token doc kept")
  }

  test("persisted model scores bit-identically to the in-memory one") {
    val pos = df(Seq((1L, "good clean prose here"), (2L, "clean good text")))
    val neg = df(Seq((3L, "spam spam buy now"), (4L, "buy spam click")))
    val m = QualityClassifier.train(pos, neg, "doc_id", "text", buckets = B)
    val dir = java.nio.file.Files.createTempDirectory("nb").toString + "/m"
    QualityClassifier.save(m, dir)
    val docs = df(Seq((10L, "good clean buy"), (11L, "spam click now"), (12L, "")))
    def scored(model: QualityClassifier.NbModel) =
      QualityClassifier.score(docs, "doc_id", "text", model)
        .collect().map(r => (r.getLong(0), r.getAs[Double]("log_odds"),
          r.getAs[Boolean]("keep"))).toSet
    assert(scored(m) == scored(QualityClassifier.load(spark, dir)))
  }

  test("binary metrics: hand-computed AUC/AP, tie credit, and single-class nulls") {
    import graft.operators.ClassifierEval
    val s = spark
    import s.implicits._
    // g1: pos@{0.9,0.7} neg@{0.8,0.6} -> 3 of 4 pairs ordered: AUC 0.75;
    //     AP thresholds desc: P=1 at R=1/2, P=2/3 at R=1 -> 1/2 + 1/3
    // g2: every score tied -> AUC exactly 0.5 (pure tie credit)
    // g3: single class -> AUC null, AP 1.0 (every threshold is precision 1)
    val df = Seq(
      ("g1", 0.9, true), ("g1", 0.8, false), ("g1", 0.7, true), ("g1", 0.6, false),
      ("g2", 0.5, true), ("g2", 0.5, false), ("g2", 0.5, true), ("g2", 0.5, false),
      ("g3", 0.4, true), ("g3", 0.2, true)
    ).toDF("src", "v", "y")
    val got = ClassifierEval.binaryMetricsBy(df, "src", col("v"), col("y"))
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)))).toSeq
    def d(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      ("g1", 4L, 2L, 2L, Some(0.75), Some(d(0.5 + 1.0 / 3))),
      ("g2", 4L, 2L, 2L, Some(0.5), Some(0.5)),
      ("g3", 2L, 2L, 0L, None, Some(1.0))))
  }

  test("binary metrics match a brute-force pair count across many shards") {
    import graft.operators.ClassifierEval
    // 400 rows, scores on a coarse grid so ties span shard thresholds
    val df = spark.range(0, 400).select(
      lit("g").as("src"),
      ((col("id") * 37 % 21).cast("double") / 20).as("v"),
      ((col("id") * 13 % 7) < 3).as("y"))
    val rows = df.select("v", "y").collect()
      .map(r => (r.getDouble(0), r.getBoolean(1)))
    val pos = rows.filter(_._2).map(_._1); val neg = rows.filterNot(_._2).map(_._1)
    val u = (for (p <- pos; n <- neg)
      yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val want = BigDecimal(u / (pos.length.toLong * neg.length))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    for (shards <- Seq(2, 8, 32)) {
      val got = ClassifierEval.binaryMetricsBy(df, "src", col("v"), col("y"),
        shards = shards).select("auc_roc").head().getDouble(0)
      assert(got == want, s"shards=$shards: $got != $want")
    }
  }

  // the logistic trainer and scorer over one tokenFold of `docs`
  private val lgSalt = ":lg1"
  private def trainLogistic(docs: org.apache.spark.sql.DataFrame,
                            label: org.apache.spark.sql.Column, iters: Int,
                            buckets: Int) =
    QualityClassifier.trainLogisticFold(docs, "doc_id", label,
      QualityClassifier.tokenFold(docs, "doc_id", "text", buckets, lgSalt),
      iters, lr = 0.5, buckets, lgSalt)
  private def scoreLogistic(docs: org.apache.spark.sql.DataFrame,
                            m: QualityClassifier.LogitModel) =
    QualityClassifier.scoreLogisticFold(docs, "doc_id",
      QualityClassifier.tokenFold(docs, "doc_id", "text", m.buckets, m.salt), m)

  test("logistic GD: one hand-computed iteration; margins, p, prior-only docs") {
    import spark.implicits._
    // d1 = "aa aa" (positive), d2 = "bb" (negative); with lr=0.5 over n=2
    // docs, lrEff=0.25. Iteration 1 from w=0: p=0.5 for both, err=+/-0.5;
    // grad(aa)=2*0.5=1.0, grad(bb)=-0.5, grad(bias)=0 ->
    // w(aa)=0.25, w(bb)=-0.125, bias=0.
    val docs = Seq((1L, "aa aa"), (2L, "bb")).toDF("doc_id", "text")
    val m1 = trainLogistic(docs, col("doc_id") === 1L, iters = 1, buckets = 4096)
    assert(m1.bias.doubleValue == 0.0)
    val s1 = scoreLogistic(docs, m1)
      .orderBy("doc_id").collect()
    assert(s1(0).getAs[Double]("margin") == 0.5)    // 2 * 0.25
    assert(s1(0).getAs[Long]("n_tokens") == 2L)
    assert(s1(0).getAs[Boolean]("keep"))
    assert(s1(1).getAs[Double]("margin") == -0.125)
    assert(!s1(1).getAs[Boolean]("keep"))
    // p is the 9-decimal sigmoid of the exact margin
    assert(s1(0).getAs[Double]("p") ==
      BigDecimal(1.0 / (1.0 + math.exp(-0.5)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // unseen tokens score the bias alone; empty text keeps n_tokens = 0
    val s1u = scoreLogistic(Seq((9L, "zz zz"), (10L, "")).toDF("doc_id", "text"), m1)
      .orderBy("doc_id").collect()
    assert(s1u(0).getAs[Double]("margin") == 0.0)
    assert(s1u(1).getAs[Long]("n_tokens") == 0L)
  }

  test("logistic GD: more iterations separate the classes monotonically") {
    import spark.implicits._
    val docs = (1L to 30L).map { i =>
      (i, if (i % 2 == 0) "good solid prose here" else "spam junk list spam")
    }.toDF("doc_id", "text")
    val lab = col("doc_id") % 2 === 0
    def margins(iters: Int): Map[Long, Double] =
      scoreLogistic(docs, trainLogistic(docs, lab, iters, buckets = 4096))
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("margin")).toMap
    val m1 = margins(1); val m3 = margins(3)
    // every positive doc's margin grows, every negative's shrinks
    assert((2L to 30L by 2).forall(i => m3(i) > m1(i) && m3(i) > 0))
    assert((1L to 29L by 2).forall(i => m3(i) < m1(i) && m3(i) < 0))
    // the weight frame is buckets-bounded (distinct tokens here: 7)
    val mdl = trainLogistic(docs, lab, iters = 2, buckets = 4096)
    assert(mdl.w.count() <= 7L)
  }

  test("shared tokenFold path is bit-identical to the per-token path") {
    import spark.implicits._
    // mixed corpus incl. a token-less doc and a doc whose tokens repeat
    val docs = ((1L to 24L).map { i =>
      (i, if (i % 3 == 0) "spam spam junk buy now"
          else if (i % 3 == 1) "clear structured prose reads well here"
          else "prose prose prose spam")
    } :+ (99L, "   ")).toDF("doc_id", "text")
    val label = col("doc_id") % 3 === 1
    val labels = docs.select(col("doc_id"), label.as("is_pos"))
    val fold = QualityClassifier.tokenFold(docs, "doc_id", "text",
      buckets = 256, salt = ":t")
    // NB: train on the split vs trainFold on the labels — same model scores
    val mA = QualityClassifier.train(docs.filter(label), docs.filter(!label),
      "doc_id", "text", buckets = 256, salt = ":t")
    val mB = QualityClassifier.trainFold(fold, labels, buckets = 256,
      salt = ":t")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0),
        r.getAs[Long]("n_tokens"), r.getAs[Double]("log_odds"))).toSeq
    assert(rows(QualityClassifier.score(docs, "doc_id", "text", mA)) ==
      rows(QualityClassifier.scoreFold(docs, "doc_id", fold, mB)))
  }
}
