package graft

import org.apache.spark.sql.functions._

import graft.operators.LanguageModel

/** Stupid-backoff bigram LM: hand-computed model counts and scores. */
class LanguageModelSpec extends SparkSpec {

  private def refDocs = {
    import spark.implicits._
    Seq((1L, "a b a b c"), (2L, "a b d")).toDF("doc_id", "text")
  }

  test("training: capped vocab, unk mass, normalized bigram counts") {
    val lm = LanguageModel.trainBigramLm(refDocs, "doc_id", "text",
      vocabCap = 3, bigramCap = 10)
    assert(lm.totalTokens == 8L)
    assert(lm.vocabTypes == 3L)
    // top-3 by (count desc, token asc): a(3), b(3), c(1); d falls to <unk>
    val uni = lm.unigrams.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uni == Map("a" -> 3L, "b" -> 3L, "c" -> 1L, LanguageModel.Unk -> 1L))
    // normalized streams: d1 = a b a b c, d2 = a b <unk>
    val big = lm.bigrams.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(big == Map(("a", "b") -> 3L, ("b", "a") -> 1L,
      ("b", "c") -> 1L, ("b", LanguageModel.Unk) -> 1L))
  }

  test("scoring: bigram hit, stupid backoff, unigram head, OOV -> unk") {
    import spark.implicits._
    val lm = LanguageModel.trainBigramLm(refDocs, "doc_id", "text",
      vocabCap = 3, bigramCap = 10)
    // denom = N + U + 1 = 12
    // "a b z": pos1 a -> (3+1)/12 = 1/3; (a,b) -> 3/3 = 1; (b, z->unk) -> 1/3
    // "c c":   pos1 c -> (1+1)/12 = 1/6; (c,c) unseen -> 0.4 * 2/12 = 1/15
    val out = LanguageModel.perplexity(
      Seq((10L, "a b z"), (11L, "c c")).toDF("doc_id", "text"),
      "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def lp(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    // mirror the operator's arithmetic: exact decimal sum, then DOUBLE
    // division by n, then round-6
    def avg6(parts: Seq[Double]): Double =
      BigDecimal(parts.map(lp).sum.toDouble / parts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (n1, avg1, ppl1) = out(10L)
    assert(n1 == 3L)
    assert(avg1 == avg6(Seq(1.0 / 3, 1.0, 1.0 / 3)))
    assert(math.abs(ppl1 - math.exp(-avg1)) < 2e-4)
    val (n2, avg2, _) = out(11L)
    assert(n2 == 2L)
    assert(avg2 == avg6(Seq(1.0 / 6, 1.0 / 15)))
  }

  test("trigram order: hand-computed counts, backoff chain, sharper than bigram") {
    import spark.implicits._
    val lm3 = LanguageModel.trainTrigramLm(refDocs, "doc_id", "text",
      vocabCap = 3, bigramCap = 10, trigramCap = 10)
    // normalized streams: d1 = a b a b c, d2 = a b <unk>
    val tri = lm3.trigrams.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(tri == Map(("a", "b", "a") -> 1L, ("b", "a", "b") -> 1L,
      ("a", "b", "c") -> 1L, ("a", "b", LanguageModel.Unk) -> 1L))
    def lp(x: Double): BigDecimal =
      BigDecimal(math.log(x)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def avg6(parts: Seq[Double]): Double =
      BigDecimal(parts.map(lp).sum.toDouble / parts.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = LanguageModel.perplexityTrigram(
      Seq((10L, "a b a b c"), (11L, "c c c")).toDF("doc_id", "text"),
      "doc_id", "text", lm3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // d10 "a b a b c" (the training text): unigram 1/3, bigram 3/3,
    // then trigram hits 1/3, 1/1, 1/3 — denominators are the CONTEXT
    // bigram counts (a,b)=3, (b,a)=1, (a,b)=3
    assert(out(10L)._1 == 5L)
    assert(out(10L)._2 == avg6(Seq(1.0 / 3, 1.0, 1.0 / 3, 1.0, 1.0 / 3)))
    // d11 "c c c": unigram (1+1)/12, bigram miss -> 0.4 x 2/12,
    // trigram AND bigram miss -> 0.4 x (0.4 x 2/12)
    assert(out(11L)._1 == 3L)
    assert(out(11L)._2 == avg6(Seq(1.0 / 6, 0.4 * (1.0 / 6), 0.4 * (0.4 * (1.0 / 6)))))
    // the trigram order scores the training text at least as fluently as
    // the bigram order (its hits replace 0.4-discounted backoffs)
    val lm2 = LanguageModel.trainBigramLm(refDocs, "doc_id", "text",
      vocabCap = 3, bigramCap = 10)
    val bi = LanguageModel.perplexity(
      Seq((10L, "a b a b c")).toDF("doc_id", "text"), "doc_id", "text", lm2)
      .collect().head.getDouble(2)
    assert(out(10L)._2 >= bi)
  }

  test("cross-entropy selection ranks target-domain text above generic text") {
    import spark.implicits._
    // target domain: legal-ish bigrams; general: the rest of the corpus
    val target = Seq((101L, "party agrees party agrees terms"),
      (102L, "agrees terms party terms")).toDF("doc_id", "text")
    val general = Seq((201L, "rain falls on the hills"),
      (202L, "the hills see rain"), (203L, "wind and rain on hills"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "party agrees terms"), // target-like
      (2L, "rain on the hills"), // general-like
      (3L, "party terms agrees party")) // target-like
      .toDF("doc_id", "text")
    val out = LanguageModel.crossEntropySelect(docs, "doc_id", "text",
        targetRef = target, generalRef = general,
        vocabCap = 64, bigramCap = 256, k = 3)
      .collect()
    // ordered by gap desc: both target-like docs before the general-like one
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    assert(out.last.getAs[Long]("doc_id") == 2L)
    assert(out.take(2).forall(r => r.getAs[Double]("gap") > out.last.getAs[Double]("gap")))
  }

  test("cross-entropy cut keeps exactly the top-gap docs when gaps are distinct") {
    import spark.implicits._
    val target = Seq((101L, "party agrees party agrees terms"),
      (102L, "agrees terms party terms")).toDF("doc_id", "text")
    val general = Seq((201L, "rain falls on the hills"),
      (202L, "the hills see rain"), (203L, "wind and rain on hills"))
      .toDF("doc_id", "text")
    val docs = Seq((1L, "party agrees terms"), (2L, "rain on the hills"),
      (3L, "party terms agrees party"), (4L, "hills and wind"))
      .toDF("doc_id", "text")
    val topk = LanguageModel.crossEntropySelect(docs, "doc_id", "text",
        target, general, vocabCap = 64, bigramCap = 256, k = 2)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val cut = LanguageModel.crossEntropyCut(docs, "doc_id", "text",
        target, general, vocabCap = 64, bigramCap = 256, keepFrac = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(cut == topk) // same selection when no ties straddle the threshold
  }

  test("selectiveTokens: keepFrac=1 keeps every token; fractional keep is per-doc ceil") {
    import spark.implicits._
    val target = Seq((101L, "party agrees party agrees terms"),
      (102L, "agrees terms party terms")).toDF("doc_id", "text")
    val general = Seq((201L, "rain falls on the hills"),
      (202L, "the hills see rain")).toDF("doc_id", "text")
    val docs = Seq((1L, "party agrees terms rain"), (2L, "rain on the hills"),
      (3L, "party")).toDF("doc_id", "text")
    val all = LanguageModel.selectiveTokens(docs, "doc_id", "text",
      target, general, vocabCap = 64, bigramCap = 256, keepFrac = 1.0)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"))).toMap
    assert(all(1L) == (4L, 4L) && all(2L) == (4L, 4L) && all(3L) == (1L, 1L))
    val half = LanguageModel.selectiveTokens(docs, "doc_id", "text",
      target, general, vocabCap = 64, bigramCap = 256, keepFrac = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept"), r.getAs[Double]("kept_frac"))).toMap
    // ceil(0.5*4)=2 kept of 4; ceil(0.5*1)=1 of 1
    assert(half(1L)._1 == 2L && half(2L)._1 == 2L && half(3L) == (1L, 1.0))
  }

  test("selectiveTokens keeps the target-like tokens of a mixed doc") {
    import spark.implicits._
    val target = Seq((101L, "party agrees party agrees terms party agrees"))
      .toDF("doc_id", "text")
    val general = Seq((201L, "rain falls rain falls rain falls the rain"))
      .toDF("doc_id", "text")
    // doc mixes 2 target-domain tokens and 2 general-domain tokens; the
    // kept half must be the target-like positions (1, 2), fingerprinted
    val docs = Seq((1L, "party agrees rain falls")).toDF("doc_id", "text")
    val row = LanguageModel.selectiveTokens(docs, "doc_id", "text",
      target, general, vocabCap = 64, bigramCap = 256, keepFrac = 0.5)
      .collect().head
    assert(row.getAs[Long]("n_kept") == 2L)
    val md5Of = java.security.MessageDigest.getInstance("MD5")
      .digest("1 2".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(row.getAs[String]("kept_md5") == md5Of)
  }

  test("doremiWeights: uniform init, weights sum to 1, worst-headroom domain gains") {
    import spark.implicits._
    val docs = Seq(
      (1L, "party agrees terms party agrees", "legal"),
      (2L, "party terms agrees party terms", "legal"),
      (3L, "rain falls on the hills", "weather"),
      (4L, "the hills see rain and wind", "weather"))
      .toDF("doc_id", "text", "source")
    val out = LanguageModel.doremiWeights(docs, "doc_id", "text", "source",
      proxyRef = docs.filter($"source" === "weather"),
      refRef = docs, vocabCap = 64, bigramCap = 256,
      eta = 1.0, smoothing = 0.01)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("excess"), r.getAs[Double]("w_init"),
          r.getAs[Double]("w_updated"))).toMap
    assert(out.values.forall(_._2 == 0.5))
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-5)
    // the proxy trained only on weather text has headroom on legal docs:
    // legal's excess, and so its updated weight, must exceed weather's
    assert(out("legal")._1 > out("weather")._1)
    assert(out("legal")._3 > out("weather")._3)
  }

  test("score-once selection path is bit-equal to the per-operator paths") {
    import spark.implicits._
    val docs = Seq(
      (1L, "party agrees terms party agrees", "legal"),
      (2L, "party terms agrees rain terms", "legal"),
      (3L, "rain falls on the hills", "weather"),
      (4L, "the hills see rain and wind", "weather"))
      .toDF("doc_id", "text", "source")
    val target = docs.filter($"source" === "legal")
    val general = docs.filter($"source" === "weather")
    val lmT = LanguageModel.trainBigramLm(target, "doc_id", "text", 64, 256)
    val lmG = LanguageModel.trainBigramLm(general, "doc_id", "text", 64, 256)
    val scored = LanguageModel.dualTokenScores(docs, "doc_id", "text", lmT, lmG)
      .persist()
    try {
      val selA = LanguageModel.selectiveTokens(docs, "doc_id", "text",
          target, general, vocabCap = 64, bigramCap = 256, keepFrac = 0.5)
        .orderBy("doc_id").collect().toSeq
      val selB = LanguageModel.selectiveTokensScored(scored, keepFrac = 0.5)
        .orderBy("doc_id").collect().toSeq
      assert(selA.nonEmpty && selB == selA)
      val dorA = LanguageModel.doremiWeights(docs, "doc_id", "text", "source",
          proxyRef = general, refRef = target, vocabCap = 64, bigramCap = 256,
          eta = 1.0, smoothing = 0.01)
        .orderBy("source").collect().toSeq
      val dorB = LanguageModel.doremiWeightsScored(docs, "doc_id", "source",
          scored, eta = 1.0, smoothing = 0.01)
        .orderBy("source").collect().toSeq
      assert(dorA.nonEmpty && dorB == dorA)
    } finally { scored.unpersist(): Unit }
  }

  test("empty and null texts produce no score row; self-scored ref is most fluent") {
    import spark.implicits._
    val lm = LanguageModel.trainBigramLm(refDocs, "doc_id", "text",
      vocabCap = 3, bigramCap = 10)
    val out = LanguageModel.perplexity(
      Seq((20L, ""), (21L, null.asInstanceOf[String]), (22L, "a b a b c"))
        .toDF("doc_id", "text"), // 22L scores the training text itself
      "doc_id", "text", lm)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSet == Set(22L))
    // the training document must score better (higher avg logp) than an
    // all-backoff stranger
    val strangers = LanguageModel.perplexity(
      Seq((30L, "z z z z z")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head.getDouble(2)
    assert(rows.head.getDouble(2) > strangers)
  }

  test("Kneser-Ney: hand-computed stats, interpolated score, continuation beats raw frequency") {
    import spark.implicits._
    val lm = LanguageModel.trainKneserNey(refDocs, "doc_id", "text",
      vocabCap = 3, bigramCap = 10)
    // pair table (normalized streams a b a b c / a b <unk>):
    // (a,b)=3 (b,a)=1 (b,c)=1 (b,<unk>)=1 -> T=4 types
    assert(lm.bigramTypes == 4L && lm.vocabTypes == 3L)
    val ctx = lm.ctx.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ctx == Map("a" -> (3L, 1L), "b" -> (3L, 3L)))
    val cont = lm.cont.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cont == Map("b" -> 1L, "a" -> 1L, "c" -> 1L, LanguageModel.Unk -> 1L))
    // score "a b": pos1 a -> pc(a) = (1+1)/(4+3+1) = 0.25;
    // "b" after "a": max(3-0.75,0)/3 + (0.75*1/3)*pc(b)=0.25*0.25
    val pcA = 0.25
    val pB = 2.25 / 3.0 + 0.25 * 0.25
    val expected = BigDecimal(math.log(pcA)).setScale(9, BigDecimal.RoundingMode.HALF_UP) +
      BigDecimal(math.log(pB)).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val r = LanguageModel.perplexityKneserNey(
        Seq((10L, "a b")).toDF("doc_id", "text"), "doc_id", "text", lm)
      .collect().head
    assert(r.getAs[Long]("n_scored") == 2L)
    assert(r.getAs[Double]("avg_logp") ==
      (expected / 2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // the KN signal: after an UNSEEN context, a versatile continuation
    // outranks an equally-frequent single-context one. Corpus: "x c" four
    // times (c frequent, always after x) vs b appearing after varied
    // contexts — score "q c" vs "q b" (q is OOV -> unseen context).
    val kn2 = LanguageModel.trainKneserNey(
      Seq((1L, "x c x c x c x c"), (2L, "a b d b e b")).toDF("doc_id", "text"),
      "doc_id", "text", vocabCap = 8, bigramCap = 32)
    def ppl(t: String) = LanguageModel.perplexityKneserNey(
        Seq((9L, t)).toDF("doc_id", "text"), "doc_id", "text", kn2)
      .collect().head.getAs[Double]("ppl")
    // c continues only x (n1w=1); b continues a/d/e (n1w=3): same raw
    // counts region, but KN trusts b more in a fresh context
    assert(ppl("q b") < ppl("q c"),
      s"continuation-frequent token must score better: b=${ppl("q b")} c=${ppl("q c")}")
  }
}
