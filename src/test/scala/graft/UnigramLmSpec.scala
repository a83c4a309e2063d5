package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Bpe, UnigramLm}

/** Unigram-LM tokenizer: hand-computed EM iteration, Viterbi laws, the
  * lossless round trip, and the fertility bake-off against BPE. */
class UnigramLmSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("one hand-computed EM iteration over the two-path lattice") {
    // corpus: "ab" x2; vocab {a, b, ab}; uniform init p = 1/3 each.
    // "ab" segments as [a][b] (prob 1/9) or [ab] (1/3); Z = 4/9.
    // marginals: P([a][b]) = 1/4 -> E[a] = E[b] = 1/4, E[ab] = 3/4;
    // weighted by count 2: a=0.5, b=0.5, ab=1.5; total 2.5 ->
    // M-step p(a) = p(b) = 0.2, p(ab) = 0.6.
    val p = UnigramLm.emProbs(Seq(("ab", 2L)), Seq("a", "b", "ab"), iters = 1)
    assert(p("a") == 0.2 && p("b") == 0.2 && p("ab") == 0.6)
    // a second iteration sharpens toward the whole-word piece:
    // p2([a][b]) = 0.04 vs p2([ab]) = 0.6 -> Z = 0.64;
    // E[ab] = 2*(0.6/0.64) = 1.875, E[a] = E[b] = 2*(0.04/0.64) = 0.125;
    // total 2.125 -> p(ab) = 1.875/2.125, rounded to 9 decimals
    val p2 = UnigramLm.emProbs(Seq(("ab", 2L)), Seq("a", "b", "ab"), iters = 2)
    def r9(x: Double) =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(p2("ab") == r9(1.875 / 2.125))
    assert(p2("a") == r9(0.125 / 2.125))
    // pieces never participating keep the floor, not zero
    val p3 = UnigramLm.emProbs(Seq(("ab", 1L)), Seq("a", "b", "ab", "zz"),
      iters = 1)
    assert(p3("zz") == 1e-9)
  }

  test("viterbi picks the max-probability path with deterministic ties") {
    // p(ab) beats p(a)p(b) -> the whole-word piece wins
    val lp = Map("a" -> math.log(0.2), "b" -> math.log(0.2),
      "ab" -> math.log(0.6))
    assert(UnigramLm.viterbi("ab", lp, 8).toSeq == Seq("ab"))
    assert(UnigramLm.viterbi("abab", lp, 8).toSeq == Seq("ab", "ab"))
    // exact tie between [ab][c] and [a][bc]: fewer-pieces doesn't break it
    // (both 2), so the longest FINAL piece wins -> [a][bc]
    val tie = Map("a" -> math.log(0.5), "c" -> math.log(0.5),
      "ab" -> math.log(0.25), "bc" -> math.log(0.25))
    assert(UnigramLm.viterbi("abc", tie, 8).toSeq == Seq("a", "bc"))
    // unknown chars fall back to single-char unk pieces
    assert(UnigramLm.viterbi("aXb", lp, 8).toSeq == Seq("a", "X", "b"))
    assert(UnigramLm.viterbi("", lp, 8).isEmpty)
    // maxPieceLen bounds the window: a long piece in the map is unreachable
    val longp = Map("abcd" -> math.log(0.9), "a" -> math.log(0.1),
      "b" -> math.log(0.1), "c" -> math.log(0.1), "d" -> math.log(0.1))
    assert(UnigramLm.viterbi("abcd", longp, 2).toSeq ==
      Seq("a", "b", "c", "d"))
  }

  test("trainUnigram + applyUnigram round-trips documents losslessly") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
    val model = UnigramLm.trainUnigram(docs, "doc_id", "text",
      vocabSize = 256, iters = 2, seedCap = 1024)
    val enc = UnigramLm.applyUnigram(docs, "doc_id", "text", model)
    val bad = enc.select(explode(col("words")).as("w"))
      .filter(concat_ws("", col("w.subtokens")) =!= col("w.word"))
      .count()
    assert(bad == 0L, "every word must reconstruct from its pieces")
    // frequent multi-char pieces actually get used (the model segments,
    // not just char-splits)
    val multi = enc.select(explode(col("words")).as("w"))
      .select(explode(col("w.subtokens")).as("t"))
      .filter(length(col("t")) >= 2).count()
    assert(multi > 0L, "trained model must emit multi-char pieces")
  }

  test("fertility bake-off vs BPE runs on one report shape") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
    val model = UnigramLm.trainUnigram(docs, "doc_id", "text",
      vocabSize = 256, iters = 2, seedCap = 1024)
    // the bake-off: one report shape for both tokenizers, same corpus
    val ug = UnigramLm.fertilityByGroup(docs, "doc_id", "text", "source",
      model).collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("fertility")).toMap
    val merges = Bpe.trainBpe(docs, "doc_id", "text", numMerges = 300)
    val bp = Bpe.fertilityByGroup(docs, "doc_id", "text", "source", merges)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("fertility")).toMap
    assert(ug.keySet == bp.keySet && ug.nonEmpty)
    // both are real segmenters: fertility at least 1 (a word is >= 1
    // piece) and strictly below the char-split ceiling
    val avgWordLen = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .agg(avg(length(col("w")))).head.getDouble(0)
    (ug.values ++ bp.values).foreach { f =>
      assert(f >= 1.0 && f < avgWordLen, s"fertility $f out of bounds")
    }
  }

  test("maxMatch greedy walk and min-piece DP: hand examples, greedy trap") {
    // greedy longest-match kernel by hand
    assert(UnigramLm.maxMatch("abcd", Set("abc", "ab", "d", "a"), 8).toSeq ==
      Seq("abc", "d"))
    assert(UnigramLm.maxMatch("axb", Set("a", "b"), 8).toSeq ==
      Seq("a", "x", "b")) // unk falls back one char, walk continues
    assert(UnigramLm.maxMatch("", Set("a"), 8).toSeq == Seq())
    // the classic greedy trap: longest-first eats "aaa" and strands an unk
    // "a"; the min-piece DP (uniform-model Viterbi) pays two "aa" pieces
    // and keeps the unk mass at zero — unk-count dominates piece-count
    import spark.implicits._
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val vocab = Seq("aaa", "aa").toDF("piece")
    def pieces(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(explode(col("words")).as("w"))
        .select(explode(col("w.subtokens")).as("t"))
        .collect().map(_.getString(0)).toSeq
    assert(pieces(UnigramLm.applyMaxMatch(docs, "doc_id", "text", vocab)) ==
      Seq("aaa", "a"))
    assert(pieces(UnigramLm.applyMinPieces(docs, "doc_id", "text", vocab)) ==
      Seq("aa", "aa"))
  }

  test("coverage report: hand-computed OOV chars and whole-word hits per source") {
    import spark.implicits._
    // vocab trained on source A only; B brings an unseen char 'z' and
    // unseen words
    val train = Seq((1L, "aba cab"), (2L, "aba bac")).toDF("doc_id", "text")
    val vocab = UnigramLm.selectVocab(train, "doc_id", "text",
      vocabSize = 16, maxPieceLen = 4, seedCap = 64)
    // inventory = {a, b, c}; whole-word pieces include "aba","cab","bac"
    val docs = Seq(
      (10L, "A", "aba cab"),     // 2 words, both verbatim hits, 0 oov
      (11L, "B", "zab aba"),     // "zab": 1 oov char (z), not a vocab word
      (12L, "B", "cc zz")        // "cc" covered chars but no such piece;
    ).toDF("doc_id", "source", "text") //  "zz": 2 oov chars
    val r = UnigramLm.coverageBySource(docs, "doc_id", "text", "source",
        vocab)
      .orderBy("source").collect()
      .map(x => (x.getAs[String]("source"), x.getAs[Long]("n_words"),
        x.getAs[Long]("n_whole_word"), x.getAs[Long]("n_chars"),
        x.getAs[Long]("n_oov_chars"))).toSeq
    assert(r == Seq(("A", 2L, 2L, 6L, 0L), ("B", 4L, 1L, 10L, 3L)))
  }
}
