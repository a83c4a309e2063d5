package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType, StructField, StructType}

import graft.core.Parallelism
import graft.functions.TextFunctions

/** Unigram language-model tokenizer (Kudo 2018, the SentencePiece `unigram`
  * algorithm) — the second learned subword segmenter beside [[Bpe]]: instead
  * of greedy merge rules, a PROBABILITY per piece, trained by EM over the
  * segmentation lattice, applied by Viterbi (the max-probability
  * segmentation). The pair ships as a family because production pipelines
  * A/B tokenizers by fertility on the target corpus before committing a
  * vocabulary ([[fertilityByGroup]] / [[Bpe.fertilityByGroup]] share one
  * report definition).
  *
  * Scale design mirrors [[Bpe]]: corpus-scale work is ONE word-count
  * aggregation plus ONE substring-count aggregation (both map-side
  * combined); EM then runs on the collected cap-bounded (word, count) table
  * against the vocab-bounded piece set — the driver-bounded trained-model
  * shape (every real unigram trainer iterates over exactly these
  * statistics). Application is the [[Bpe.applyBpe]] scan kernel with the
  * piece log-probs broadcast and a per-partition word memo.
  *
  * Determinism contract:
  *  - SEED CANDIDATES and FINAL VOCAB MEMBERSHIP are pure counting —
  *    substring occurrence counts weighted by word frequency, score =
  *    count·len (the SentencePiece seed heuristic), ties broken (score
  *    desc, piece asc) — so both stages are oracle-hashable; EM trains
  *    PROBABILITIES for segmentation but never changes membership (a
  *    documented simplification of SentencePiece's prune loop: membership
  *    stays count-determined, the lattice model still reweights every
  *    Viterbi decision).
  *  - EM itself is a sequential driver fold over the bounded table (spec'd
  *    against a hand-computed iteration); stored probabilities round to 9
  *    decimals.
  *  - Viterbi ties break toward FEWER pieces, then the longest first piece
  *    — a total order, so segmentation is reproducible anywhere.
  */
object UnigramLm {

  /** Trained model schema: piece, 9-decimal probability, its natural log
    * (the Viterbi weight). */
  val ModelSchema: StructType = StructType(Seq(
    StructField("piece", StringType, nullable = false),
    StructField("p", DoubleType, nullable = false),
    StructField("logp", DoubleType, nullable = false)))

  /** Words longer than this are skipped at SEEDING time (garbage tokens —
    * URLs, base64 runs — would flood the substring table; they still
    * segment at apply time through the char/unk fallback). Bounds the
    * substring blowup per word at 64·maxPieceLen. */
  val MaxSeedWordLen = 64

  /** Candidate piece statistics: every substring (length 1..`maxPieceLen`)
    * of every capped frequent word, counted per OCCURRENCE and weighted by
    * word frequency; score = cnt·len (frequent long pieces seed best).
    * Returns the top `seedCap` by (score desc, piece asc) — pure counting,
    * oracle-hashable. One distributed word count + one substring-explode
    * aggregation; the explode is a scan-stage Column tree bounded by
    * `MaxSeedWordLen · maxPieceLen` rows per word. */
  def seedCandidates(docs: DataFrame, idCol: String, textCol: String,
                     maxPieceLen: Int = 8, wordCap: Int = 1 << 17,
                     seedCap: Int = 4096): DataFrame = {
    val words = Bpe.wordCounts(docs, idCol, textCol, wordCap)
      .filter(length(col("word")) <= MaxSeedWordLen)
    words
      .select(col("c"), explode(flatten(transform(
        sequence(lit(1), length(col("word"))),
        i => transform(
          sequence(lit(1), least(lit(maxPieceLen),
            length(col("word")) - i + lit(1))),
          l => col("word").substr(i, l))))).as("piece"))
      .groupBy("piece").agg(sum("c").as("cnt"))
      .select(col("piece"), col("cnt"),
        (col("cnt") * length(col("piece"))).cast("long").as("score"))
      .orderBy(desc("score"), asc("piece")).limit(seedCap)
  }

  /** FINAL VOCAB MEMBERSHIP — count-determined, oracle-hashable: the full
    * single-char inventory of the seedable words (coverage: every such
    * word must segment without fallback) plus the top
    * (`vocabSize` − nChars) multi-char candidates by (score desc, piece
    * asc). EM never adds or removes membership, only re-weights. */
  def selectVocab(docs: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int, maxPieceLen: Int = 8,
                  wordCap: Int = 1 << 17, seedCap: Int = 4096): DataFrame = {
    val seeds = seedCandidates(docs, idCol, textCol, maxPieceLen, wordCap,
      seedCap)
    // chars from the FULL word table, not the capped seed list — a rare
    // char's substring score can fall out of the cap, but coverage needs it
    val chars = Bpe.wordCounts(docs, idCol, textCol, wordCap)
      .filter(length(col("word")) <= MaxSeedWordLen)
      .select(col("c"), explode(split(col("word"), "")).as("piece"))
      .filter(length(col("piece")) === 1)
      .groupBy("piece").agg(sum("c").as("cnt"))
      .select(col("piece"), col("cnt"),
        col("cnt").cast("long").as("score"))
    val nChars = chars.count()
    val multi = seeds.filter(length(col("piece")) >= 2)
      .orderBy(desc("score"), asc("piece"))
      .limit(math.max(0, vocabSize - nChars.toInt))
    chars.unionByName(multi)
      .select(col("piece"), length(col("piece")).cast("int").as("piece_len"),
        col("cnt").cast("long").as("cnt"), col("score"))
  }

  /** EM over the segmentation lattice of a bounded (word, count) table —
    * the driver-side training fold (spec'd against a hand-computed
    * iteration). Each round: E-step forward-backward marginals per distinct
    * word (weighted by its count), M-step normalize to probabilities,
    * rounded to 9 decimals. Pieces that attract no expected mass keep a
    * floor probability (never dropped — membership is [[selectVocab]]'s
    * job). */
  private[graft] def emProbs(words: Seq[(String, Long)], vocab: Seq[String],
                             iters: Int): Map[String, Double] = {
    require(iters >= 1, "iters must be >= 1")
    val pieces = vocab.toSet
    // every lattice loop is bounded by the LONGEST PIECE ACTUALLY IN THE
    // VOCAB (derived, not passed — so a hand-built spec vocab with long
    // pieces stays correct): a substring longer than that can never be in
    // `pieces`, so probing it is pure waste — O(n·maxLen) substring
    // constructions per word instead of O(n²)
    val maxLen =
      if (vocab.isEmpty) 1 else math.min(vocab.iterator.map(_.length).max,
        MaxSeedWordLen)
    def round9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    var p: Map[String, Double] =
      vocab.map(_ -> round9(1.0 / vocab.size)).toMap
    for (_ <- 1 to iters) {
      val exp = scala.collection.mutable.HashMap.empty[String, Double]
      words.foreach { case (w, wc) =>
        val n = w.length
        // alpha(j): total prob of segmentations of w[0, j)
        val alpha = new Array[Double](n + 1); alpha(0) = 1.0
        for (j <- 1 to n; i <- math.max(0, j - maxLen) until j) {
          val piece = w.substring(i, j)
          if (pieces.contains(piece))
            alpha(j) += alpha(i) * p(piece)
        }
        val z = alpha(n)
        if (z > 0.0) {
          val beta = new Array[Double](n + 1); beta(n) = 1.0
          for (i <- n - 1 to 0 by -1; j <- i + 1 to math.min(n, i + maxLen)) {
            val piece = w.substring(i, j)
            if (pieces.contains(piece))
              beta(i) += p(piece) * beta(j)
          }
          for (i <- 0 until n; j <- i + 1 to math.min(n, i + maxLen)) {
            val piece = w.substring(i, j)
            if (pieces.contains(piece)) {
              val m = alpha(i) * p(piece) * beta(j) / z
              if (m > 0.0)
                exp.update(piece, exp.getOrElse(piece, 0.0) + wc * m)
            }
          }
        }
      }
      val tot = exp.valuesIterator.sum
      if (tot > 0.0)
        p = vocab.map(v =>
          v -> math.max(round9(exp.getOrElse(v, 0.0) / tot), 1e-9)).toMap
    }
    p
  }

  /** Train a unigram-LM tokenizer: count-determined vocab membership
    * ([[selectVocab]]), then `iters` EM rounds over the collected
    * cap-bounded word table. Returns the model as a DataFrame
    * ([[ModelSchema]], one row per piece). */
  def trainUnigram(docs: DataFrame, idCol: String, textCol: String,
                   vocabSize: Int, iters: Int = 2, maxPieceLen: Int = 8,
                   wordCap: Int = 1 << 17, seedCap: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val vocab = selectVocab(docs, idCol, textCol, vocabSize, maxPieceLen,
      wordCap, seedCap).select("piece").collect().map(_.getString(0)).toSeq
    val words = Bpe.wordCounts(docs, idCol, textCol, wordCap)
      .filter(length(col("word")) <= MaxSeedWordLen)
      .collect().iterator.map(r => (r.getString(0), r.getLong(1))).toSeq
    val probs = emProbs(words, vocab, iters)
    val rows = vocab.sorted.map { v =>
      Row(v, probs(v), math.log(probs(v)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ModelSchema)
  }

  /** Unknown-piece log-prob for Viterbi: below every trained piece, so a
    * fallback char is taken only when the vocab has no alternative (chars
    * outside the training inventory — the byte-fallback convention). */
  private def unkLogp(logps: Map[String, Double]): Double =
    (if (logps.isEmpty) 0.0 else logps.valuesIterator.min) - 10.0

  /** Viterbi segmentation of one word: maximize the summed piece log-prob;
    * ties toward FEWER pieces, then the LONGEST final piece (smaller back
    * pointer) at each boundary — a total order, applied at every DP cell,
    * so the full segmentation is deterministic. Unknown single chars
    * segment via [[unkLogp]]. */
  private[graft] def viterbi(word: String, logps: Map[String, Double],
                             maxPieceLen: Int): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val unk = unkLogp(logps)
    // best(j) = (score, pieces-used, start-of-last-piece) for w[0, j)
    val score = Array.fill(n + 1)(Double.NegativeInfinity)
    val nPieces = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    score(0) = 0.0
    for (j <- 1 to n) {
      for (i <- math.max(0, j - math.max(maxPieceLen, 1)) until j) {
        val piece = word.substring(i, j)
        val lp = logps.get(piece) match {
          case Some(v) => v
          case None => if (j - i == 1) unk else Double.NegativeInfinity
        }
        if (lp > Double.NegativeInfinity && score(i) > Double.NegativeInfinity) {
          val cand = score(i) + lp
          val better = cand > score(j) ||
            (cand == score(j) && (nPieces(i) + 1 < nPieces(j) ||
              (nPieces(i) + 1 == nPieces(j) && i < back(j))))
          if (better) { score(j) = cand; nPieces(j) = nPieces(i) + 1; back(j) = i }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = n
    while (j > 0) { out += word.substring(back(j), j); j = back(j) }
    out.reverseIterator.toArray
  }

  /** Apply a trained model: (doc_id, words) in the [[Bpe.applyBpe]] output
    * shape (so the fertility report and every downstream packing consumer
    * is tokenizer-agnostic). Model broadcast, per-partition word memo,
    * scan-stage parallel, no shuffle. */
  def applyUnigram(docs: DataFrame, idCol: String, textCol: String,
                   model: DataFrame, maxPieceLen: Int = 8,
                   memoCap: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    val logps = model.select("piece", "logp").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val bc = spark.sparkContext.broadcast(logps)
    val in = Parallelism.fanOut(
        docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
    val outSchema = StructType(Seq(
      StructField("doc_id", in.schema("doc_id").dataType, nullable = true),
      StructField("words", ArrayType(StructType(Seq(
        StructField("word", StringType, nullable = true),
        StructField("subtokens", ArrayType(StringType, containsNull = false),
          nullable = false))), containsNull = false), nullable = true)))
    in.mapPartitions { it =>
      val memo = new scala.collection.mutable.HashMap[String, Array[String]]
      val lp = bc.value
      it.map { row =>
        val toks = row.getSeq[String](1)
        val words =
          if (toks == null) null
          else toks.map { w =>
            if (memo.size > memoCap) memo.clear()
            val subs = memo.getOrElseUpdate(w, viterbi(w, lp, maxPieceLen))
            Row(w, subs.toSeq)
          }
        Row(row.get(0), words)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Tokenizer-fit report under the unigram model — ONE definition with
    * [[Bpe.fertilityByGroup]] ([[Bpe.fertilityFromEncoded]]), so the
    * BPE-vs-unigram bake-off compares like with like. */
  def fertilityByGroup(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, model: DataFrame,
                       maxPieceLen: Int = 8): DataFrame =
    Bpe.fertilityFromEncoded(
      applyUnigram(docs, idCol, textCol, model, maxPieceLen),
      docs, idCol, groupCol)

  /** VOCAB COVERAGE report, per source — the static "does this vocabulary
    * fit this corpus slice" numbers a team reads BEFORE committing a
    * tokenizer (fertility needs a trained model and a full encode pass;
    * coverage is pure counting against the vocab table, so it also
    * hash-gates):
    *  - `oov_char_rate`: fraction of character occurrences outside the
    *    vocab's single-char inventory — exactly the characters Viterbi
    *    must emit as unk fallback pieces;
    *  - `whole_word_rate`: fraction of word occurrences present VERBATIM
    *    as a vocab piece — the mass that can segment to one piece.
    * A slice with high char-OOV (new language, emoji-heavy source) or low
    * whole-word coverage (domain shift) flags for a vocab refresh.
    *
    * Scale shape: the char-inventory membership test is a scan-stage
    * `translate` against the collected (vocab-bounded) inventory string —
    * no per-char explode; the whole-word test is one broadcast left join;
    * one partial-agg groupBy(source). */
  /** MIN-PIECE segmentation over a vocab — SentencePiece's probability-free
    * "shortest segmentation" regime, run through the SAME Viterbi kernel
    * with a uniform model (logp 0 per piece): unks cost −10 each, so the
    * lattice minimizes (unk count, piece count) lexicographically. Being
    * COUNT-DETERMINED (vocab membership is [[selectVocab]]'s hash-gated
    * stage; no EM weights), its piece counts are oracle-mirrorable — the
    * tokenizer-bakeoff gate's DP twin — unlike the EM-weighted
    * [[applyUnigram]], whose float lattice is spec-pinned instead. */
  def applyMinPieces(docs: DataFrame, idCol: String, textCol: String,
                     vocab: DataFrame, maxPieceLen: Int = 8): DataFrame =
    applyUnigram(docs, idCol, textCol,
      vocab.select(col("piece"), lit(1.0).as("prob"), lit(0.0).as("logp")),
      maxPieceLen)

  /** Greedy longest-prefix-match (MaxMatch) segmentation — WordPiece's
    * inference rule: at each position take the LONGEST vocab piece
    * (≤ maxPieceLen), else one unk char. Deterministic, count-determined,
    * single pass per word — the cheap-but-suboptimal baseline the bakeoff
    * gate prices against the min-piece DP (greedy's extra pieces per word
    * are exactly what the DP saves). Output: the [[applyUnigram]] shape. */
  def applyMaxMatch(docs: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame, maxPieceLen: Int = 8,
                    memoCap: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    val pieces = vocab.select("piece").collect().map(_.getString(0)).toSet
    val bc = spark.sparkContext.broadcast(pieces)
    val in = Parallelism.fanOut(
        docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), TextFunctions.tokens(col(textCol)).as("toks"))
    val outSchema = StructType(Seq(
      StructField("doc_id", in.schema("doc_id").dataType, nullable = true),
      StructField("words", ArrayType(StructType(Seq(
        StructField("word", StringType, nullable = true),
        StructField("subtokens", ArrayType(StringType, containsNull = false),
          nullable = false))), containsNull = false), nullable = true)))
    in.mapPartitions { it =>
      val memo = new scala.collection.mutable.HashMap[String, Array[String]]
      val vs = bc.value
      it.map { row =>
        val toks = row.getSeq[String](1)
        val words =
          if (toks == null) null
          else toks.map { w =>
            if (memo.size > memoCap) memo.clear()
            val subs = memo.getOrElseUpdate(w, maxMatch(w, vs, maxPieceLen))
            Row(w, subs.toSeq)
          }
        Row(row.get(0), words)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** One word's greedy longest-match pieces (spec'd by hand example). */
  private[graft] def maxMatch(word: String, vocab: Set[String],
                              maxPieceLen: Int): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 0
    val n = word.length
    while (pos < n) {
      var l = math.min(math.max(maxPieceLen, 1), n - pos)
      var found = 0
      while (l >= 1 && found == 0) {
        if (vocab.contains(word.substring(pos, pos + l))) found = l
        l -= 1
      }
      val take = if (found > 0) found else 1
      out += word.substring(pos, pos + take)
      pos += take
    }
    out.toArray
  }

  def coverageBySource(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, vocab: DataFrame): DataFrame = {
    // vocab-bounded collect; sorted so the inventory string is canonical
    val inv = vocab.filter(length(col("piece")) === 1)
      .select("piece").collect().map(_.getString(0)).sorted.mkString
    val pieces = vocab.select(col("piece").as("__p"))
    val words = Parallelism.fanOut(docs.select(
        col(sourceCol).as("source"),
        TextFunctions.tokens(col(textCol)).as("toks")))
      .select(col("source"), explode(col("toks")).as("word"))
      .join(broadcast(pieces), col("word") === col("__p"), "left")
      .select(col("source"),
        length(col("word")).cast("long").as("n_chars"),
        length(translate(col("word"), inv, "")).cast("long").as("n_oov"),
        when(col("__p").isNotNull, 1L).otherwise(0L).as("hit"))
    words.groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("hit").as("n_whole_word"),
        sum("n_chars").as("n_chars"),
        sum("n_oov").as("n_oov_chars"))
      .withColumn("whole_word_rate",
        round(col("n_whole_word").cast("double") / col("n_words"), 6))
      .withColumn("oov_char_rate",
        round(col("n_oov_chars").cast("double") / col("n_chars"), 6))
  }
}
