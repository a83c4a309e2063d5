package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

import graft.core.Parallelism
import graft.functions.TextFunctions

/** Byte-pair-encoding tokenizer training and application (Sennrich et al.
  * 2016) — the subword vocabulary step of a training-data pipeline, replacing
  * the [[TextFunctions.bpeTokenCount]] proxy with a real learned segmenter.
  *
  * Scale design: the only corpus-scale work is ONE word-count aggregation
  * (map-side combined groupBy). Merge training then runs on the capped
  * (word, count) table — `wordCap` rows of bounded metadata, the same
  * driver-bounded shape as a trained k-means centroid set: every real-world
  * BPE trainer (subword-nmt, SentencePiece, tokenizers) iterates argmax over
  * exactly this table, because pair statistics are fully determined by word
  * counts. Application is an embarrassingly parallel per-partition encoder
  * with the merge ranks broadcast and a per-partition word memo (words
  * repeat; each distinct word is encoded once per partition) — the justified
  * `mapPartitions` shape shared with the stateful packing scans, since a
  * rank-ordered merge loop is imperative by nature and a real deployment
  * swaps in a trie encoder here.
  *
  * Determinism: pair argmax ties break by (count desc, left asc, right asc)
  * — a total order, so the merge table is reproducible for any partitioning;
  * training initializes words as character sequences WITHOUT an end-of-word
  * marker (merges never cross word boundaries; documents reconstruct as
  * `join(words, ' ')`).
  */
object Bpe {

  /** Learned merge table schema: rank (0-based application order), the two
    * merged symbols, and the weighted pair count at merge time. */
  val MergeSchema: StructType = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("left", StringType, nullable = false),
    StructField("right", StringType, nullable = false),
    StructField("pair_count", LongType, nullable = false)))

  /** Distributed (word, count) table capped to the `wordCap` most frequent
    * words (ties by word asc — deterministic TakeOrdered). */
  def wordCounts(docs: DataFrame, idCol: String, textCol: String,
                 wordCap: Int): DataFrame =
    // fanOut raw text, tokenize post-exchange (single-task scan otherwise)
    Parallelism.fanOut(docs.select(col(textCol)))
      .select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("word")).limit(wordCap)

  /** BPE merge loop over a (word, count) table with INCREMENTAL pair
    * maintenance — the subword-nmt/SentencePiece trainer shape. Pure
    * function of the table — exposed for testing; [[trainBpe]] feeds it the
    * distributed counts. Stops early when no adjacent pair occurs at least
    * twice.
    *
    * Complexity: a naive trainer rescans every word per merge —
    * O(numMerges × Σ|word|), hours of driver time at a real tokenizer's
    * 32k–100k merges. Here each merge touches ONLY the words containing the
    * merged pair (an inverted index pair → word-ids), subtracting the old
    * word's pair counts and adding the re-segmented word's — so total work
    * is O(Σ affected-word lengths), which shrinks geometrically as pair
    * frequencies follow the zipfian tail. The argmax is a lazy max-heap:
    * every count change pushes a fresh (count, pair) entry; pops are
    * validated against the live count and stale entries discarded. Ordering
    * is (count desc, left asc, right asc) — the same total order as the
    * recompute reference, so merge tables are bit-identical
    * (BpeSpec pins incremental ≡ recompute). */
  private[graft] def mergesFromCounts(counts: Seq[(String, Long)],
                                          numMerges: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] =
      counts.iterator.map(_._1.map(_.toString).toArray).toArray
    val wcount: Array[Long] = counts.iterator.map(_._2).toArray
    val stats = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    // Max-heap on (count, then lexicographically SMALLEST pair wins ties):
    // reverse the string legs so the priority queue's max element is the
    // recompute loop's minBy((-n, a, b)) choice.
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long, Ordering.String.reverse, Ordering.String.reverse)
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]
    def bump(k: (String, String), delta: Long): Unit = {
      val next = stats.getOrElse(k, 0L) + delta
      if (next <= 0L) { stats.remove(k); () }
      else { stats.update(k, next); heap.enqueue((next, k._1, k._2)) }
    }
    def eachPair(syms: Array[String])(f: ((String, String)) => Unit): Unit = {
      var i = 0
      while (i < syms.length - 1) { f((syms(i), syms(i + 1))); i += 1 }
    }
    words.indices.foreach { wi =>
      eachPair(words(wi)) { k =>
        bump(k, wcount(wi))
        where.getOrElseUpdate(k, mutable.HashSet.empty) += wi
      }
    }
    val out = Vector.newBuilder[(Long, String, String, Long)]
    var rank = 0L
    var done = false
    while (rank < numMerges && !done) {
      // Pop until a live entry surfaces: an entry is live iff its recorded
      // count equals the pair's current count (every change re-enqueued a
      // fresh entry, so the true max is always present; stale shadows above
      // it validate false and drop).
      var best: (String, String) = null
      var bestCount = 0L
      while (best == null && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (stats.getOrElse((l, r), 0L) == c) { best = (l, r); bestCount = c }
      }
      if (best == null || bestCount < 2L) done = true
      else {
        val (l, r) = best
        out += ((rank, l, r, bestCount))
        val affected = where.getOrElse(best, mutable.HashSet.empty).toArray
        affected.foreach { wi =>
          val old = words(wi)
          eachPair(old) { k => bump(k, -wcount(wi)); where.get(k).foreach(_ -= wi) }
          val merged = mergeOnce(old, l, r)
          words(wi) = merged
          eachPair(merged) { k =>
            bump(k, wcount(wi))
            where.getOrElseUpdate(k, mutable.HashSet.empty) += wi
          }
        }
        stats.remove(best)
        where.remove(best)
        rank += 1
      }
    }
    out.result()
  }

  /** Reference recompute trainer — rebuilds the full pair-count table every
    * merge. Quadratic in merges; kept ONLY as the equivalence oracle for
    * the incremental trainer (BpeSpec asserts identical merge tables). */
  private[graft] def mergesFromCountsRecompute(counts: Seq[(String, Long)],
                                          numMerges: Int): Seq[(Long, String, String, Long)] = {
    var vocab: Vector[(Array[String], Long)] =
      counts.iterator.map { case (w, c) => (w.map(_.toString).toArray, c) }.toVector
    val out = Vector.newBuilder[(Long, String, String, Long)]
    var rank = 0L
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      val candidates = pairCounts.filter(_._2 >= 2L)
      if (candidates.isEmpty) done = true
      else {
        val ((l, r), c) = candidates.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((rank, l, r, c))
        vocab = vocab.map { case (syms, cnt) => (mergeOnce(syms, l, r), cnt) }
        rank += 1
      }
    }
    out.result()
  }

  /** One merge pass: replace adjacent (l, r) with l+r, leftmost-first,
    * non-overlapping — the BPE application rule. */
  private def mergeOnce(syms: Array[String], l: String, r: String): Array[String] = {
    val b = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }

  /** Train `numMerges` BPE merges on a corpus: one distributed word count,
    * then the merge loop on the collected cap-bounded table. Returns the
    * merge table as a DataFrame ([[MergeSchema]]). */
  def trainBpe(docs: DataFrame, idCol: String, textCol: String,
               numMerges: Int, wordCap: Int = 1 << 17): DataFrame = {
    val spark = docs.sparkSession
    val counts = wordCounts(docs, idCol, textCol, wordCap)
      .collect().iterator.map(r => (r.getString(0), r.getLong(1))).toSeq
    val rows = mergesFromCounts(counts, numMerges).map {
      case (rank, l, r, c) => Row(rank, l, r, c)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), MergeSchema)
  }

  /** Encode a word with a rank-indexed merge map: repeatedly apply the
    * LOWEST-RANK merge present among adjacent pairs (the standard BPE
    * encoding rule — application order is merge priority, not left-to-right
    * discovery). */
  private[graft] def encodeWord(word: String,
                                    ranks: Map[(String, String), Int]): Array[String] = {
    var syms = word.map(_.toString).toArray
    var go = syms.length > 1
    while (go) {
      var best = Int.MaxValue
      var at = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; at = i }
        i += 1
      }
      if (at < 0) go = false
      else {
        syms = mergeOnce(syms, syms(at), syms(at + 1))
        go = syms.length > 1
      }
    }
    syms
  }

  /** Apply a trained merge table: (doc_id, words) where `words` is the
    * in-order array of (word, subtokens). The merge map is broadcast; each
    * partition memoizes distinct-word encodings (bounded at `memoCap`
    * entries — cleared, not LRU, to keep the hot loop allocation-free).
    * Scan-stage parallel; no shuffle. */
  def applyBpe(docs: DataFrame, idCol: String, textCol: String,
               merges: DataFrame, memoCap: Int = 1 << 16): DataFrame = {
    val spark = docs.sparkSession
    val ranks = merges.select("rank", "left", "right").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getLong(0).toInt).toMap
    val bc = spark.sparkContext.broadcast(ranks)
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
      val r = bc.value
      it.map { row =>
        val toks = row.getSeq[String](1)
        val words =
          if (toks == null) null
          else toks.map { w =>
            if (memo.size > memoCap) memo.clear()
            val subs = memo.getOrElseUpdate(w, encodeWord(w, r))
            Row(w, subs.toSeq)
          }
        Row(row.get(0), words)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** TOKENIZER-FIT report: per group, word count, subtoken count, FERTILITY
    * (subtokens per word — the standard "does this tokenizer fit this
    * corpus" number; a vocabulary trained on English prose shows inflated
    * fertility on code or another language), and the single-character
    * subtoken fraction (the byte-fallback proxy: chars the merge table
    * never lifts into larger units). Ratios divide exact longs, so they are
    * bit-reproducible without decimal machinery.
    *
    * Scale shape: the encode pass is [[applyBpe]]'s scan-stage kernel; per
    * doc the counts collapse in the same scan via `aggregate` folds, and
    * the group report is one partial-agg groupBy over (groups)-bounded
    * output. Fertility is spec-pinned (the learned segmentation is not
    * SQL-expressible — same contract as the roundtrip gate). */
  def fertilityByGroup(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, merges: DataFrame): DataFrame =
    fertilityFromEncoded(applyBpe(docs, idCol, textCol, merges),
      docs, idCol, groupCol)

  /** [[fertilityByGroup]] over an ALREADY-ENCODED frame in the
    * (doc_id, words: array<struct<word, subtokens>>) shape — shared by the
    * BPE and [[UnigramLm]] tokenizers so their fit reports (and the
    * bake-off comparing them) are computed by one definition. */
  private[operators] def fertilityFromEncoded(encoded: DataFrame,
      docs: DataFrame, idCol: String, groupCol: String): DataFrame = {
    val enc = encoded
      .join(docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp")),
        Seq("doc_id"))
      .select(col("grp"),
        coalesce(size(col("words")), lit(0)).cast("long").as("n_words"),
        coalesce(aggregate(col("words"), lit(0L),
          (acc, w) => acc + size(w.getField("subtokens"))), lit(0L))
          .as("n_subtokens"),
        coalesce(aggregate(col("words"), lit(0L),
          (acc, w) => acc + size(filter(w.getField("subtokens"),
            t => length(t) === 1))), lit(0L)).as("n_single"))
    enc.groupBy("grp")
      .agg(sum("n_words").as("n_words"),
        sum("n_subtokens").as("n_subtokens"),
        sum("n_single").as("n_single_char"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          col("n_subtokens").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(null).cast("double")))
      .withColumn("single_char_frac",
        when(col("n_subtokens") > 0,
          col("n_single_char").cast("double") / col("n_subtokens").cast("double"))
          .otherwise(lit(null).cast("double")))
      .withColumnRenamed("grp", groupCol)
  }
}
