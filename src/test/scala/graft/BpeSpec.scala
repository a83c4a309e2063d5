package graft

import graft.operators.Bpe

/** BPE training against the classic hand example and round-trip laws. */
class BpeSpec extends SparkSpec {

  // Sennrich et al.'s worked vocabulary (no end-of-word marker):
  // low x5, lower x2, newest x6, widest x3
  private val counts = Seq(
    ("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))

  test("merge loop reproduces the hand-computed order with total tie-break") {
    val merges = Bpe.mergesFromCounts(counts, numMerges = 5)
    // es/st tie at 9 -> left-asc picks (e,s); lo/ow tie at 7 -> (l,o);
    // the we:8 pair DROPS to 2 after (es,t) rewrites newest/widest
    assert(merges == Seq(
      (0L, "e", "s", 9L), (1L, "es", "t", 9L),
      (2L, "l", "o", 7L), (3L, "lo", "w", 7L), (4L, "e", "w", 6L)))
  }

  test("incremental trainer matches the recompute reference exactly") {
    // Hand example, exhaustively (more merges than exist -> early stop too)
    assert(Bpe.mergesFromCounts(counts, 50) ==
      Bpe.mergesFromCountsRecompute(counts, 50))
    // Pseudo-random corpora: seeded LCG so the case is reproducible.
    var seed = 0x2545F4914F6CDD1DL
    def nextInt(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound).toInt + bound) % bound
    }
    (1 to 5).foreach { _ =>
      val alphabet = "abcdef"
      val words = (1 to 60).map { _ =>
        val len = 1 + nextInt(8)
        (1 to len).map(_ => alphabet(nextInt(alphabet.length))).mkString
      }.distinct
      val rand = words.map(w => (w, 1L + nextInt(9).toLong))
      val inc = Bpe.mergesFromCounts(rand, 40)
      val ref = Bpe.mergesFromCountsRecompute(rand, 40)
      assert(inc == ref, s"diverged on corpus $rand")
    }
  }

  test("incremental trainer handles repeated-symbol runs like the reference") {
    // aaaa-style words stress overlapping-pair bookkeeping: mergeOnce is
    // leftmost-nonoverlapping, so (a,a) in "aaaa" counts 3 adjacencies but
    // merges to [aa, aa] — the delta update must agree with a full rescan.
    val runs = Seq(("aaaa", 5L), ("aaa", 4L), ("aa", 3L), ("abab", 2L),
      ("aabb", 2L), ("bbbb", 7L))
    assert(Bpe.mergesFromCounts(runs, 20) ==
      Bpe.mergesFromCountsRecompute(runs, 20))
  }

  test("incremental trainer sustains 1000+ merges") {
    // A corpus rich enough to yield >1000 distinct merges: numbered words
    // with shared prefixes. The recompute reference would do 1000 full
    // vocab rescans here; the incremental trainer touches only affected
    // words per merge. Equivalence is spot-checked on the first 200 ranks
    // (the recompute cost at 1000 is exactly what this trainer removes).
    val big = (0 until 3000).map(i => (s"w${i}x${i % 37}y", (i % 13 + 2).toLong))
    val t0 = System.nanoTime()
    val inc = Bpe.mergesFromCounts(big, 1200)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(inc.size >= 1000, s"only ${inc.size} merges found")
    assert(inc.map(_._1) == inc.indices.map(_.toLong))
    assert(secs < 30.0, f"incremental trainer took $secs%.1f s")
    val ref = Bpe.mergesFromCountsRecompute(big, 200)
    assert(inc.take(200) == ref)
  }

  test("encodeWord applies merges by rank priority") {
    val ranks = Bpe.mergesFromCounts(counts, 5)
      .map { case (r, l, rr, _) => (l, rr) -> r.toInt }.toMap
    assert(Bpe.encodeWord("lowest", ranks).toSeq == Seq("low", "est"))
    assert(Bpe.encodeWord("newest", ranks).toSeq == Seq("n", "ew", "est"))
    assert(Bpe.encodeWord("x", ranks).toSeq == Seq("x"))
    assert(Bpe.encodeWord("", ranks).toSeq == Seq())
  }

  test("trainBpe + applyBpe round-trips documents losslessly") {
    import spark.implicits._
    val docs = Seq(
      (1L, ("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3).trim),
      (2L, "the lowest newest low"),
      (3L, null.asInstanceOf[String]),
      (4L, "")
    ).toDF("doc_id", "text")
    val merges = Bpe.trainBpe(docs, "doc_id", "text", numMerges = 5)
    val mseq = merges.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // doc 2 bumps low -> 6, newest -> 7; es/st still tie at the top (11)
    assert(mseq.head == ((0L, "e", "s", 11L)), s"got $mseq")
    assert(mseq.size == 5)
    val enc = Bpe.applyBpe(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[org.apache.spark.sql.Row](1))).toMap
    // every word of every doc reconstructs from its subtokens (lossless)
    enc.values.flatten.flatten.foreach { w =>
      assert(w.getSeq[String](1).mkString == w.getString(0))
    }
    assert(enc(2L).get.map(_.getString(0)) == Seq("the", "lowest", "newest", "low"))
    // "lowest" (unseen in the hand example) segments with the learned merges
    assert(enc(2L).get(1).getSeq[String](1) == Seq("low", "est"))
    assert(enc(3L).isEmpty || enc(3L).get == null) // null text
    assert(enc(4L).get.isEmpty)                    // empty text
  }

  test("fertilityByGroup: exact counts, fertility falls as merges grow") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low lower lowest newest new", "a"),
      (2L, "the newest low", "a"),
      (3L, "low low lowest", "b"),
      (4L, "", "b"))
      .toDF("doc_id", "text", "source")
    val merges = Bpe.trainBpe(docs, "doc_id", "text", numMerges = 6)
    val rep = Bpe.fertilityByGroup(docs, "doc_id", "text", "source", merges)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_subtokens"),
          r.getAs[Double]("fertility"))).toMap
    assert(rep("a")._1 == 8L && rep("b")._1 == 3L)
    // counts agree with the subtokens applyBpe emits per doc
    val perDoc = Bpe.applyBpe(docs, "doc_id", "text", merges).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[org.apache.spark.sql.Row](1))
        .fold(0L)(_.map(_.getSeq[String](1).size.toLong).sum)).toMap
    assert(rep("a")._2 == perDoc(1L) + perDoc(2L))
    assert(rep("b")._2 == perDoc(3L) + perDoc(4L))
    // fertility >= 1 whenever words exist; empty docs contribute nothing
    assert(rep("a")._3 >= 1.0 && rep("b")._3 >= 1.0)
    // a larger merge table can only tighten segmentation
    val merges0 = Bpe.trainBpe(docs, "doc_id", "text", numMerges = 1)
    val loose = Bpe.fertilityByGroup(docs, "doc_id", "text", "source", merges0)
      .collect().map(r => r.getAs[String]("source") ->
        r.getAs[Double]("fertility")).toMap
    assert(loose("a") > rep("a")._3 && loose("b") > rep("b")._3)
  }
}
