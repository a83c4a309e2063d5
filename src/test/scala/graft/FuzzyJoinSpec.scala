package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin

/** Length-band blocked edit-distance joins: soundness vs a brute-force
  * cross join, the self-join pair contract, and the band arithmetic edges
  * (empty keys, threshold 0). */
class FuzzyJoinSpec extends SparkSpec {
  import spark.implicits._

  // unordered self-join pairs (id_a < id_b) under band / segment blocking
  private def selfPairs(pairs: DataFrame) =
    pairs.filter(col("id_l") < col("id_r"))
      .select(col("id_l").as("id_a"), col("id_r").as("id_b"), col("dist"))
  private def selfJoin(df: DataFrame, t: Int) =
    selfPairs(FuzzyJoin.join(df, df, "id", "key", t))
  private def selfJoinSegments(df: DataFrame, t: Int) =
    selfPairs(FuzzyJoin.joinSegments(df, df, "id", "key", t))

  private def names = Seq(
    (1L, "jakarta"), (2L, "jakarta"), (3L, "jakartha"), (4L, "bandung"),
    (5L, "bandungg"), (6L, "surabaya"), (7L, "jkarta"), (8L, "")
  ).toDF("id", "key")

  test("join equals the unblocked cross-join semantics") {
    val got = FuzzyJoin.join(names, names, "id", "key", 2)
      .filter(col("id_l") =!= col("id_r"))
      .select("id_l", "id_r", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = names.select(col("id").as("a"), col("key").as("ka"))
      .crossJoin(names.select(col("id").as("b"), col("key").as("kb")))
      .filter(col("a") =!= col("b") &&
        levenshtein(col("ka"), col("kb")) <= 2)
      .select(col("a"), col("b"),
        levenshtein(col("ka"), col("kb")).cast("bigint"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    // sanity on content: the jakarta cluster links its typo variants
    assert(got.contains((1L, 3L, 1L)) && got.contains((1L, 7L, 1L)))
    assert(!got.exists { case (a, b, _) => Set(a, b) == Set(4L, 6L) })
  }

  test("threshold 0 degenerates to exact key equality") {
    val got = selfJoin(names, 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((1L, 2L)))
  }

  test("segment blocking equals the band path and brute force exactly") {
    // adversarial shapes for the pigeonhole windows: substitutions,
    // insertions/deletions at the front (max shift), middle, and tail;
    // keys shorter than t+1 (short path); duplicates; an empty key
    val df = Seq(
      (1L, "abcdefgh"), (2L, "abcdefgh"), (3L, "Xbcdefgh"),
      (4L, "abcdeYgh"), (5L, "bcdefgh"), (6L, "zabcdefgh"),
      (7L, "abcdefghij"), (8L, "ab"), (9L, "ac"), (10L, ""),
      (11L, "abcdzfgh"), (12L, "hgfedcba"), (13L, "abcdefgX"),
      (14L, "aabcdefghz")
    ).toDF("id", "key")
    for (t <- 1 to 3) {
      val seg = selfJoinSegments(df, t)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val band = selfJoin(df, t)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(seg == band, s"t=$t: segment ${seg.diff(band)} missing ${band.diff(seg)}")
    }
  }

  test("segment blocking on generated keys: no pair lost at any threshold") {
    // 300 keys derived from a small alphabet with systematic mutations —
    // dense length bands, the regime segment blocking exists for
    val base = spark.range(0, 300).select(col("id"),
      concat(lit("key"), (col("id") % 37).cast("string"),
        when(col("id") % 5 === 0, lit("x")).otherwise(lit("")),
        when(col("id") % 7 === 0, lit("qz")).otherwise(lit(""))).as("key"))
    val seg = selfJoinSegments(base, 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val band = selfJoin(base, 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(seg == band, s"missing=${band.diff(seg).take(5)} extra=${seg.diff(band).take(5)}")
    assert(seg.nonEmpty)
  }

  test("mutual best match links only reciprocal argmins with deterministic ties") {
    // left 1 ties A/B at d=1 -> picks A (smaller partner id); A's best left
    // ties 1/2 at d=1 -> picks 1, so (1,A) links and 2 is left unmatched.
    // C prefers 4 (d=1) over 3 (d=2): (4,C) links, 3 unmatched.
    val pairs = Seq(
      (1L, 100L, 1L), (1L, 101L, 1L), (2L, 100L, 1L),
      (3L, 102L, 2L), (4L, 102L, 1L)
    ).toDF("id_l", "id_r", "dist")
    val got = FuzzyJoin.bestMatch(pairs).select("id_l", "id_r", "dist")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 100L, 1L), (4L, 102L, 1L)))
    // 1:1 by construction: each id at most once per side
    val links = got.toSeq
    assert(links.map(_._1).distinct.size == links.size)
    assert(links.map(_._2).distinct.size == links.size)
  }

  test("empty keys band-match each other and nothing longer than maxDist") {
    val df = Seq((1L, ""), (2L, ""), (3L, "ab"), (4L, "abc")).toDF("id", "key")
    val got = selfJoin(df, 2)
      .select("id_a", "id_b", "dist").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // "" vs "" dist 0; "" vs "ab" dist 2; "" vs "abc" dist 3 excluded
    assert(got == Set((1L, 2L, 0L), (1L, 3L, 2L), (2L, 3L, 2L),
      (3L, 4L, 1L)))
  }
}
