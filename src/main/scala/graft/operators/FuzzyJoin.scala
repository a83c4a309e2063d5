package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact edit-distance joins between two LARGE string-keyed frames.
  *
  * The engine already covers the small-dim case (probe list × broadcast
  * dimension, q_j_fuzzy_levenshtein): that shape is O(|corpus|·|probes|) and
  * correct only while one side broadcasts. A training-data pipeline also
  * needs the big-big case — matching near-identical titles, product keys, or
  * citation strings ACROSS two corpus-scale frames — where a cross join is
  * never an option and candidate generation must be an equi-join.
  *
  * Blocking scheme: the LENGTH BAND. Edit distance >= abs(len(a) - len(b)),
  * so dist(a,b) <= t implies the lengths differ by at most t — replicating
  * one side to its 2t+1 admissible lengths and equi-joining on length is
  * SOUND (never loses a true pair; the gate proves it by matching an
  * unblocked all-pairs oracle) and turns the pair space into per-length-band
  * blocks. Each surviving candidate is confirmed with `levenshtein`
  * (codegen'd, integer-exact on every engine). Replication factor is the
  * constant 2t+1 — thresholds in entity-resolution practice are 1-3.
  *
  * At 100 TB: the length key is coarse (natural-language keys concentrate
  * around a few lengths), so band sizes are skewed — the join is an
  * AQE-splittable shuffle join on an integer key, and the standard levers
  * apply (salt the heavy bands with SaltedJoin, or cap via a key-frequency
  * cut like the LSH family's maxTokenDf). The exactness-preserving upgrade
  * path when bands are still too dense is segment blocking (pigeonhole the
  * key into t+1 segments; a true match shares at least one segment verbatim
  * — the PassJoin family), which subdivides every band by content; the
  * length band stays the right first cut because it is free and its
  * soundness is unconditional.
  */
object FuzzyJoin {

  /** All pairs (left × right) with levenshtein(key) <= maxDist, as an
    * equi-join on the length band — no cross product. Output:
    * (id_l, id_r, key_l, key_r, dist). */
  def join(left: DataFrame, right: DataFrame, idCol: String, keyCol: String,
           maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val l = left.select(col(idCol).as("id_l"), col(keyCol).as("key_l"),
      length(col(keyCol)).as("len_l"))
    val r = right.select(col(idCol).as("id_r"), col(keyCol).as("key_r"))
      .withColumn("len_band",
        explode(sequence(length(col("key_r")) - maxDist,
          length(col("key_r")) + maxDist)))
    l.join(r, col("len_l") === col("len_band"))
      .withColumn("dist", levenshtein(col("key_l"), col("key_r")))
      .filter(col("dist") <= maxDist)
      .select(col("id_l"), col("id_r"), col("key_l"), col("key_r"),
        col("dist").cast("bigint").as("dist"))
  }

  // ---------- segment (pigeonhole) blocking — the PassJoin family ----------

  /** Even t+1-way partition boundaries of a length-L key: the first
    * `L mod (t+1)` segments carry the extra byte. (i 0-based; start
    * 1-based for substr.) One definition feeds both the index side and the
    * probe generator — they MUST agree or recall silently dies. */
  private def segLen(L: Column, k: Int, i: Int): Column =
    floor(L / k).cast("int") + when(lit(i) < pmod(L, lit(k)), 1).otherwise(0)
  private def segStart(L: Column, k: Int, i: Int): Column =
    (floor(L / k) * i).cast("int") + least(lit(i), pmod(L, lit(k)).cast("int")) + 1

  /** [[join]] with SEGMENT blocking — the exactness-preserving answer when
    * the length bands themselves are too dense (every natural-language key
    * crowds a few lengths): by pigeonhole, t edits can touch at most t of
    * t+1 contiguous segments, so a true match contains at least one LEFT
    * segment VERBATIM, shifted by at most t positions (each edit before the
    * segment shifts it by at most one). Candidates are therefore the
    * equi-join of the left side's (key length, segment index, segment
    * string) against the right side's enumerated probe substrings — content
    * subdivides every length band, and the probe fan-out is the constant
    * (2t+1)·(t+1)·(2t+1) per row (75 at t = 2).
    *
    * Keys shorter than t+1 characters cannot be segmented (empty segments
    * would match vacuously); those left rows — a tiny, alphabet-bounded
    * set — route through the [[join]] length-band path, partitioned by key
    * length so the two candidate streams are disjoint. Same output contract
    * as [[join]]; the shared gate oracle (unblocked all-pairs) makes the
    * hash match a recall proof for the whole scheme. */
  def joinSegments(left: DataFrame, right: DataFrame, idCol: String,
                   keyCol: String, maxDist: Int): DataFrame = {
    val t = maxDist
    if (t == 0) return join(left, right, idCol, keyCol, 0)
    val k = t + 1
    val l = left.select(col(idCol).as("id_l"), col(keyCol).as("key_l"),
      length(col(keyCol)).as("len_l"))
    val r = right.select(col(idCol).as("id_r"), col(keyCol).as("key_r"),
      length(col(keyCol)).as("len_r"))
    // index side: one row per segment of each long-enough left key
    val segs = l.filter(col("len_l") >= k)
      .select(col("id_l"), col("key_l"), col("len_l"),
        explode(array((0 until k).map { i =>
          struct(lit(i).as("seg_i"),
            col("key_l").substr(segStart(col("len_l"), k, i),
              segLen(col("len_l"), k, i)).as("seg_sub"))
        }: _*)).as("seg"))
      .select(col("id_l"), col("key_l"), col("len_l"),
        col("seg.seg_i").as("seg_i"), col("seg.seg_sub").as("seg_sub"))
    // probe side: for every admissible left length ls and segment index i,
    // the right key's substrings of the segment's exact span length within
    // the sound ±t start window
    // admissible left lengths: [len_r - t, len_r + t] ∩ [k, ∞) — guarded so
    // a too-short right key yields no probes (sequence(hi<lo) would count
    // DOWN in Spark, silently generating garbage lengths)
    val lsLo = greatest(col("len_r") - t, lit(k))
    val lsHi = col("len_r") + t
    val probeRows = r.select(col("id_r"), col("key_r"), col("len_r"),
        explode(flatten(transform(
          when(lsLo <= lsHi, sequence(lsLo, lsHi))
            .otherwise(array().cast("array<int>")),
          ls => flatten(transform(sequence(lit(0), lit(t)), iCol => {
            // segment boundaries under source length ls (iCol is a Column;
            // expand the k possible indices with a when-chain)
            def pick(f: (Column, Int, Int) => Column): Column =
              (0 until k).foldLeft(lit(0)) { (acc, i) =>
                when(iCol === i, f(ls, k, i)).otherwise(acc)
              }
            val li = pick(segLen)
            val pi = pick(segStart)
            val qlo = greatest(pi - t, lit(1))
            val qhi = least(pi + t, col("len_r") - li + 1)
            when(qlo <= qhi,
              transform(sequence(qlo, qhi), q =>
                struct(ls.cast("int").as("ls"), iCol.cast("int").as("seg_i"),
                  col("key_r").substr(q.cast("int"), li).as("seg_sub"))))
              .otherwise(array().cast(
                "array<struct<ls:int,seg_i:int,seg_sub:string>>"))
          }))))).as("p"))
      .select(col("id_r"), col("key_r"),
        col("p.ls").as("len_l"), col("p.seg_i").as("seg_i"),
        col("p.seg_sub").as("seg_sub"))
    val longPairs = segs.join(probeRows, Seq("len_l", "seg_i", "seg_sub"))
      .select("id_l", "id_r", "key_l", "key_r").distinct()
      .withColumn("dist", levenshtein(col("key_l"), col("key_r")))
      .filter(col("dist") <= t)
    // short left keys (len < t+1): the tiny remainder runs the band path
    val shortPairs = join(l.filter(col("len_l") < k)
        .select(col("id_l").as(idCol), col("key_l").as(keyCol)),
      right, idCol, keyCol, t)
    longPairs.select(col("id_l"), col("id_r"), col("key_l"), col("key_r"),
        col("dist").cast("bigint").as("dist"))
      .unionByName(shortPairs)
  }

  // ---------- record linkage: 1:1 assignment over a scored pair frame ----

  /** MUTUAL-BEST-MATCH record linkage: reduce a scored candidate-pair frame
    * (any blocking scheme's output — [[join]], [[joinSegments]], an LSH
    * bucket join) to 1:1 links where each side is the OTHER side's best
    * candidate. The parallel-safe core of entity resolution: a greedy
    * global assignment is inherently sequential, but every greedy round's
    * FIRST accepted links are exactly the mutual bests, and in practice
    * they carry almost all true matches — duplicate-merge pipelines run
    * this op, route the (rare) leftovers to review.
    *
    * "Best" = the lexicographic minimum of (`distCol`, partner id) — fully
    * deterministic under ties, computed as ONE `min(struct(...))` partial
    * aggregate per side (map-side combinable, never a per-key window).
    * Output: one row per mutual pair with both ids and the winning
    * distance; each id appears at most once per side by construction.
    *
    * Scale shape: two partial-agg shuffles over the pair frame (bounded by
    * candidate count, itself bounded by the blocking scheme) and one
    * equi-join of the two per-id best frames on the LINK key — no window,
    * no cartesian, skew-safe under AQE. */
  def bestMatch(pairs: DataFrame, leftId: String = "id_l",
                rightId: String = "id_r",
                distCol: String = "dist"): DataFrame = {
    val bl = pairs.groupBy(col(leftId))
      .agg(min(struct(col(distCol), col(rightId))).as("__b"))
      .select(col(leftId), col(s"__b.$rightId").as(rightId),
        col(s"__b.$distCol").as(distCol))
    val br = pairs.groupBy(col(rightId))
      .agg(min(struct(col(distCol), col(leftId))).as("__b"))
      .select(col(s"__b.$leftId").as(leftId), col(rightId))
    bl.join(br, Seq(leftId, rightId))
  }
}
