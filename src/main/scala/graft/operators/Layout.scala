package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout for multi-dimensional data skipping.
  *
  * At 100 TB the scan you never run is the cheapest one: parquet readers
  * prune row groups and files by min/max statistics, but those statistics
  * only help along the physical sort order. Sorting by (a, b) makes `a`
  * prunable and leaves `b`'s per-file range as wide as the corpus;
  * interleaving the BITS of both columns' bucket indices (the Z-/Morton
  * curve — the layout behind Delta Lake's and Databricks' OPTIMIZE ZORDER)
  * gives every file a bounded range on EVERY participating column, so
  * point/range predicates on any of them skip most of the data.
  *
  * Shape: one corpus aggregation computes each column's (min, max) —
  * broadcast scalars, same pattern as min-max normalization; the bucket
  * index and bit interleave are pure scan-stage integer arithmetic; the
  * only shuffle is the `repartitionByRange` that physically clusters by the
  * resulting z-value — exactly the one shuffle any re-layout must pay
  * (like [[Sampling.shuffleByHash]], this operator IS a corpus reorder).
  * Range partitioning samples the z column for balanced split points, so
  * skewed key distributions still produce even files.
  *
  * Determinism: bucketization is fixed-range double arithmetic from the
  * broadcast (min, max) — reproducible and engine-mirrorable (the spline
  * sampling of repartitionByRange is not, which is why gates pin the
  * z-VALUES, not the partition ids).
  */
object Layout {

  /** Bucket index of `c` in [0, 2^bits): fixed-width binning between `lo`
    * and `hi` (inclusive top clamps to the last bucket; a constant column
    * collapses to bucket 0). */
  def rangeBucket(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val n = 1L << bits
    val w = hi.cast("double") - lo.cast("double")
    val raw = floor((c.cast("double") - lo.cast("double")) / w * n).cast("long")
    when(w > 0, least(greatest(raw, lit(0L)), lit(n - 1))).otherwise(lit(0L))
  }

  /** Morton interleave of `m` bucket indices of `bits` bits each: output
    * bit (b*m + j) is bit b of bucket j, so the curve alternates one bit
    * per dimension per level. Unrolled integer Column arithmetic (m*bits
    * shift-mask-shift terms — codegen-friendly, no UDF); m*bits must fit a
    * long. */
  def interleaveBits(buckets: Seq[Column], bits: Int): Column = {
    val m = buckets.size
    require(m >= 1, "need at least one column")
    require(m * bits <= 62, s"$m cols x $bits bits overflow a long")
    val terms = for {
      (bk, j) <- buckets.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(bk, b).bitwiseAND(lit(1L)), b * m + j)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Attach `zCol` = the z-value of `cols` (each fixed-range-bucketed to
    * `bits` bits from its corpus min/max, computed in ONE aggregation pass
    * and broadcast). */
  def withZValue(df: DataFrame, cols: Seq[String], bits: Int,
                 zCol: String = "z"): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"__lo_$i"), max(col(c)).as(s"__hi_$i"))
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      rangeBucket(col(c), col(s"__lo_$i"), col(s"__hi_$i"), bits)
    }
    df.crossJoin(broadcast(stats))
      .withColumn(zCol, interleaveBits(buckets, bits))
      .drop(cols.indices.flatMap(i => Seq(s"__lo_$i", s"__hi_$i")): _*)
  }
}
