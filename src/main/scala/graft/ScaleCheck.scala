package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode, lit}

import graft.core.{GraftSession, Tables}
import graft.queries.Q

/** Scaling experiment (not part of the contract surface): replicate the
  * tables of `$SPARK_GRAFT_SF_DIR` (default sf0.1) 10x into /tmp/scale10,
  * then run inventory gates at 1x and 10x on the same session, each through
  * [[GateRunner.measure]] — the per-gate sequence [[Bench]] runs, with the
  * gate's own `Q.fn` and its `prewarm` outside the timed region.
  * Near-linear ratios (~10x input -> <=10x time on fixed cores) are the
  * empirical check that the plans scale by partitioning, not by luck.
  * Results recorded in SCALE.md.
  *
  * Gates run exactly as the suite runs them: a fixed parameter (a document-
  * frequency cut, a list count) gives different work at 10x, and the ratio
  * then measures that too (see SCALE.md).
  *
  * Usage: SPARK_GRAFT_CPUS=4 sbt "runMain graft.ScaleCheck [patterns]"
  * (`patterns`: comma-separated name substrings, as [[GateRunner.selects]];
  * none runs every gate).
  */
object ScaleCheck {

  val shards = 10

  /** The fact tables and the id column each shard offsets, so the 10
    * copies of a row are distinct rows. Orders and lineitem offset the same
    * order key, so their join stays within a shard. */
  val facts: Seq[(String, String)] = Seq(
    "documents" -> "doc_id", "lineitem" -> "l_orderkey",
    "orders" -> "o_orderkey", "embeddings" -> "vec_id", "events" -> "event_id")

  /** Copied unreplicated: every shard's rows reference the same keys. */
  val dimensions: Seq[String] = Seq("customer", "part", "supplier", "nation", "region")

  /** Write `base`'s tables into `out`: each fact table [[shards]] times,
    * its id offset by 100M per shard, the dimension tables as they are. */
  def replicate(spark: SparkSession, base: String, out: String): Unit = {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    facts.foreach { case (name, id) =>
      val shard = explode(array((0 until shards).map(lit): _*))
      write(Tables.load(spark, base, name).withColumn("__shard", shard)
        .withColumn(id, col(id) + col("__shard").cast("long") * 100000000L)
        .drop("__shard")
        .repartition(partitions), name)
    }
    dimensions.foreach(name => write(Tables.load(spark, base, name), name))
  }

  /** One gate at both scales: its timed seconds at each, `None` where any
    * run at that scale failed. */
  final case class Scaled(name: String, t1: Option[Double], t10: Option[Double]) {
    def failed: Boolean = t1.isEmpty || t10.isEmpty

    def line: String = {
      def cell(t: Option[Double]) = t.fold("FAILED")(s => f"$s%.2f s")
      val ratio = (for (a <- t1; b <- t10) yield f"${b / a}%.1fx").getOrElse("FAILED")
      f"SCALE | $name%-32s | ${cell(t1)}%9s | ${cell(t10)}%9s | $ratio%6s |"
    }
  }

  /** Measure each gate at `base`, then at `out`, printing its row as it
    * finishes. A failure at one scale is its row's `FAILED`, not the end of
    * the run. */
  def scale(spark: SparkSession, gates: Seq[(String, Q)], base: String,
            out: String): Seq[Scaled] = gates.map { case (name, q) =>
    def at(dir: String): Option[Double] = {
      val t = GateRunner.measure(spark, name, q, dir, "scale")
      if (t.failures.isEmpty) Some(t.median) else None
    }
    val row = Scaled(name, at(base), at(out))
    println(row.line)
    row
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val out = "/tmp/scale10"
    val spark = GraftSession.local("graft-scale", cpus, cpus)
    replicate(spark, base, out)
    println(s"SCALE replicated $base ${shards}x into $out")
    val only = GateRunner.selects(args.headOption)
    val rows = scale(spark, SparkEntry.inventory.filter(kv => only(kv._1)), base, out)
    println(s"SCALE == summary (${shards}x data on $cpus cores) ==")
    rows.foreach(r => println(r.line))
    val failed = rows.filter(_.failed).map(_.name)
    println(s"SCALE failed (${failed.size}): ${failed.mkString(", ")}")
    spark.stop()
  }
}
