package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.CacheScope
import graft.queries.Q

/** The one way the harness mains (`Bench`, `Verify`, `ProfileOne`) run an
  * inventory gate: its cache discipline is decided here, the callers bring
  * only a sink and their reporting. */
object GateRunner {

  /** One gate run: wall seconds from the gate's start to the release of its
    * scope (up to the throw, for a failed run), the failure if there was
    * one, and how many gate-scoped persists the release unpinned. */
  final case class Run(seconds: Double, failure: Option[Throwable], released: Int)

  /** The timing sink: materializes every row and writes nothing (see
    * [[Bench]] for why not `count()`). */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Run `q` on `dir` into `sink` inside a fresh gate scope. Gate-scoped
    * persists release inside the timed region: production pays the
    * unpersist too, and the next sweep has nothing gate-owned left to find.
    * A throw from the gate or the sink is returned, not rethrown. */
  def run(spark: SparkSession, q: Q, dir: String)(sink: DataFrame => Unit): Run = {
    CacheScope.beginGate()
    val t0 = System.nanoTime()
    val failure =
      try { sink(q.fn(spark, dir)); None }
      catch { case e: Throwable => Some(e) }
    val released = CacheScope.endGate()
    Run((System.nanoTime() - t0) / 1e9, failure, released)
  }

  /** Clear the DataFrame cache and unpersist every RDD-level persist still
    * registered (ml internals persist at the RDD layer, which `clearCache`
    * does not cover). Returns the names of those leftover RDDs: a gate that
    * leaves one behind leaks into its neighbours' timings and memory. */
  def sweep(spark: SparkSession): Seq[String] = {
    spark.catalog.clearCache()
    val leftover = spark.sparkContext.getPersistentRDDs.values.toSeq
    leftover.foreach(_.unpersist(blocking = false))
    leftover.map(_.name)
  }

  /** The gate selection: `patterns` is a comma-separated list of name
    * substrings, and a gate runs when its name contains one of them. No
    * patterns select every gate. */
  def selects(patterns: Option[String]): String => Boolean = patterns match {
    case Some(p) => name => p.split(',').exists(name.contains)
    case None => _ => true
  }
}
