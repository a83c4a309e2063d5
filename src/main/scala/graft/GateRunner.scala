package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.CacheScope
import graft.queries.Q

/** The one way the harness mains (`Bench`, `Verify`, `ProfileOne`,
  * `ScaleCheck`) run an inventory gate: its cache discipline is decided
  * here, the callers bring only a sink and their reporting. */
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

  /** The timed runs of one [[measure]]: their seconds, and every failure
    * of any run, warm or timed (a failed run's seconds are not a timing of
    * the gate's work). */
  final case class Timing(seconds: Seq[Double], failures: Seq[Throwable]) {
    def median: Double = {
      val s = seconds.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  }

  /** Bench's per-gate sequence, shared with [[ScaleCheck]] and
    * [[ProfileOne]]: a full GC, then `warmups` untimed runs (codegen, JIT,
    * classloading) and `reps` timed runs into the [[noop]] sink, with a
    * [[sweep]] between runs so every timed run redoes all real work.
    * Failures and RDD-level leaks go to stderr as `[tag] <name> failed: ...`
    * / `[tag] <name> leaked ...`.
    *
    * Every job a run launches carries the job group `<name>#warm` or
    * `<name>#timed` (`<name>#prewarm` for the prewarm), so a listener can
    * charge it to the gate and keep the timed run apart. The calling
    * thread has no job group afterwards.
    *
    * The GC runs before any timing: heap residue from prior gates (old-gen
    * churn, codegen caches) was measured inflating timings 2.6–4.5x on
    * untouched code past ~150 gates into the suite (VERDICT r12). The
    * gate's `prewarm` (session-shared assets: IVF index, semantic labeling)
    * runs before every run, outside the timed region: production builds
    * those once at ingest, so a timed run measures the operator, not index
    * (re)construction. A throwing prewarm is a failure of the gate. */
  def measure(spark: SparkSession, name: String, q: Q, dir: String, tag: String,
              warmups: Int = 1, reps: Int = 1): Timing = {
    val failures = mutable.ArrayBuffer.empty[Throwable]
    def failed(e: Throwable): Unit = {
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      failures += e
    }
    def swept(): Unit = {
      val leftover = sweep(spark)
      if (leftover.nonEmpty)
        System.err.println(s"[$tag] $name leaked ${leftover.size} RDD-level " +
          s"persist(s): ${leftover.mkString(", ")}")
    }
    def grouped[T](phase: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(s"$name#$phase", s"$name#$phase")
      try body finally spark.sparkContext.clearJobGroup()
    }
    def prewarm(): Unit = grouped("prewarm") {
      try q.prewarm.foreach(f => f(spark, dir)) catch { case e: Throwable => failed(e) }
    }
    def once(phase: String): Double = grouped(phase) {
      val r = run(spark, q, dir)(noop)
      r.failure.foreach(failed)
      r.seconds
    }
    System.gc()
    (1 to warmups).foreach { _ => prewarm(); once("warm"); swept() }
    val timed = (1 to reps).map { _ => swept(); prewarm(); once("timed") }
    swept() // leave nothing cached for the next gate
    Timing(timed, failures.toSeq)
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
