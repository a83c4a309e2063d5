package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** The benchmark's JVM entry point.
  *
  * ```
  * perfbench.Main --workload weather|corpus|gates --seed N --seconds S \
  *                --trace 0|1 --work DIR --trace-out DIR --expected DIR
  * ```
  *
  * Set-up (session, seeded inputs under `DIR`, warm runs, index builds) is
  * repeated [[SetupReps]] times, each time on a fresh session and a fresh
  * input directory; `setup_s` is the median. The measured phase then runs on
  * the last set-up's state. The last line on stdout is the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {

  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, traceOut: Path, expected: Path)

  /** What one run learned: operation counts, check results and metrics.
    *
    * Every operation (a CLI call, a request, a gate run, a standalone output
    * check) is attempted once. It fails if it throws or its output check
    * does not hold; a failed operation is left out of every timing. The run
    * is `correct` when no output check failed: an operation that threw is
    * counted in `failed` but produced no output to be wrong.
    */
  final class Outcome {
    private val attemptedN = new java.util.concurrent.atomic.AtomicInteger(0)
    private val failedN = new java.util.concurrent.atomic.AtomicInteger(0)
    private val wrongN = new java.util.concurrent.atomic.AtomicInteger(0)
    val findings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    /** The workload's own named metrics (printed before the result line). */
    val named = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

    def attempted: Int = attemptedN.get
    def failed: Int = failedN.get
    def correct: Boolean = wrongN.get == 0

    /** Count one operation; a throw or a `false` check is a failure. */
    def op[T](what: => String)(body: => T)(ok: T => Boolean = (_: T) => true): Option[T] = {
      attemptedN.incrementAndGet()
      try {
        val r = body
        if (ok(r)) Some(r) else { wrongN.incrementAndGet(); fail(s"wrong output: $what"); None }
      } catch { case e: Throwable =>
        fail(s"$what threw ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        None
      }
    }

    /** A standalone output check, counted as one operation; a check that
      * cannot be evaluated is a failed check. */
    def check(what: String)(cond: => Boolean): Unit = {
      attemptedN.incrementAndGet()
      val held = try cond catch { case e: Throwable =>
        System.err.println(s"[perfbench] check $what threw: $e"); false }
      if (!held) { wrongN.incrementAndGet(); fail(s"check failed: $what") }
    }

    private def fail(msg: String): Unit = {
      failedN.incrementAndGet()
      findings.add(msg)
      System.err.println(s"[perfbench] FAILED $msg")
    }
  }

  /** One workload: a seeded set-up and a measured phase. */
  trait Workload {
    /** Build the inputs under `dir` and warm the session; runs once per
      * set-up repetition. */
    def setup(spark: SparkSession, dir: Path): Unit
    /** The measured phase, on the state the last [[setup]] left. */
    def measure(spark: SparkSession, dir: Path, out: Outcome): Unit
    /** Traced runs only: per-layer metrics from the finished trace. */
    def layers(spark: SparkSession, dir: Path, out: Outcome): Unit
  }

  def parse(argv: Array[String]): Args = {
    def arg(name: String): String = {
      val i = argv.indexOf(name)
      require(i >= 0 && i + 1 < argv.length, s"missing $name")
      argv(i + 1)
    }
    val a = Args(arg("--workload"), arg("--seed").toLong, arg("--seconds").toInt,
      arg("--trace") == "1", Paths.get(arg("--work")), Paths.get(arg("--trace-out")),
      Paths.get(arg("--expected")))
    require(Workloads.names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def newSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = Trace.span("core.session")(GraftSession.local("perfbench"))
    Trace.attach(spark.sparkContext)
    spark
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Trace.enabled = args.trace
    // the whole stack in a job's long call site, so deep write paths still
    // show the engine frame that launched them (read per job, traced runs only)
    if (args.trace) System.setProperty("spark.callstack.depth", "1000")
    val workload = Workloads.make(args)
    val out = new Outcome
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var dir: Path = null
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = if (rep == 1) jvmStart * 1000000L - System.currentTimeMillis() * 1000000L +
        System.nanoTime() else System.nanoTime()
      if (dir != null) Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      dir = Files.createDirectories(args.work.resolve(s"setup$rep"))
      spark = newSession()
      Trace.span("setup")(workload.setup(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] setup reps (s): ${setupS.map(s => f"$s%.3f").mkString(" ")}")
    // the measured phase starts from a collected heap
    System.gc()
    val t0 = System.nanoTime()
    workload.measure(spark, dir, out)
    val measuredS = (System.nanoTime() - t0) / 1e9
    out.endToEnd("setup_s") = (Stats.median(setupS), "s")
    out.endToEnd("peak_rss_mb") = (peakRssMb(), "MB")
    if (args.trace) {
      workload.layers(spark, dir, out)
      Layers.common(out, measuredS)
      Trace.write(args.traceOut)
    }
    spark.stop()

    out.named.foreach { case (k, (v, u)) => println(f"[perfbench] ${args.workload} $k = $v%.4f $u") }
    out.endToEnd.foreach { case (k, (v, u)) => println(f"[perfbench] ${args.workload} $k = $v%.4f $u") }
    out.findings.forEach(f => println(s"[perfbench] finding: $f"))
    val metrics = (if (args.trace) out.layer else out.endToEnd).toSeq.map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    val bad = metrics.collect { case (k, m) if m("value").asInstanceOf[Double].isNaN => k }
    if (bad.nonEmpty) {
      System.err.println(s"[perfbench] metrics without a value: ${bad.mkString(", ")}")
      sys.exit(3)
    }
    println(Json.obj("correct" -> out.correct, "attempted" -> out.attempted,
      "failed" -> out.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
    System.out.flush()
    // engine thread pools (the server's HTTP executor) are not daemons
    sys.exit(0)
  }
}
