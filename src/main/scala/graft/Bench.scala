package graft

import graft.core.GraftSession

/** Benchmark main: runs the full query inventory against
  * SPARK_GRAFT_SF_DIR and prints one JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — unlike `count()`, which
  * lets Catalyst prune every column a query computes, noop materializes the
  * full result rows, so the timing covers the real work.
  *
  * Every query runs once warm, then `SPARK_GRAFT_REPS` (default 1) timed
  * runs; the reported number is the MEDIAN of the timed runs. The warm run
  * pays one-off JVM/codegen/classload costs that are noise at bench scale
  * and irrelevant at production scale. The DataFrame cache is cleared
  * between every run so persisted intermediates (LSH band frames etc.) are
  * rebuilt — each timed run re-executes all real work, it only skips the
  * compile-time fixed costs.
  *
  * The per-gate sequence (full GC, prewarm outside the timed region, warm
  * runs, timed runs, a sweep between runs) is [[GateRunner.measure]], the
  * one [[ScaleCheck]] runs too. Its sweeps unpersist any RDD-level
  * leftover and report it to stderr — a gate must not leak cache into its
  * neighbors' timings (or their memory budget).
  *
  * Failures: a run that throws is reported to stderr
  * (`[bench] <name> failed: ...`) and its gate is still timed up to the
  * throw, so the stdout line keeps one number per gate. Those numbers are
  * not timings of the gate's work: the self-record lists every gate with a
  * failed run (warm or timed) by name in `"failed":[...]`, in suite order,
  * empty when every run succeeded.
  *
  * Local-iteration knobs (the driver sets none of these):
  *  - SPARK_GRAFT_REPS: timed runs per query (median reported)
  *  - SPARK_GRAFT_WARMUP: untimed warm runs per query (default 1; use ~3
  *    for solo runs on a fresh JVM so HotSpot compilation isn't timed)
  *  - SPARK_GRAFT_BENCH_ONLY: comma-separated substrings; only matching
  *    query names run.
  */
object Bench {

  /** The round a run without `SPARK_GRAFT_ROUND` belongs to: the round in
    * progress, one past the newest `BENCH_r{N}.json` record in `dir` (0
    * when there is none). */
  private[graft] def inferredRound(dir: java.nio.file.Path): Int = {
    val prev = Option(dir.toFile.listFiles()).getOrElse(Array())
      .flatMap(f => "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
        .map(_.group(1).toInt))
    if (prev.isEmpty) 0 else prev.max + 1
  }

  /** Where the self-record of a run at `round` on `cpus` cores goes.
    *
    * Only a run whose round was given explicitly (`SPARK_GRAFT_ROUND`)
    * writes the canonical `bench_self_r{N}_c{cpus}.json`. A run that
    * inferred its round writes `bench_self_r{N}_c{cpus}_local.json`: a local
    * run after a round closes infers the NEXT round, and must not take the
    * name that round's baseline will be written under. An existing file is
    * never overwritten; later runs under the same name get a .2/.3/...
    * suffix. */
  private[graft] def selfRecordPath(dir: java.nio.file.Path, round: Int,
                                    explicitRound: Boolean,
                                    cpus: String): java.nio.file.Path = {
    val base = s"bench_self_r${round}_c$cpus" + (if (explicitRound) "" else "_local")
    Iterator.from(1)
      .map(i => dir.resolve(if (i == 1) s"$base.json" else s"$base.$i.json"))
      .find(p => !java.nio.file.Files.exists(p)).get
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "1").toInt.max(1)
    // Warm (untimed) runs per query. Default 1 for suite runs, where the JVM
    // is already JIT-hot from prior gates; SOLO runs on a fresh JVM need ~3
    // to stop measuring HotSpot compilation instead of the plan.
    val warmups = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1").toInt.max(1)
    val only = GateRunner.selects(sys.env.get("SPARK_GRAFT_BENCH_ONLY"))
    val spark = GraftSession.local("graft-bench", cpus, cpus)
    GateRunner.noop(SparkEntry.entry(spark))
    val suite = SparkEntry.inventory.filter(kv => only(kv._1))
    val timings = suite.map { case (name, q) =>
      val t = GateRunner.measure(spark, name, q, sfDir, "bench", warmups, reps)
      if (reps > 1) System.err.println(
        f"[bench] $name reps: ${t.seconds.map(s => f"$s%.3f").mkString(" ")}")
      name -> t
    }
    val results = timings.map { case (name, t) => name -> t.median }
    val failed = timings.collect { case (name, t) if t.failures.nonEmpty => name }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // Self-reported artifact: the driver's stdout-capture of BENCH_r{N}.json
    // has truncated mid-stream before (r11 kept 72/128 timings), losing the
    // suite head for cross-round diffing. Write the complete record —
    // per-query medians IN SUITE ORDER, reps, and the session knobs — to a
    // round-stamped file so every bench run survives lossless (see
    // [[selfRecordPath]] for the round and the file name).
    val explicitRound = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt)
    val here = java.nio.file.Paths.get(".")
    val round = explicitRound.getOrElse(inferredRound(here))
    val self =
      s"""{"round":$round,"reps":$reps,"cpus":$cpus,
         |"suite_order":[${results.map("\"" + _._1 + "\"").mkString(",")}],
         |"failed":[${failed.map("\"" + _ + "\"").mkString(",")}],
         |${line.drop(1)}""".stripMargin.replace("\n", "")
    // filtered local runs (SPARK_GRAFT_BENCH_ONLY) must not clobber the
    // full-suite record
    if (sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty) {
      val out = selfRecordPath(here, round, explicitRound.isDefined, cpus)
      java.nio.file.Files.write(out, self.getBytes("UTF-8"))
      System.err.println(s"[bench] wrote $out")
    }
    spark.stop()
  }
}
