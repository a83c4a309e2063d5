package graft
import java.nio.file.{Files, Paths}

import graft.core.GraftSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated substrings — run only matching
    // queries (local iteration; the driver always passes 2 args = run all)
    val only = GateRunner.selects(args.drop(2).headOption)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local("graft-verify", cpus, cpus)
    new java.io.File(outDir).mkdirs()
    var releasedTotal = 0
    SparkEntry.inventory.filter(kv => only(kv._1)).foreach { case (name, q) =>
      // per-gate cache scope: gate-internal persists (token folds, band
      // indexes) are RELEASED as soon as the gate's output is written — a
      // 300-gate sweep holds at most one gate's intermediates at a time, by
      // construction rather than by blanket sweep.
      val run = GateRunner.run(spark, q, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      run.failure.foreach(e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}"))
      releasedTotal += run.released
      // Remaining DataFrame-level persists are the SESSION-SHARED assets
      // (the memoized Similarity.sharedIvf index) — swept here and they
      // repair themselves on next use. RDD-level persists have no such
      // owner and would pin memory for the rest of the run, so a gate that
      // leaks one is recorded as FAILED (its dump is deleted, so the
      // oracle compare reports it) and the discipline can't erode
      // silently.
      val leaked = GateRunner.sweep(spark)
      if (leaked.nonEmpty) {
        System.err.println(s"[verify] $name failed: leaked " +
          s"${leaked.size} RDD-level persist(s): ${leaked.mkString(", ")}")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // end-of-sweep residue assertion: every gate handle was released and
    // every sweep ran, so nothing may still be pinned at either layer
    require(GateRunner.sweep(spark).isEmpty,
      "verify sweep finished with persisted RDDs still registered — a " +
        "gate's persist escaped both its handle and the sweep")
    System.err.println(
      s"[verify] gate-scoped persists released: $releasedTotal")
    spark.stop()
  }
}
