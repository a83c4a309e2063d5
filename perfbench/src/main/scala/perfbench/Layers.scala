package perfbench

import Trace.{Job, Span}

/** The per-layer metrics of a traced run. Every workload reports every
  * metric; a layer the workload does not reach reads 0, which is the
  * "no change" prediction for it. Layers are the engine's modules
  * (`src/main/scala/graft/<module>`); `functions` has no call boundary and
  * shows up as the executor CPU of the operator spans that use it.
  */
object Layers {

  val Modules = Seq("core", "weather", "sources", "operators", "functions",
    "streaming", "queries", "cli")

  /** Every per-layer metric, in report order, with its unit. */
  val All: Seq[(String, String)] = Seq(
    "core.session_ms" -> "ms", "core.sweep_ms" -> "ms", "core.failed_tasks" -> "count",
    "weather.fetch_ms" -> "ms", "weather.read_raw_ms" -> "ms", "weather.read_raw_jobs" -> "count",
    "weather.transform_task_ms" -> "ms", "weather.transform_cpu_ms" -> "ms",
    "weather.write_ms" -> "ms", "weather.write_jobs" -> "count", "weather.write_mb" -> "MB",
    "weather.write_files" -> "count", "weather.report_ms" -> "ms", "weather.report_jobs" -> "count",
    "weather.driver_ms" -> "ms",
    "server.daily_route_ms" -> "ms", "server.hourly_route_ms" -> "ms",
    "server.compare_route_ms" -> "ms", "server.search_route_ms" -> "ms",
    "server.refresh_route_ms" -> "ms", "server.jobs_per_request" -> "count",
    "server.http_ms" -> "ms", "server.queue_ms" -> "ms",
    "server.rows_read_per_row_returned" -> "ratio",
    "dedup.exact_ms" -> "ms", "dedup.lsh_ms" -> "ms", "dedup.lsh_pairs" -> "count",
    "dedup.cc_ms" -> "ms", "dedup.cc_jobs" -> "count", "dedup.shuffle_mb" -> "MB",
    "dedup.spill_mb" -> "MB", "decon.ms" -> "ms", "decon.shuffle_mb" -> "MB",
    "curation.budget_ms" -> "ms", "screen.cpu_ms" -> "ms",
    "export.ms" -> "ms", "export.out_mb" -> "MB", "export.validate_ms" -> "ms",
    "corpus.jobs" -> "count", "corpus.driver_ms" -> "ms", "corpus.cpu_ms" -> "ms",
    "corpus.gc_ms" -> "ms", "corpus.coverage" -> "ratio",
    "ingest.batch_ms" -> "ms", "ingest.jobs_per_batch" -> "count",
    "ingest.index_read_mb" -> "MB", "ingest.read_per_arrival_byte" -> "ratio",
    "ingest.survivor_ratio" -> "ratio",
    "queries.jobs" -> "count", "queries.stages" -> "count", "queries.task_ms" -> "ms",
    "queries.cpu_ms" -> "ms", "queries.gc_ms" -> "ms", "queries.wait_ms" -> "ms",
    "queries.shuffle_mb" -> "MB", "queries.input_mb" -> "MB", "queries.driver_ms" -> "ms",
    "queries.tpch_s" -> "s", "queries.relational_s" -> "s", "queries.weather_s" -> "s",
    "trace.listener_self_pct" -> "%") ++
    Modules.map(m => s"jobs.$m" -> "count")

  /** The engine module a benchmark span calls into, by span-name prefix. */
  def moduleOfSpan(span: String): String = span.takeWhile(_ != '.') match {
    case "queries" => "queries"
    case "weather" | "server" => "weather"
    case "dedup" | "decon" | "curation" | "screen" => "operators"
    case "export" => "sources"
    case "ingest" => "streaming"
    case "corpus" => "cli"
    case "core" => "core"
    case _ => Trace.Unknown
  }

  def ms(s: Span): Double = (s.end - s.start) / 1e6
  def mb(bytes: Long): Double = bytes / 1e6

  /** Wall time during which any of `js` ran (concurrent jobs count once). */
  def busyMs(js: Seq[Job]): Double = Trace.covered(js.map(j => (j.start, j.end))) / 1e6

  def named(name: String): Seq[Span] = Trace.allSpans.filter(_.name == name)

  /** Jobs charged to any of `roots` or to a span below them. */
  def jobsUnder(roots: Seq[Span]): Seq[Job] = {
    val all = Trace.allSpans
    val ids = roots.flatMap(Trace.subtree(_, all)).toSet
    Trace.allJobs.filter(j => ids(j.span))
  }

  /** Metrics every workload shares; fills any metric not yet set with 0. */
  def common(out: Main.Outcome, measuredS: Double): Unit = {
    val jobs = Trace.allJobs
    out.layer("core.session_ms") = (Stats.median(named("core.session").map(ms)), "ms")
    out.layer("core.sweep_ms") = (named("core.sweep").map(ms).sum, "ms")
    out.layer("core.failed_tasks") = (jobs.map(_.failedTasks).sum.toDouble, "count")
    // the listener's and the span recorder's own time, against the
    // measured phase they traced; the whole cost of tracing, traced against
    // untraced end-to-end time, comes from steady.py
    out.layer("trace.listener_self_pct") = (100.0 * Trace.selfNanos.get / 1e9 / measuredS, "%")
    Modules.foreach(m => out.layer(s"jobs.$m") = (jobs.count(_.module == m).toDouble, "count"))
    val set = out.layer.toMap
    val ordered = All.map { case (k, unit) => k -> set.getOrElse(k, (0.0, unit)) }
    out.layer.clear()
    out.layer ++= ordered
  }
}
