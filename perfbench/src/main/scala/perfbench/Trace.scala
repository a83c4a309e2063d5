package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory span recorder plus a `SparkListener` that charges every Spark
  * job and stage to the benchmark span that was active when the job was
  * submitted, and to the `graft.<module>` frame that launched it.
  *
  * A span is opened around a call into the engine's public API. Its id is
  * set as a Spark local property on the calling thread, so every job the
  * call submits (including jobs from threads Spark forks for it, such as a
  * streaming query's execution thread) carries the id in its properties.
  * The launching module comes from the job's long call site: the first
  * `graft.` frame names the package (`graft.weather.WeatherSources$` is
  * module `weather`, function `WeatherSources.writeProcessed`).
  *
  * Nothing is written until [[Trace.write]] at exit. With tracing off,
  * [[Trace.span]] only runs its body.
  */
object Trace {

  final case class Span(id: Long, name: String, parent: Long, request: Long,
                        start: Long, end: Long)

  /** One Spark job with its stages' summed task metrics. */
  final class Job(val id: Int, val span: Long, val execution: Long,
                  var module: String, var function: String, val start: Long,
                  val callSite: String) {
    var end: Long = start
    var stages = 0
    var tasks = 0
    var failedTasks = 0
    var taskMs = 0.0
    var cpuMs = 0.0
    var gcMs = 0.0
    var fetchWaitMs = 0.0
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var spillBytes = 0L
  }

  val SpanProperty = "perfbench.span"

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  @volatile private var sc: Option[SparkContext] = None

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  /** Launcher of each SQL execution, from the call site it started at. */
  private val executions = mutable.HashMap.empty[Long, (String, String)]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, Int]
  /** Nanoseconds spent inside listener callbacks and span bookkeeping. */
  val selfNanos = new AtomicLong(0)

  /** Attach the listener to a (new) session's context. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = Some(context)
    context.addSparkListener(Listener)
  }

  /** Run `body` inside a named span; `request` groups the spans of one
    * served request. */
  def span[T](name: String, request: Long = 0L)(body: => T): T = {
    if (!enabled) return body
    val t0 = System.nanoTime()
    val id = ids.incrementAndGet()
    val parent = current.get()
    current.set(id)
    val ctx = sc
    val prev = ctx.map(_.getLocalProperty(SpanProperty))
    ctx.foreach(_.setLocalProperty(SpanProperty, id.toString))
    val start = System.nanoTime()
    selfNanos.addAndGet(start - t0)
    try body
    finally {
      val end = System.nanoTime()
      current.set(parent)
      ctx.foreach(_.setLocalProperty(SpanProperty, prev.orNull))
      spans.add(Span(id, name, parent, request, start, end))
      selfNanos.addAndGet(System.nanoTime() - end)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Every job, with the launcher resolved: adaptive execution runs query
    * stages (and the final write of a command) on pool threads that carry
    * no engine frame, so such a job takes the launcher its SQL execution
    * started at; a job whose execution started with no engine frame on the
    * stack (the benchmark itself took the action on a frame the engine
    * returned) takes the module of the span around that engine call. */
  def allJobs: Seq[Job] = Listener.synchronized {
    val spanNames = allSpans.map(s => s.id -> s.name).toMap
    jobs.values.filter(_.module == Unknown).foreach { j =>
      executions.get(j.execution).filter(_._1 != Unknown) match {
        case Some((m, f)) => j.module = m; j.function = f
        case None => spanNames.get(j.span).foreach(n => j.module = Layers.moduleOfSpan(n))
      }
    }
    jobs.values.toSeq
  }

  val Unknown = "other"

  /** Module and function of the first engine frame in a long call site. */
  def launcher(callSite: String): (String, String) =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) =>
        val qualified = frame.takeWhile(_ != '(')          // graft.a.B$.m
        val method = qualified.substring(qualified.lastIndexOf('.') + 1)
        val cls = qualified.substring(0, qualified.lastIndexOf('.'))
        val parts = cls.split('.')
        val module = if (parts.length > 2) parts(1) else "cli"
        val simple = parts.last.takeWhile(_ != '$')
        (module, s"$simple.${method.stripPrefix("$anonfun$").takeWhile(_ != '$')}")
      case None => (Unknown, Unknown)
    }

  private object Listener extends SparkListener {
    private def timed(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try synchronized(f)
      finally selfNanos.addAndGet(System.nanoTime() - t0)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty))).map(_.toLong)
        .getOrElse(0L)
      val execution = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.root.id"))
          .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong).getOrElse(-1L)
      // the result stage carries the submitting call site; earlier stages
      // carry where their RDDs were created
      val details = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
      val (module, function) = launcher(details)
      val job = new Job(e.jobId, span, execution, module, function, System.nanoTime(),
        details.linesIterator.take(3).mkString(" | "))
      jobs(e.jobId) = job
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => timed {
        executions(x.rootExecutionId.getOrElse(x.executionId)) =
          executions.getOrElse(x.rootExecutionId.getOrElse(x.executionId), launcher(x.details))
      }
      case _ =>
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.end = System.nanoTime())
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val failed = e.reason != TaskSuccess
      if (failed) stageToJob.get(e.stageId).flatMap(jobs.get)
        .foreach(_.failedTasks += 1)
      stageTasks(e.stageId) = stageTasks.getOrElse(e.stageId, 0) + 1
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val info = e.stageInfo
      for (jobId <- stageToJob.get(info.stageId); job <- jobs.get(jobId)) {
        job.stages += 1
        job.tasks += stageTasks.remove(info.stageId).getOrElse(0)
        Option(info.taskMetrics).foreach { m =>
          job.taskMs += m.executorRunTime
          job.cpuMs += m.executorCpuTime / 1e6
          job.gcMs += m.jvmGCTime
          job.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          job.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          job.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          job.inputBytes += m.inputMetrics.bytesRead
          job.inputRecords += m.inputMetrics.recordsRead
          job.outputBytes += m.outputMetrics.bytesWritten
          job.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  /** Children of every span, for self-time and subtree queries. */
  private def childrenOf(all: Seq[Span]): Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** Ids of `root` and every span below it. */
  def subtree(root: Span, all: Seq[Span]): Set[Long] = {
    val kids = childrenOf(all)
    def walk(s: Span): Seq[Long] = s.id +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root).toSet
  }

  /** Total length of the union of `[start, end)` intervals, in ns. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Span duration minus the part of it its child spans cover, in ms. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.start.max(s.start), k.end.min(s.end)))
    (s.end - s.start - covered(kids)) / 1e6
  }

  /** Time inside the spans during which none of `js` was running, in ms. */
  def driverMs(roots: Seq[Span], js: Seq[Job]): Double = roots.map { s =>
    val inside = js.filter(j => j.end > s.start && j.start < s.end)
      .map(j => (j.start.max(s.start), j.end.min(s.end)))
    (s.end - s.start - covered(inside)) / 1e6
  }.sum

  /** Write the span file and the per-span-name rollup (self times, jobs,
    * task counters) as JSON lines under `dir`. */
  def write(dir: java.nio.file.Path): Unit = {
    import Json._
    java.nio.file.Files.createDirectories(dir)
    val all = allJobs
    val ss = allSpans
    val t0 = ss.headOption.map(_.start).getOrElse(0L)
    val byId = ss.map(s => s.id -> s).toMap
    val jobsBySpan = all.groupBy(_.span)
    val spanLines = ss.map { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ms" -> (s.start - t0) / 1e6,
        "end_ms" -> (s.end - t0) / 1e6, "jobs" -> js.size,
        "stages" -> js.map(_.stages).sum,
        "task_ms" -> js.map(_.taskMs).sum, "cpu_ms" -> js.map(_.cpuMs).sum)
    }
    val jobLines = all.map { j =>
      obj("job" -> j.id, "span" -> j.span,
        "span_name" -> byId.get(j.span).map(_.name).getOrElse(""),
        "module" -> j.module, "function" -> j.function, "call_site" -> j.callSite,
        "start_ms" -> (j.start - t0) / 1e6, "end_ms" -> (j.end - t0) / 1e6,
        "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "task_ms" -> j.taskMs, "cpu_ms" -> j.cpuMs, "gc_ms" -> j.gcMs,
        "fetch_wait_ms" -> j.fetchWaitMs, "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes, "input_bytes" -> j.inputBytes,
        "output_bytes" -> j.outputBytes, "spill_bytes" -> j.spillBytes)
    }
    val rollup = ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, group) =>
      val js = group.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      obj("span" -> name, "count" -> group.size,
        "total_ms" -> group.map(s => (s.end - s.start) / 1e6).sum,
        "self_ms" -> group.map(selfMs(_, ss)).sum,
        "driver_ms" -> driverMs(group, js), "jobs" -> js.size,
        "stages" -> js.map(_.stages).sum, "task_ms" -> js.map(_.taskMs).sum,
        "cpu_ms" -> js.map(_.cpuMs).sum, "gc_ms" -> js.map(_.gcMs).sum)
    }
    val modules = all.groupBy(_.module).toSeq.sortBy(_._1).map { case (m, js) =>
      obj("module" -> m, "jobs" -> js.size, "stages" -> js.map(_.stages).sum,
        "job_ms" -> js.map(j => (j.end - j.start) / 1e6).sum,
        "task_ms" -> js.map(_.taskMs).sum, "cpu_ms" -> js.map(_.cpuMs).sum)
    }
    def lines(name: String, ls: Seq[String]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), ls.mkString("", "\n", "\n"))
    lines("spans.jsonl", spanLines)
    lines("jobs.jsonl", jobLines)
    lines("rollup.jsonl", rollup ++ modules)
  }
}
