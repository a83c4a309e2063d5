package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._

import scala.collection.mutable

import graft.core.GraftSession

/** Per-job / per-stage breakdown for one inventory query — the
  * empirical half of the optimization loop (guide §1.1) where the UI is
  * unavailable. Runs the gate through [[GateRunner.measure]] (two warm
  * runs, one timed run) and prints, for the jobs of the `<gate>#timed` job
  * group: every job (wall ms, description) and every stage (task-time sum,
  * input bytes, shuffle read/write bytes, peak task count).
  *
  * Usage: SPARK_GRAFT_CPUS=16 sbt "runMain graft.ProfileOne q_name [sfDir]"
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.local("graft-profile", cpus, cpus)

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = 0L,
                      stages: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer())
    case class StageRec(id: Int, nm: String, taskMs: Long, inB: Long,
                        srB: Long, swB: Long, nTasks: Int, spill: Long,
                        cpuMs: Long, gcMs: Long)
    val jobs = mutable.ArrayBuffer[JobRec]()
    val stages = mutable.Map[Int, StageRec]()
    val details = mutable.Map[Int, String]()
    val timedStages = mutable.Set[Int]()
    val timedGroup = s"$name#timed"
    val markerGroup = s"$name#marker"
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop("spark.jobGroup.id") match {
          case Some(`timedGroup`) =>
            val r = JobRec(e.jobId, prop("spark.job.description").getOrElse(""),
              System.nanoTime())
            r.stages ++= e.stageIds
            jobs.synchronized { jobs += r }
            stages.synchronized { timedStages ++= e.stageIds }
          case Some(`markerGroup`) => drained.countDown()
          case _ =>
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = System.nanoTime())
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stages.synchronized(timedStages(e.stageInfo.stageId))) {
          val si = e.stageInfo
          val m = si.taskMetrics
          val where = si.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
            .map(_.trim.stripPrefix("at ").take(60))
            .getOrElse(si.name.takeWhile(_ != '\n').take(60))
          stages.synchronized {
            if (m.executorRunTime > 3000) details(si.stageId) = si.details
            stages(si.stageId) = StageRec(si.stageId,
              where,
              m.executorRunTime, m.inputMetrics.bytesRead,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten,
              si.numTasks, m.memoryBytesSpilled,
              m.executorCpuTime / 1000000, m.jvmGCTime)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    val q = SparkEntry.inventory.toMap.apply(name)
    // two warm runs (fresh JVM): codegen + JIT
    val timing = GateRunner.measure(spark, name, q, sfDir, "profile", warmups = 2, reps = 1)
    timing.failures.headOption.foreach(e => throw e)
    val secs = timing.median
    // listener events arrive asynchronously but in order: once a job
    // started after the timed run is seen, so is every timed job and stage
    spark.sparkContext.setJobGroup(markerGroup, markerGroup)
    spark.range(1).collect()
    spark.sparkContext.clearJobGroup()
    require(drained.await(60, TimeUnit.SECONDS), "listener events did not arrive")
    println(f"%nTIMED RUN: $name = $secs%.3f s%n")
    println(f"${"job"}%4s ${"wall_ms"}%8s  desc / stages")
    jobs.foreach { j =>
      val w = if (j.end > 0) (j.end - j.start) / 1e6 else -1.0
      val st = j.stages.toSeq.sorted.flatMap(stages.get).map { s =>
        f"[s${s.id} ${s.nm} task=${s.taskMs}ms cpu=${s.cpuMs}ms gc=${s.gcMs}ms " +
          f"in=${s.inB / 1024 / 1024}MB sr=${s.srB / 1024}KB sw=${s.swB / 1024}KB n=${s.nTasks}" +
          (if (s.spill > 0) f" SPILL=${s.spill / 1024 / 1024}MB" else "") + "]"
      }.mkString(" ")
      println(f"${j.id}%4d ${w}%8.1f  ${j.desc.take(40)} $st")
    }
    val totalTask = stages.values.map(_.taskMs).sum
    println(f"%njobs=${jobs.size} stages=${stages.size} " +
      f"sum(taskMs)=$totalTask wall=${secs}%.3f s")
    if (sys.env.contains("SPARK_GRAFT_PROFILE_DETAILS")) {
      details.toSeq.sortBy(_._1).foreach { case (id, det) =>
        println(s"---- stage $id details ----")
        println(det.linesIterator.take(12).mkString("\n"))
      }
    }
    spark.stop()
  }
}
