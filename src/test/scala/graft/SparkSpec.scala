package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared local session for all suites (one JVM-wide session keeps the
  * battery fast; suites must not mutate session state). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("graft-test", cores = "4", partitions = "4")
    // the engine's native expressions (slugify, hamming64, vec_*) are part
    // of the surface under test — register once for every suite
    GraftExtensions.register(s)
    s
  }

  /** What a block of code launched: its Spark jobs and the executed
    * plans of its SQL executions, each with the action that ran it. */
  final case class Launched(jobs: Int, plans: Seq[(String, SparkPlan)])

  private val TagKey = "graft.spec.tag"

  /** Run `body` on this thread and record what it launched. Listener events
    * arrive asynchronously but in order, so a marker query is run after
    * `body` and awaited: once it is seen, every earlier event has been. */
  def launched(spark: SparkSession)(body: => Unit): Launched = {
    val sc = spark.sparkContext
    val (tag, markerTag) = (UUID.randomUUID().toString, UUID.randomUUID().toString)
    val marker = spark.range(1).toDF()
    val jobsSeen = new CountDownLatch(1)
    val plansSeen = new CountDownLatch(1)
    var jobs = 0
    val plans = mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(TagKey)).foreach {
          case `tag` => jobs += 1
          case `markerTag` => jobsSeen.countDown()
          case _ =>
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq marker.queryExecution) plansSeen.countDown()
        else plans.synchronized(plans += action -> qe.executedPlan)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val previous = sc.getLocalProperty(TagKey)
    try {
      sc.setLocalProperty(TagKey, tag)
      body
      sc.setLocalProperty(TagKey, markerTag)
      marker.collect()
      assert(jobsSeen.await(60, TimeUnit.SECONDS) && plansSeen.await(60, TimeUnit.SECONDS),
        "listener events did not arrive")
      Launched(jobs, plans.synchronized(plans.toList))
    } finally {
      sc.setLocalProperty(TagKey, previous)
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
