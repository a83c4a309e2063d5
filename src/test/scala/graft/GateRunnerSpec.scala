package graft

import scala.jdk.CollectionConverters._

import graft.core.CacheScope
import graft.queries.Q

/** The gate runner's contract, on fake gates: a throw comes back as a
  * failure with the gate's scope still released, an RDD-level leak is
  * named by the sweep and removed, and a clean gate reports its seconds and
  * the persists it released. */
class GateRunnerSpec extends SparkSpec {

  private def persistentCount: Int = spark.sparkContext.getPersistentRDDs.size

  private def gate(body: => org.apache.spark.sql.DataFrame): Q = Q((_, _) => body)

  /** A gate-scoped persist, materialized so its RDD is registered. */
  private def pinned(n: Long) = {
    val df = CacheScope.gatePersist(spark.range(n).toDF("id"))
    df.count()
    df
  }

  test("a throwing gate is a failure and its scope is still released") {
    GateRunner.sweep(spark)
    val run = GateRunner.run(spark, gate {
      pinned(10)
      throw new IllegalStateException("boom")
    }, "unused")(GateRunner.noop)
    assert(run.failure.map(_.getMessage).contains("boom"))
    assert(run.released == 1)
    assert(persistentCount == 0)
    assert(GateRunner.sweep(spark).isEmpty)
  }

  test("a throw from the sink is a failure too") {
    GateRunner.sweep(spark)
    val run = GateRunner.run(spark, gate(pinned(5)), "unused")(
      _ => throw new RuntimeException("sink"))
    assert(run.failure.map(_.getMessage).contains("sink"))
    assert(run.released == 1)
    assert(persistentCount == 0)
  }

  test("sweep names an RDD persisted outside gatePersist and removes it") {
    GateRunner.sweep(spark)
    val run = GateRunner.run(spark, gate {
      val rdd = spark.sparkContext.parallelize(1 to 3).setName("leaky-rdd").cache()
      rdd.count()
      spark.range(3).toDF("id")
    }, "unused")(GateRunner.noop)
    assert(run.failure.isEmpty)
    assert(run.released == 0)
    assert(persistentCount == 1)
    assert(GateRunner.sweep(spark) == Seq("leaky-rdd"))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a clean gate returns its seconds and the persists it released") {
    GateRunner.sweep(spark)
    var rows = 0L
    val run = GateRunner.run(spark, gate {
      pinned(20).join(pinned(30), "id")
    }, "unused")(df => rows = df.count())
    assert(run.failure.isEmpty)
    assert(rows == 20)
    assert(run.seconds > 0)
    assert(run.released == 2)
    assert(GateRunner.sweep(spark).isEmpty)
  }

  test("measure keeps the prewarm out of the timed seconds") {
    GateRunner.sweep(spark)
    var prewarms = 0
    val sleepy = Q((s, _) => s.range(1).toDF("id"),
      prewarm = Some((_, _) => { prewarms += 1; Thread.sleep(300) }))
    val t = GateRunner.measure(spark, "sleepy", sleepy, "unused", "spec")
    assert(prewarms == 2) // before the warm run and before the timed run
    assert(t.failures.isEmpty)
    assert(t.seconds.size == 1)
    assert(t.median < 0.3)
  }

  test("measure records a throwing prewarm or run as a failure") {
    val bad = Q((_, _) => throw new IllegalStateException("run"),
      prewarm = Some((_, _) => throw new IllegalStateException("prewarm")))
    val t = GateRunner.measure(spark, "bad", bad, "unused", "spec", warmups = 1, reps = 2)
    assert(t.seconds.size == 2)
    assert(t.failures.map(_.getMessage) == Seq.fill(3)(Seq("prewarm", "run")).flatten)
    assert(GateRunner.sweep(spark).isEmpty)
  }

  test("measure names each run's jobs by gate and phase, then clears the group") {
    GateRunner.sweep(spark)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("spec#marker") => drained.countDown()
          case Some(g) => groups.add(g)
          case None => // another thread's job
        }
    }
    // a one-job prewarm; two jobs inside the gate, then the sink's
    val twoJobs = Q((s, _) => {
      sc.parallelize(1 to 4, 2).count()
      sc.parallelize(1 to 4, 2).count()
      s.range(4).toDF("id")
    }, prewarm = Some((_, _) => { sc.parallelize(1 to 2, 1).count(); () }))
    sc.addSparkListener(listener)
    try {
      val t = GateRunner.measure(spark, "two-jobs", twoJobs, "unused", "spec")
      assert(t.failures.isEmpty)
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
      sc.setJobGroup("spec#marker", "spec#marker")
      spark.range(1).collect()
      sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val byGroup = groups.asScala.toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(byGroup.keySet == Set("two-jobs#prewarm", "two-jobs#warm", "two-jobs#timed"), byGroup)
    assert(byGroup("two-jobs#prewarm") == 2, byGroup) // before the warm and the timed run
    assert(byGroup("two-jobs#warm") >= 2 && byGroup("two-jobs#warm") == byGroup("two-jobs#timed"),
      byGroup)
  }

  test("the gate selection matches any comma-separated substring") {
    val only = GateRunner.selects(Some("q_text,_daily"))
    assert(only("q_text_spans_within"))
    assert(only("q_weather_daily"))
    assert(!only("q_a9_ranked_summary"))
    assert(GateRunner.selects(None)("q_a9_ranked_summary"))
  }
}
