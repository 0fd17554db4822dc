package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job budgets: the exact number of Spark jobs a body launches, for
  * specs that pin a job count so a change to it is made on purpose.
  *
  * Listener events arrive asynchronously, so the bus is drained with
  * `listenerBus.waitUntilEmpty()` (as Spark's own tests do; it is
  * `private[spark]`, hence this package) before the counting listener
  * is added and again after `body` returns. Nothing polls for a count
  * to settle.
  *
  * The count covers EVERY job the session starts while `body` runs,
  * not one job group: `Serving` and `SqlBackend` set their own groups
  * on their worker threads, so a group filter would miss exactly the
  * jobs a serving budget is about. The count is therefore exact only
  * while nothing else runs jobs in the session — which holds because
  * the forked test JVM runs suites one at a time (`build.sbt`: `Test /
  * fork := true` without parallel forked tests).
  */
object JobBudget {

  def count(spark: SparkSession)(body: => Any): Int = {
    val bus = spark.sparkContext.listenerBus
    bus.waitUntilEmpty()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      bus.waitUntilEmpty()
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}
