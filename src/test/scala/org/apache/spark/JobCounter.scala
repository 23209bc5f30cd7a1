package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only: counts the Spark jobs a block starts on the calling
  * thread (by job group, so other suites' jobs stay out). Lives in
  * org.apache.spark for the private[spark] listener-bus drain, which
  * makes the count complete when the block returns.
  */
object JobCounter {
  def jobsDuring[A](sc: SparkContext)(f: => A): (A, Int) = {
    val group = s"job-counter-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val r = try f finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
