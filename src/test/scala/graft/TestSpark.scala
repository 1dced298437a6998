package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared session for all suites — same Sessions.local recipe as the
  * driver's Verify/Bench entry points, so test semantics can't drift.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test")

  /** Jobs started by `body` on this thread, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val group = s"jobs-of-${System.nanoTime()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsOf")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}
