package graft

import java.nio.file.Files

import scala.reflect.io.Directory

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One shared session for all suites — same Sessions.local recipe as the
  * driver's Verify/Bench entry points, so test semantics can't drift.
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test")

  /** The lambda token list that `text.cleanTokens` natively replaces: the
    * built-in lower() split on non-alphanumeric runs, its empty edges
    * filtered out by a lambda. The reference the native tokenizer is
    * checked against.
    */
  def lambdaTokens(t: Column): Column = {
    import org.apache.spark.sql.functions.{filter, lit, lower, split}
    filter(split(lower(t), "[^a-z0-9]+"), _ =!= lit(""))
  }

  /** `f`'s value over a new directory under `java.io.tmpdir`, deleted with
    * everything in it when `f` returns or throws: a spec that needs
    * several directories makes them inside this one.
    */
  def withTemp[T](f: String => T): T = {
    val d = Files.createTempDirectory("graft-test").toString
    try f(d)
    finally new Directory(new java.io.File(d)).deleteRecursively()
  }

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

  /** A physical plan as planned before execution: every adaptive node,
    * subqueries included, replaced by its initial plan. After execution
    * an adaptive node prints its final AND its initial plan, so operator
    * counts over the executed form would double.
    */
  def initialPlan(p: SparkPlan): SparkPlan =
    p.transformDownWithSubqueries { case a: AdaptiveSparkPlanExec => a.initialPlan }

  /** `body`'s value and the initial physical plan of every action it ran
    * (eager checkpoints and collects included), in completion order — the
    * plans a frame's own `queryExecution` no longer shows once a
    * checkpoint has cut its lineage.
    */
  def plansOf[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(initialPlan(qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val out = drained(spark.listenerManager.register(listener),
      spark.listenerManager.unregister(listener))(body)
    (out, plans.toArray(Array.empty[SparkPlan]).toSeq)
  }

  /** `body`'s value and the progress event of every micro-batch the
    * streaming queries it ran completed.
    */
  def progressOf[T](body: => T): (T, Seq[StreamingQueryProgress]) = {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        events.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val out = drained(spark.streams.addListener(listener),
      spark.streams.removeListener(listener))(body)
    (out, events.toArray(Array.empty[StreamingQueryProgress]).toSeq)
  }

  /** Runs `body` between `add` and `remove`, draining the listener bus
    * before the listener goes on, so no event an earlier action posted
    * reaches it late, and before it comes off, so every event `body`
    * posted arrives.
    */
  private def drained[T](add: => Unit, remove: => Unit)(body: => T): T = {
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    add
    try body
    finally {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      remove
    }
  }
}
