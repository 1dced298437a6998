package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Scheduler and executor counts per Spark job, from the listener bus.
  *
  * A job is placed inside the benchmark's spans by its start time (the
  * client is a single closed loop, so at most one operation is open at any
  * instant); `run.py` does that placement when it reads the trace.
  */
private final class Tracer extends SparkListener {
  private final class Job(val id: Int, val startMs: Long, val stages: Set[Int]) {
    @volatile var endMs: Long = -1L
    val ran = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicLongArray(Counter.n)
  }
  private object Counter {
    val Tasks = 0; val CpuNs = 1; val RunMs = 2; val GcMs = 3
    val ShuffleWrite = 4; val ShuffleRead = 5; val Spill = 6; val Input = 7
    val Output = 8
    val n = 9
    val names = Seq("tasks", "cpu_ns", "run_ms", "gc_ms", "shuffle_write_b",
      "shuffle_read_b", "spill_b", "input_b", "output_b")
  }
  private val jobsById = new ConcurrentHashMap[Int, Job]()
  private val jobOfStage = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new Job(e.jobId, e.time, e.stageIds.toSet)
    jobsById.put(e.jobId, j)
    e.stageIds.foreach(s => jobOfStage.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(jobOfStage.get(e.stageInfo.stageId))
      .foreach(_.ran.add(e.stageInfo.stageId))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(jobOfStage.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet(Counter.Tasks)
      val m = e.taskMetrics
      if (m != null) {
        j.tasks.addAndGet(Counter.CpuNs, m.executorCpuTime)
        j.tasks.addAndGet(Counter.RunMs, m.executorRunTime)
        j.tasks.addAndGet(Counter.GcMs, m.jvmGCTime)
        j.tasks.addAndGet(Counter.ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
        j.tasks.addAndGet(Counter.ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
        j.tasks.addAndGet(Counter.Spill, m.diskBytesSpilled)
        j.tasks.addAndGet(Counter.Input, m.inputMetrics.bytesRead)
        j.tasks.addAndGet(Counter.Output, m.outputMetrics.bytesWritten)
      }
    }

  /** Every job seen so far, oldest first. */
  def jobs: Seq[Json] = jobsById.values.asScala.toSeq.sortBy(_.id).map { j =>
    val o = new Json
    o("id") = j.id
    o("start_ms") = j.startMs
    o("end_ms") = j.endMs
    o("stages") = j.ran.size
    Counter.names.zipWithIndex.foreach { case (k, i) => o(k) = j.tasks.get(i) }
    o
  }
}
