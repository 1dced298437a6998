package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{CurationRun, Sessions, SparkEntry, Tables}

/** The JVM side of the benchmark: one closed-loop client on one session.
  *
  * Each operation is timed from outside the engine, around its public
  * entry points only: `SparkEntry.queries(name)(spark, dir)` (build), the
  * returned frame's `queryExecution.executedPlan` (plan) and the action
  * (execute), or one `CurationRun.run` call for the `curate` workload.
  * The run is: set-up, one cold pass that writes every output for the
  * correctness check done in `run.py`, then warm passes into a no-op sink
  * until the measured window closes.
  *
  * With `--trace 1` a [[Tracer]] listener records jobs, stages and task
  * metrics. It is attached to the cold pass and to every other warm pass,
  * so the untraced warm passes of the same run give the tracing overhead.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --tables t,... [--queries q,...]
  * Writes `<work>/result.json`: set-up time, every span, the traced jobs,
  * peak RSS, the heap size and the JVM flags.
  */
object Harness {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val data = args("data")
    val work = new File(args("work"))
    val seconds = args("seconds").toDouble
    val trace = args.get("trace").contains("1")
    def list(k: String) = args.get(k).toSeq.flatMap(_.split(','))
      .filter(_.nonEmpty)
    val queries = list("queries")
    work.mkdirs()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = new Json
    result("main_s") = sinceStart
    val spark = Sessions.local(s"perfbench-$workload")
    result("session_s") = sinceStart
    list("tables").foreach(t => Tables(spark, data, t).count())
    result("setup_s") = sinceStart

    val tracer = new Tracer
    var passNo = 0
    val passes = ArrayBuffer.empty[Span]

    /** One pass over the workload. Every operation becomes a span with
      * build/plan/execute children; `traced` attaches the listener. */
    def pass(kind: String, traced: Boolean): Unit = {
      passNo += 1
      if (traced) spark.sparkContext.addSparkListener(tracer)
      val c0 = Codegen.snapshot()
      val p = new Span(s"pass$passNo", kind, None)
      /** One operation; a throw is recorded on its span, not fatal. */
      def op(name: String)(body: Span => Unit): Unit = {
        val q = new Span(name, "query", Some(p))
        try body(q)
        catch { case e: Throwable => q("error") = String.valueOf(e) }
        finally q.end()
      }
      if (workload == "curate") {
        val out = new File(work, s"curate/pass$passNo")
        op("curate") { q =>
          val b = new Span("run", "build", Some(q))
          CurationRun.run(spark, data, out.getPath)
          b.end()
        }
        // the write path, measured on disk from outside the engine
        val files = walk(out).filterNot(_.getName.endsWith(".crc"))
        p("output_files") = files.size
        p("output_mb") = files.map(_.length).sum / 1e6
        if (passNo > 2) deleteTree(new File(work, s"curate/pass${passNo - 2}"))
      } else {
        for (name <- queries) op(name) { q =>
          val b = new Span("build", "build", Some(q))
          val df = SparkEntry.queries(name)(spark, data)
          b.end()
          val pl = new Span("plan", "plan", Some(q))
          df.queryExecution.executedPlan
          pl.end()
          val e = new Span("execute", "execute", Some(q))
          // The cold pass writes each output as graft.Verify does, for the
          // correctness check; warm passes run the action into a no-op sink.
          if (kind == "cold") df.coalesce(1).write.mode("overwrite")
            .parquet(new File(work, s"check/$name").getPath)
          else df.write.mode("overwrite").format("noop").save()
          e.end()
        }
      }
      p.end()
      val c1 = Codegen.snapshot()
      if (traced) {
        org.apache.spark.graft.ListenerBridge.waitUntilEmpty(
          spark.sparkContext, 60000L)
        spark.sparkContext.removeSparkListener(tracer)
      }
      p("traced") = traced
      p("compile_n") = c1._1 - c0._1
      p("compile_ms") = (c1._2 - c0._2) / 1e6
      p("jit_ms") = c1._3 - c0._3
      passes += p
    }

    pass("cold", trace)
    // Warm passes while the next one (as long as the average) still fits
    // the window. A traced run alternates untraced and traced passes, at
    // least three, so the tracing overhead is read against both neighbours.
    val window = System.nanoTime()
    var warm = 0
    def elapsed = (System.nanoTime() - window) / 1e9
    while (warm < (if (trace) 3 else 1) ||
        elapsed + elapsed / warm <= seconds) {
      pass("warm", trace && warm % 2 == 1)
      warm += 1
    }
    result("window_s") = elapsed
    result("passes") = passes.toSeq
    // the last pass's manifest, for the correctness check in run.py
    if (workload == "curate")
      result("curate_manifest") = graft.sources.Artifacts.resolve(spark,
        new File(work, s"curate/pass$passNo").getPath) + "/manifest"
    val oracle = new Json
    SparkEntry.oracleSql.foreach { case (k, v) => oracle(k) = v }
    result("oracle_sql") = oracle
    if (trace) result("jobs") = tracer.jobs
    finish(spark, work, result)
  }

  private def finish(spark: SparkSession, work: File, result: Json): Unit = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwm = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally status.close()
    result("peak_rss_mb") = hwm
    result("heap_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getCommitted / 1048576.0
    result("cores") = spark.sparkContext.defaultParallelism
    result("jvm_flags") = ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.toSeq.map(_.toString)
    spark.stop()
    Files.write(Paths.get(work.getPath, "result.json"),
      result.render.getBytes(UTF_8))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Compile work so far: janino compiles (count, nanoseconds) and the
  * JVM's JIT compile time (milliseconds). */
private object Codegen {
  def snapshot(): (Long, Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .compileTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
}

/** A span kept in memory: pass → query → {build, plan, execute}. Start
  * and end are epoch milliseconds, so listener job times (epoch ms) can be
  * placed inside them; the duration is measured in nanoseconds. */
private final class Span(name: String, kind: String, parent: Option[Span])
    extends Json {
  private val startNs = System.nanoTime()
  private val children = ArrayBuffer.empty[Span]
  this("name") = name
  this("kind") = kind
  this("start_ms") = System.currentTimeMillis()
  parent.foreach(_.children += this)

  def end(): Unit = {
    this("wall_s") = (System.nanoTime() - startNs) / 1e9
    this("end_ms") = System.currentTimeMillis()
    if (children.nonEmpty) this("children") = children.toSeq
  }
}

/** A minimal ordered JSON object writer (the result file is flat data). */
private class Json {
  private val fields = ArrayBuffer.empty[(String, Any)]
  def update(k: String, v: Any): Unit = {
    val i = fields.indexWhere(_._1 == k)
    if (i >= 0) fields(i) = k -> v else fields += k -> v
  }
  def render: String = Json.value(this)
}

private object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case j: Json => j.fields.map { case (k, x) => str(k) + ":" + value(x) }
      .mkString("{", ",", "}")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
}
