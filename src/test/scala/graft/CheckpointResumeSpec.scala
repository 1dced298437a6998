package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Exactly-once restart semantics — the ops property a production stream
  * lives on: a query that stops and restarts from its checkpoint must
  * process only the files that arrived while it was down, emitting no
  * duplicates and losing nothing. Driven end-to-end through the REAL file
  * source → watermarked dedup → parquet sink path (the q61 shape with a
  * durable sink), not a memory harness.
  */
class CheckpointResumeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("file-stream restart from checkpoint is exactly-once") {
    TestSpark.withTemp { work =>
      val srcDir = s"$work/src"
      val sinkDir = s"$work/sink"
      val ckptDir = s"$work/ckpt"

      val events = Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      // Split by event TIME, not id: the restored watermark survives the
      // restart, so data arriving while the query was down must carry event
      // times at/after it (as a real stream does) — an id-interleaved split
      // would be dropped as late by the dedup state, by design.
      val cut = events.agg(expr("percentile(unix_micros(ts), 0.5)")).head().getDouble(0).toLong
      val (first, second) = (events.filter(unix_micros(col("ts")) < cut),
        events.filter(unix_micros(col("ts")) >= cut))
      // flat landing directory: arriving data = new part-files appended to it
      first.write.parquet(srcDir)

      def runOnce(): Unit = {
        val q = spark.readStream.schema(first.schema).parquet(srcDir)
          .withWatermark("ts", EventStreams.Lateness)
          .dropDuplicatesWithinWatermark("event_id")
          .writeStream.format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }

      runOnce() // drain batch 1, stop — checkpoint records progress
      val afterFirst = spark.read.parquet(sinkDir).count()
      assert(afterFirst === first.count())

      second.write.mode("append").parquet(srcDir) // arrives while down
      runOnce() // restart from the SAME checkpoint

      val out = spark.read.parquet(sinkDir)
      assert(out.count() === events.count(), "restart lost or duplicated rows")
      assert(out.select(col("event_id")).distinct().count() === events.count(),
        "restart emitted duplicate event_ids")
    }
  }

  /** q108's append contract across a restart: a (window, cell) row emits
    * EXACTLY ONCE over the query's whole lifetime, checkpoint restarts
    * included — the property that makes the windowed monitor's output an
    * incremental feed (a downstream consumer never reconciles re-emissions).
    * Driven through the shared `windowedCellMonitor` core with a durable
    * parquet sink: run 1 closes hour 0 and stops; later-hour files arrive
    * while the query is down; run 2 resumes from the checkpoint, must NOT
    * re-emit hour 0, and must flush everything else, landing exactly at the
    * batch mirror of all on-time data.
    */
  test("windowed append restart emits each window exactly once") {
    TestSpark.withTemp { work =>
      import spark.implicits._
      val srcDir = s"$work/src"
      val sinkDir = s"$work/sink"
      val ckptDir = s"$work/ckpt"

      val quant = operators.FlatQuantizer(
        Array(Array(1.0, 0.0), Array(0.0, 1.0)))
      val centroidDf = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
        .toDF("cell", "c")
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // run-1 data: hours 0 and 2 (watermark after run 1 = 01:30, closing
      // ONLY hour 0); run-2 data: hour 3 plus a far-future flush row whose
      // own window stays open
      val first = Seq(
        (ts("2024-01-01 00:10:00"), Seq(1.0, 0.0)),
        (ts("2024-01-01 00:40:00"), Seq(0.0, 1.0)),
        (ts("2024-01-01 02:00:00"), Seq(1.0, 0.0)))
      val second = Seq(
        (ts("2024-01-01 03:20:00"), Seq(0.0, 1.0)),
        (ts("2100-01-01 00:00:00"), Seq(1.0, 0.0)))
      first.toDF("ts", "v").write.parquet(srcDir)
      val schema = spark.read.parquet(srcDir).schema

      def runOnce(): Unit = {
        val q = streaming.StreamReplay.windowedCellMonitor(
            spark.readStream.schema(schema).parquet(srcDir), quant, centroidDf)
          .select(col("window.start").as("wstart"), col("cell"), col("n"),
            col("sum_cos_e6"))
          .writeStream.format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckptDir)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally q.stop()
      }

      runOnce()
      val afterFirst = spark.read.parquet(sinkDir)
        .collect().map(r => (r.getTimestamp(0), r.getInt(1), r.getLong(2)))
      assert(afterFirst.length === 2, "run 1 must close exactly hour 0 (2 cells)")
      assert(afterFirst.forall(_._1 === ts("2024-01-01 00:00:00")))

      second.toDF("ts", "v").write.mode("append").parquet(srcDir)
      runOnce()

      val out = spark.read.parquet(sinkDir)
        .filter(col("wstart") < ts("2099-01-01 00:00:00"))
      // exactly-once per window: no (window, cell) appears twice
      assert(out.count() ===
        out.select(col("wstart"), col("cell")).distinct().count(),
        "restart re-emitted a closed window")
      // and the final feed equals the batch mirror of all on-time data
      val expected = streaming.StreamReplay.windowedCellMonitor(
          (first ++ second).toDF("ts", "v"), quant, centroidDf)
        .select(col("window.start").as("wstart"), col("cell"), col("n"),
          col("sum_cos_e6"))
        .filter(col("wstart") < ts("2099-01-01 00:00:00"))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))
      assert(canon(out) === canon(expected))
    }
  }
}
