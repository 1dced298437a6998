package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Test harness for RateSourceSpec: rate-driven ingest twins for the
  * streaming tier (VERDICT r16 #2).
  *
  * The registered replays (q55/q61/q107/…) stream fixture FILES, and the
  * round-16 trigger-sizing probe measured their per-micro-batch commit
  * floor (~0.5 s) — but nothing had driven the stateful cores from an
  * UNBOUNDED source where arrival outpaces that floor, the regime the
  * sizing rule is for (a Kafka-shaped 100 TB/day feed never drains to
  * "done"; Spark sizes each micro-batch to whatever accumulated during the
  * previous commit). This module maps a `rate-micro-batch` arrival
  * process onto the fixture tables so the SAME stateful cores
  * ([[StreamReplay.bandIndex]], q61's exact dedup) run under sustained
  * arrival with real payloads:
  *
  *   - the rate source emits (timestamp, value) ticks, value = 0,1,2,…;
  *   - a stream-static join maps tick `value` (mod `cycles`·N) to the row
  *     with dense rank `seq` of the table — each row is delivered once per
  *     cycle, so `cycles` > 1 plants DUPLICATE ARRIVALS with later
  *     arrival times, exactly what ingest dedup state must absorb;
  *   - the drain helper polls streaming progress until the logical input
  *     is covered, then stops — an unbounded source never terminates, so
  *     "done" is a coverage condition, not source exhaustion.
  *
  * The seq-mapping is the HARNESS, not the production path: at 100 TB the
  * rate source stands in for the real broker and payloads arrive in the
  * message itself. What carries over unchanged is the stateful core and
  * its scale shape — state O(distinct keys) regardless of arrival count —
  * and results identical to the file-replay path on the same logical
  * input (asserted in RateSourceSpec). The wall-clock `rate` form's
  * backpressure measurements are recorded in SCALE.md.
  */
object RateIngest {

  /** Dense-rank keying off a PARALLEL global sort (r19): the frame is
    * range-sort-partitioned (every partition's rows precede the next
    * partition's), so `zipWithIndex` — which numbers rows partition by
    * partition in order — IS the 0-based dense rank, with no
    * single-partition funnel anywhere in the tree (the previous
    * `row_number().over(Window.orderBy(...))` planned an
    * `Exchange SinglePartition` over the whole table and was the last
    * WindowExec corpus-scale warning in the tree — VERDICT r18 #6). The
    * sort keys must be unique per row or the rank is tie-ambiguous.
    */
  private def bySeq(df: DataFrame, sort: Seq[org.apache.spark.sql.Column])
      : DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(sort: _*)
    val schema = org.apache.spark.sql.types.StructType(sorted.schema.fields :+
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** Documents keyed by dense rank (fixture-scale harness plumbing only;
    * see the scaladoc above).
    */
  def docsBySeq(spark: SparkSession, dir: String): DataFrame =
    bySeq(graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")), Seq(col("doc_id")))

  /** Events keyed by dense rank IN EVENT-TIME ORDER: arrival order must
    * track event time so the multi-batch watermark advances monotonically
    * and drops nothing — the same contract the single-batch file replay
    * gets for free. (ts, event_id) is unique per row.
    */
  def eventsBySeq(spark: SparkSession, dir: String): DataFrame =
    bySeq(graft.Tables.events(spark, dir)
      .select(col("ts"), col("event_id"), col("user_id"),
        col("event_type"), col("value")),
      Seq(col("ts"), col("event_id")))

  /** A deterministic arrival-tick stream: `rate-micro-batch` emits exactly
    * `rowsPerBatch` ticks per trigger with no wall-clock dependence, so a
    * spec's batch boundaries are reproducible.
    */
  def microBatchTicks(spark: SparkSession, rowsPerBatch: Int,
      numPartitions: Int = 2): DataFrame =
    spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch)
      .option("numPartitions", numPartitions)
      .load()

  /** Deliver `static`'s rows on the tick stream: tick v carries the row
    * with seq = v / repeats — each row arrives `repeats` times on
    * CONSECUTIVE ticks (adjacent duplicate arrivals stay inside any
    * event-time watermark, and arrival order still tracks seq order, so
    * the watermark advances monotonically exactly as in the single-batch
    * file replay). Ticks past `repeats`·N deliver nothing (the join
    * eliminates them), so the drained result is independent of WHERE the
    * unbounded source is stopped once coverage is reached. The static side
    * is small harness state — cache it so the per-batch re-plan doesn't
    * re-read parquet.
    */
  def deliver(ticks: DataFrame, static: DataFrame,
      repeats: Int = 1): DataFrame = {
    val s = static.cache()
    // drop the tick counter after deriving seq: the events table has its
    // own `value` column and the join result must not carry an ambiguous one
    // integer floor division (`div`), not double `/` + cast: the double
    // round-trip is exact only below 2^53 ticks and leans on truncation
    // semantics — `div` is exact over the whole long range (ADVICE r17)
    ticks.withColumn("seq", expr(s"value div ${repeats.toLong}"))
      .drop("value")
      .withColumnRenamed("timestamp", "arrival_ts")
      .join(s, "seq")
  }

  /** Drain stats: evidence the spec asserts on. `maxStateRows` is the
    * gauge over batches (state growth bound), `inputRows` the total ticks
    * consumed.
    */
  final case class DrainStats(batches: Long, inputRows: Long,
      maxStateRows: Long)

  /** Start `df` to a memory sink and poll progress until `targetInput`
    * ticks were consumed AND `settleBatches` further batches committed
    * (complete-mode sinks hold the LAST batch's full result, so the stop
    * must land after a batch that saw full coverage). Returns the drained
    * table + stats. Times out loudly rather than hanging a suite.
    */
  def drainUntil(spark: SparkSession, df: DataFrame, name: String,
      mode: String, targetInput: Long, settleBatches: Int = 2,
      timeoutMs: Long = 180000L): (DataFrame, DrainStats) =
    StreamReplay.withStatePartitions(spark) {
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try {
        // accumulate per-batch evidence keyed by batchId off
        // recentProgress (last ~100): batches committing between polls
        // must not be missed — a lastProgress-only poll undercounts input
        // and can miss the peak batch/state gauges
        val perBatch = scala.collection.mutable.LinkedHashMap[
          Long, (Long, Long)]() // batchId -> (inputRows, maxStateRows)
        var coveredAt = -1L
        val deadline = System.currentTimeMillis() + timeoutMs
        var done = false
        while (!done) {
          require(System.currentTimeMillis() < deadline,
            s"rate drain '$name' did not reach $targetInput ticks " +
              s"(+$settleBatches settle batches) in ${timeoutMs} ms — " +
              s"consumed ${perBatch.values.map(_._1).sum} over " +
              s"${perBatch.size} batches")
          Thread.sleep(50)
          q.recentProgress.foreach { p =>
            perBatch(p.batchId) = (p.numInputRows,
              p.stateOperators.map(_.numRowsTotal).foldLeft(0L)(math.max))
          }
          val input = perBatch.values.map(_._1).sum
          val lastBatch = perBatch.keys.foldLeft(-1L)(math.max)
          if (coveredAt < 0 && input >= targetInput) coveredAt = lastBatch
          done = coveredAt >= 0 && lastBatch >= coveredAt + settleBatches
        }
        q.stop()
        (spark.table(name),
          DrainStats(perBatch.size, perBatch.values.map(_._1).sum,
            perBatch.values.map(_._2).foldLeft(0L)(math.max)))
      } finally if (q.isActive) q.stop()
    }
}
