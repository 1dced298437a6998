package graft.operators

import graft.functions.num._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time operators, batch forms (SURVEY §2.9 Q14/Q15). The streaming
  * twins live in graft.streaming and are asserted batch-equivalent in
  * StreamingSpec — the oracle here checks the shared semantics.
  */
object TimeWindows {

  /** Q14: tumbling 1-hour window × event_type. Uses the real window()
    * tumbling operator (not date_trunc) so the batch plan matches the
    * streaming one; emitted as epoch millis for a timezone-proof hash.
    */
  def q14(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        unix_millis(col("window.start")).as("bucket_ms"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_ms"), col("event_type"))

  /** Q15: sessionization — gap > 30 min starts a new session per user
    * (lag + cumulative-flag idiom). All work is windowed per user_id: one
    * shuffle, per-key state only, no driver involvement.
    *
    * The one shuffle is a RANGE exchange on user_id, placed before the
    * window: range partitioning on user_id satisfies the window's and the
    * session aggregate's clustering on it and the presentation sort's
    * (user_id, session_id) order, so all three run in the exchange's
    * reducers, and the exchange's bound-sampling job reads only the scan
    * projection. Without it the window hash-shuffles, the sort range-
    * shuffles again, and that second exchange's sampling job re-runs the
    * window and the aggregate.
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gapUs = 1800L * 1000000L
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        // integer division — `/` on LONG would go through double and lose
        // precision at 1e18-scale nano values
        expr("ts_ns DIV 1000").as("us"))
      .repartitionByRange(col("user_id"))
      .withColumn("new_session",
        when(col("us") - lag(col("us"), 1).over(byTime) > gapUs ||
          lag(col("us"), 1).over(byTime).isNull, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q40: sliding window (1 hour wide, 30-minute slide) × event_type — each
    * event lands in exactly 2 windows; Spark's window() expands them
    * directly, the oracle unnests the 2 candidate starts. Shares the exact
    * transform with the streaming twin (watermark is a no-op on batch).
    */
  def q40(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.slidingCounts(Tables.events(spark, dir))
      .orderBy(col("bucket_ms"), col("event_type"))

  /** q62: burst collapse (ingest debounce) — telemetry pipelines cap
    * repeated same-type events per user by keeping one row per burst: a
    * burst starts when the gap from the previous same-(user, type) event
    * exceeds 24 hours. The q15 lag+cumsum idiom with the type added to the
    * key — the window is (user, type)-partitioned, so at scale it shuffles
    * once on a key that grows with users, never globally.
    */
  val BurstGapUs: Long = 86400L * 1000000L

  def q62(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_ns DIV 1000").as("us"))
      .withColumn("nf",
        when(col("us") - lag(col("us"), 1).over(w) > BurstGapUs ||
          lag(col("us"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("burst_id",
        sum(col("nf")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("event_type"), col("burst_id"))
      .agg(min(col("us")).as("first_us"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"), col("event_type"), col("burst_id"))
  }


  /** Shared oracle for q40 and the streaming-replay q72 — both run the
    * identical slidingCounts transform (watermark is a no-op on batch), so
    * one SQL checks both execution paths.
    */
  val slidingOracleSql: String =
    s"""WITH e AS (
      |  SELECT event_type, value,
      |    epoch_ms(date_trunc('hour', ts)) +
      |      CASE WHEN minute(ts) >= 30 THEN 1800000 ELSE 0 END AS slot_ms
      |  FROM events
      |), w AS (
      |  SELECT event_type, value,
      |    unnest([slot_ms - 1800000, slot_ms]) AS bucket_ms
      |  FROM e)
      |SELECT bucket_ms, event_type, COUNT(*) AS n,
      |  ${sqlDsum("value")} AS sum_value
      |FROM w GROUP BY bucket_ms, event_type
      |ORDER BY bucket_ms, event_type""".stripMargin

  /** Shared oracle for q15 and the streaming-replay q70 — the stateful
    * sessionizer's drained result equals the batch lag-idiom sessions by
    * construction (same 30-minute-gap rule; StatefulSessionsSpec asserts the
    * equivalence on planted corpora, the gate hash-checks it on the fixture).
    */
  val sessionOracleSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN us - lag(us) OVER w > 1800000000
      |                   OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS nf
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |), sess AS (
      |  SELECT *, CAST(SUM(nf) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  MIN(us) AS start_us, MAX(us) AS end_us,
      |  MAX(us) - MIN(us) AS dur_us
      |FROM sess GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q62_burst_collapse", q62,
      Some(s"""WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN us - lag(us) OVER w > $BurstGapUs
        |                   OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS nf
        |  FROM e WINDOW w AS (
        |    PARTITION BY user_id, event_type ORDER BY us, event_id)
        |), b AS (
        |  SELECT *, CAST(SUM(nf) OVER (
        |    PARTITION BY user_id, event_type ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS burst_id
        |  FROM flagged)
        |SELECT user_id, event_type, burst_id,
        |  MIN(us) AS first_us, COUNT(*) AS n_events
        |FROM b GROUP BY user_id, event_type, burst_id
        |ORDER BY user_id, event_type, burst_id""".stripMargin)),
    QueryDef("q40_sliding_window", q40, Some(slidingOracleSql)),
    QueryDef("q14_tumbling_window", q14,
      Some(s"""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |  event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin)),
    QueryDef("q15_sessionization", q15, Some(sessionOracleSql)))

}
