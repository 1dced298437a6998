package graft

import graft.streaming.{EventStreams, RateIngest, StreamReplay}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rate-driven ingest twins (VERDICT r16 #2): the q107 band-index core and
  * the q61 exact-dedup core under an UNBOUNDED `rate-micro-batch` source —
  * sustained multi-batch arrival instead of the registered one-batch file
  * replay — must (a) produce results equal to the file-replay/batch path
  * on the same logical input, and (b) hold state at O(distinct keys)
  * regardless of how many arrival ticks delivered it.
  */
class RateSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))

  test("rate-driven band index equals the file-replay path and is multi-batch") {
    val docs = RateIngest.docsBySeq(spark, dir).cache()
    val n = docs.count()
    val mirror = StreamReplay.bandIndex(docs) // batch form of the same core
    val distinctBands = mirror.count()

    val (rateIdx, stats) = RateIngest.drainUntil(spark,
      StreamReplay.bandIndex(
        RateIngest.deliver(RateIngest.microBatchTicks(spark, 64), docs)),
      "rate_band_idx", "complete", targetInput = n)
    assert(stats.batches >= 4,
      s"the twin exists to exercise SUSTAINED multi-batch arrival, got " +
        s"${stats.batches} batches")
    assert(canon(rateIdx) === canon(mirror),
      "rate-driven band index must equal the batch mirror — the same " +
        "equality q107's oracle pins for the file replay")
    assert(stats.maxStateRows === distinctBands,
      s"state must be the band index itself: ${stats.maxStateRows} state " +
        s"rows vs $distinctBands distinct bands")
  }

  test("band-index state is O(distinct bands), independent of arrival count") {
    val docs = RateIngest.docsBySeq(spark, dir).cache()
    val n = docs.count()
    val mirror = StreamReplay.bandIndex(docs)
    val distinctBands = mirror.count()
    // every doc delivered 3x on consecutive ticks: 3n arrivals, same bands
    val (idx3, stats3) = RateIngest.drainUntil(spark,
      StreamReplay.bandIndex(
        RateIngest.deliver(RateIngest.microBatchTicks(spark, 192), docs,
          repeats = 3)),
      "rate_band_idx3", "complete", targetInput = 3 * n)
    assert(stats3.inputRows >= 3 * n)
    assert(stats3.maxStateRows === distinctBands,
      s"3x arrivals grew state to ${stats3.maxStateRows} rows — the index " +
        s"must stay O(distinct bands) = $distinctBands")
    // counts triple, keepers identical: arrivals inflate the gauge column
    // only, never the key space or the keeper choice
    assert(canon(idx3.select(col("band"), (col("n") / 3).cast("long").as("n"),
        col("keeper"))) === canon(mirror))
  }

  test("rate-driven exact dedup with planted duplicate arrivals equals the table") {
    val ev = RateIngest.eventsBySeq(spark, dir).cache()
    val n = ev.count()
    val outCols = Seq("event_id", "user_id", "event_type", "value")
    // each event arrives twice (adjacent ticks): 2n arrivals, n distinct
    val (deduped, stats) = RateIngest.drainUntil(spark,
      EventStreams.dedupEvents(
          RateIngest.deliver(RateIngest.microBatchTicks(spark, 256), ev,
            repeats = 2))
        .select(outCols.map(col): _*),
      "rate_dedup", "append", targetInput = 2 * n)
    assert(stats.batches >= 4)
    assert(stats.inputRows >= 2 * n,
      "the dup-arrival regime needs every duplicate actually delivered")
    assert(canon(deduped) === canon(ev.select(outCols.map(col): _*)),
      "first-occurrence-wins dedup over 2x arrivals must reproduce the " +
        "table exactly — q61's file-replay contract")
    assert(stats.maxStateRows <= n,
      s"dedup state must be O(distinct ids) <= $n, not O(arrivals) = " +
        s"${2 * n}; got ${stats.maxStateRows}")
  }
}
