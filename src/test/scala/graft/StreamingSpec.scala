package graft

import java.sql.Timestamp

import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Batch-equivalence for the streaming tier (SURVEY M6): each EventStreams
  * transform applied to a replayed MemoryStream of the sf0.001 events must
  * produce exactly the rows the same transform produces on the static table.
  */
case class Ev(ts: Timestamp, event_id: Long, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Rows held in state across a drain's micro-batches: numRowsTotal is a
    * gauge, so its max over batches per stateful operator, summed over the
    * operators.
    */
  private def stateRows(
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Long =
    progress.flatMap(_.stateOperators.toSeq)
      .groupBy(_.operatorName)
      .values.map(_.map(_.numRowsTotal).max).sum

  private def staticEvents: DataFrame =
    Tables.events(spark, dir)
      .select(col("ts"), col("event_id"), col("user_id"),
        col("event_type"), col("value"))

  /** Run a streaming transform over the full event replay and return the
    * complete result (complete/append mode drained to memory sink).
    */
  private def runStream(name: String, mode: String,
      f: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = staticEvents.as[Ev].collect().toSeq
    val stream = MemoryStream[Ev]
    // two batches so the query sees multiple micro-batches + a final drain
    val (b1, b2) = rows.splitAt(rows.size / 2)
    stream.addData(b1)
    val q = f(stream.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector
      .sortBy(_.mkString("|"))

  test("streaming tumbling window equals batch on full replay") {
    val streamed = runStream("tumbling_complete", "complete",
      EventStreams.tumblingCounts)
    val batch = EventStreams.tumblingCounts(staticEvents)
    assert(canon(streamed) === canon(batch))
    assert(streamed.count() > 0)
  }

  test("streaming sliding window equals the oracle-checked batch q40") {
    val streamed = runStream("sliding_complete", "complete",
      EventStreams.slidingCounts)
    val batch = operators.TimeWindows.q40(spark, dir)
    assert(canon(streamed) === canon(batch))
  }

  test("streaming sessionization equals batch on full replay") {
    val streamed = runStream("sessions_complete", "complete",
      EventStreams.sessionize)
    val batch = EventStreams.sessionize(staticEvents)
    assert(canon(streamed) === canon(batch))
  }

  test("streaming session windows match the batch lag-idiom sessions (q15)") {
    val streamed = runStream("sessions_q15", "complete", EventStreams.sessionize)
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
    val q15 = operators.TimeWindows.q15(spark, dir)
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
    assert(canon(streamed) === canon(q15))
  }

  test("stream-stream range join matches the batch binned range join pairs") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = staticEvents.as[Ev].collect().sortBy(_.ts.getTime).toSeq
    val stream = MemoryStream[Ev]
    val (b1, b2) = rows.splitAt(rows.size / 2)
    stream.addData(b1)
    val q = EventStreams.clicksBeforePurchase(stream.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ss_join")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch reference: same join computed statically
    val batch = EventStreams.clicksBeforePurchase(staticEvents)
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // and pair counts agree with the oracle-checked q36 per-purchase counts
    val q36 = operators.Advanced.q36(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val counts = streamed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    q36.foreach { case (pid, n) =>
      assert(counts.getOrElse(pid, 0L) === n, s"purchase $pid")
    }
  }

  /** The reference pipeline itself, streaming: corpus lines replayed as a
    * stream through the SAME normalize->group aggregation (SURVEY §2.8 maps
    * the reference's end-of-input broadcast to epoch/complete-mode
    * semantics). The drained stream must equal the batch word count.
    */
  test("streaming word count over the replayed corpus equals batch") {
    import graft.sources.{LineNumberedText, RawLine}
    import graft.operators.InvertedIndex
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val files = LineNumberedText.listTextFiles("/root/reference/testfiles")
    val lines = LineNumberedText.read(spark, files).collect().toSeq
    val stream = MemoryStream[RawLine]
    val (b1, b2) = lines.splitAt(lines.size / 2)
    def wordCount(df: DataFrame): DataFrame =
      InvertedIndex.postings(df)
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
    stream.addData(b1)
    val q = wordCount(stream.toDF())
      .writeStream.format("memory").queryName("stream_wc")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = canon(spark.table("stream_wc"))
    val batch = canon(wordCount(
      LineNumberedText.read(spark, files).toDF()))
    assert(streamed === batch)
    assert(streamed.size === 4135) // the golden distinct-word count
  }

  test("streaming dedup keeps one row per event_id") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = staticEvents.as[Ev].collect().toSeq
    val stream = MemoryStream[Ev]
    stream.addData(rows)
    stream.addData(rows.take(100)) // replayed duplicates
    val q = EventStreams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup_append")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_append")
    assert(got.count() === rows.size)
    assert(got.select("event_id").distinct().count() === rows.size)
  }

  /** q106 on a planted corpus: 16 distinct seed vectors (= the codebook),
    * exact copies landing on seeds 0 and 5, and one drifted arrival near
    * seed 3 — the monitor must count every cell's arrivals and show full
    * affinity (10⁶) exactly where members sit ON the centroid, and a
    * depressed mean exactly where the drifted arrival landed.
    */
  test("q106 streaming cell monitor: planted copies and a drifted arrival") {
    TestSpark.withTemp { d =>
      import spark.implicits._
      def ramp(i: Int): Seq[Float] = (0 until 8).map(j => (i * 8 + j).toFloat)
      val drifted = Seq(34f, 25f, 26f, 27f, 28f, 29f, 30f, 31f) // near seed 3
      val rows =
        (0 until 16).map(i => (i.toLong, ramp(i), 0)) ++
          Seq((16L, ramp(0), 0), (17L, ramp(5), 0), (18L, drifted, 0))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      val got = streaming.StreamReplay.q106(spark, d)
        .collect().map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got.size === 16)
      assert(got.values.map(_._1).sum === 19L)
      assert(got(0)._1 === 2L && got(0)._3 === 1000000L)
      assert(got(5)._1 === 2L && got(5)._3 === 1000000L)
      assert(got(3)._1 === 2L && got(3)._3 < 1000000L &&
        got(3)._2 < 2000000L)
      (got.keySet -- Set(0, 3, 5)).foreach { c =>
        assert(got(c)._1 === 1L && got(c)._3 === 1000000L, s"cell $c")
      }
    }
  }

  /** q108 on the q106 planted corpus REARRANGED across ingest windows: the
    * 16 seeds arrive in hour 0 (vec_ids 0–15 → minutes 0–15), the ramp(0)
    * copy at vec_id 60 and the drifted arrival at 61 land in hour 1, and
    * the ramp(5) copy at 120 lands in hour 2. Every real window must close
    * (sentinel flush) and carry exactly its own arrivals — the same
    * affinity semantics as q106, but bucketed.
    */
  test("q108 windowed drift monitor: planted arrivals bucket into their hours") {
    TestSpark.withTemp { d =>
      import spark.implicits._
      def ramp(i: Int): Seq[Float] = (0 until 8).map(j => (i * 8 + j).toFloat)
      val drifted = Seq(34f, 25f, 26f, 27f, 28f, 29f, 30f, 31f) // near seed 3
      val rows =
        (0 until 16).map(i => (i.toLong, ramp(i), 0)) ++
          Seq((60L, ramp(0), 0), (61L, drifted, 0), (120L, ramp(5), 0))
      rows.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      val base = streaming.StreamReplay.IngestEpochSec * 1000L
      val got = streaming.StreamReplay.q108(spark, d)
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(4)))).toMap
      assert(got.size === 19) // 16 hour-0 cells + (cells 0,3) hour 1 + cell 5 hour 2
      (0 until 16).foreach { c =>
        assert(got((base, c)) === ((1L, 1000000L)), s"hour-0 cell $c")
      }
      assert(got((base + 3600000L, 0)) === ((1L, 1000000L))) // the copy, ON its centroid
      val (n3, mean3) = got((base + 3600000L, 3))
      assert(n3 === 1L && mean3 < 1000000L) // the drifted arrival, depressed
      assert(got((base + 7200000L, 5)) === ((1L, 1000000L)))
    }
  }

  /** The watermark contract of q108's shared core, which the registered
    * single-micro-batch replay cannot exhibit: a second micro-batch's
    * arrival for a window the watermark already closed must be DROPPED at
    * the state store (never re-aggregated, never re-emitted), and the
    * emitted count for that window must stay what the on-time arrivals
    * made it. Driven through `windowedCellMonitor` directly with explicit
    * MemoryStream batch boundaries.
    */
  test("q108 core: late arrival past the watermark is dropped, not re-aggregated") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val quant = operators.FlatQuantizer(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val centroidDf = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell", "c")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = MemoryStream[(java.sql.Timestamp, Seq[Double])]
    // batch 1: two hour-0 arrivals on centroid 0, plus an hour-3 arrival
    // that advances the watermark to 02:30 (closing hour 0)
    stream.addData(Seq(
      (ts("2024-01-01 00:10:00"), Seq(1.0, 0.0)),
      (ts("2024-01-01 00:20:00"), Seq(1.0, 0.0)),
      (ts("2024-01-01 03:00:00"), Seq(0.0, 1.0))))
    val q = streaming.StreamReplay
      .windowedCellMonitor(stream.toDF().toDF("ts", "v"), quant, centroidDf)
      .writeStream.format("memory").queryName("q108_wm_probe")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE hour-0 arrival (event time < the 02:30 watermark)
      // and the far-future sentinel that closes the hour-3 window
      stream.addData(Seq(
        (ts("2024-01-01 00:30:00"), Seq(1.0, 0.0)),
        (ts("2100-01-01 00:00:00"), Seq(1.0, 0.0))))
      q.processAllAvailable()
      val dropped = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1L, "the late arrival was not dropped by the watermark")
    } finally q.stop()
    val rows = spark.table("q108_wm_probe")
      .select(col("cell"), col("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toSeq
    // hour 0 emitted once with the two ON-TIME arrivals; hour 3 emitted
    // once; the sentinel window never closed, the late row never landed
    assert(rows.sorted === Seq(0 -> 2L, 1 -> 1L))
  }

  /** q109 on a planted corpus, checked against its own batch twin: the
    * per-doc scores come from `classifierScoresUnsorted` (whose DuckDB
    * oracle is q94's), the buckets from the same integer hour-floor the
    * registered oracle uses — so the streamed gate monitor must reproduce
    * the batch aggregate EXACTLY, including the null-text doc scoring
    * (0, 0) and being admitted (no-signal is not a drop reason).
    */
  test("q109 streaming gate monitor: planted arrivals match the batch twin") {
    TestSpark.withTemp { d =>
      import spark.implicits._
      val rows = Seq(
        (0L, "the quick brown fox jumps over the lazy dog", "a"),
        (1L, null, "a"),
        (2L, "some other words entirely for the second doc", "b"),
        (70L, "completely different content about query engines", "b"),
        (130L, "third window arrival with more text", "a"))
      rows.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      val gotRows = streaming.StreamReplay.q109(spark, d).collect()
      val got = gotRows.map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))
      val base = streaming.StreamReplay.IngestEpochSec
      val expected = canon(
        operators.TextAnalysis.classifierScoresUnsorted(
            Tables.documents(spark, d).select(col("doc_id"), col("text")))
          .join(Tables.documents(spark, d).select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .select(
            (((lit(base) + (col("doc_id") % streaming.StreamReplay.IngestCycleMin)
              * 60) / 3600).cast("long") * 3600000L).as("bucket_ms"),
            coalesce(col("source"), lit("")).as("source"),
            (col("mean_e6") >= operators.Pipeline.ClassifierFloorE6)
              .as("admitted"),
            col("n_tokens"), col("score_milli"))
          .groupBy(col("bucket_ms"), col("source"), col("admitted"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
            sum(col("score_milli")).as("sum_score_milli")))
      assert(got === expected)
      // structure: docs 0,1,2 land in hour 0; 70 in hour 1; 130 in hour 2
      assert(gotRows.map(_.getLong(3)).sum === 5L) // every doc counted once
      assert(gotRows.map(_.getLong(0)).distinct.sorted.toSeq ===
        Seq(base * 1000L, base * 1000L + 3600000L, base * 1000L + 7200000L))
      // the null-text doc is admitted with zero tokens
      val hour0a = gotRows.filter(r =>
        r.getLong(0) == base * 1000L && r.getString(1) == "a")
      assert(hour0a.forall(_.getBoolean(2)), "null-text doc must be admitted")
    }
  }

  /** q110 on a planted corpus exercising every dimension of the two-level
    * rollup: an exact-dup pair inside one window (collapses in level 1), a
    * classifier-rejected doc (25×"xe", mean −985,000 < the −300,000 floor —
    * the q88 planted idiom), a null-text doc (hashes/scores as "" and is
    * admitted: no-signal is not a drop reason), and the same text again in
    * a LATER window (distinct-per-window by design — the dedup state is
    * watermark-bounded, not an all-time index).
    */
  test("q110 streaming funnel rollup: dups collapse per window, gate splits admitted mass") {
    TestSpark.withTemp { d =>
      import spark.implicits._
      val a = "the quick brown fox jumps over the lazy dog"
      val rows = Seq(
        (0L, a, "web"), (1L, a, "web"),
        (2L, Seq.fill(25)("xe").mkString(" "), "web"),
        (3L, null.asInstanceOf[String], "web"),
        (70L, a, "web"))
      rows.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      val base = streaming.StreamReplay.IngestEpochSec * 1000L
      val got = streaming.StreamReplay.q110(spark, d)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got.size === 2)
      // hour 0: 4 arrivals, 3 distinct (a, xe-doc, ""), admitted mass
      // excludes exactly the rejected doc
      assert(got(base) === ((4L, 3L, 3L, 2L)))
      // hour 1: the same text is a fresh distinct doc in its own window
      assert(got(base + 3600000L) === ((1L, 1L, 1L, 1L)))
    }
  }

  /** q107 on a planted corpus: two exact-copy pairs (the higher id of each
    * must be flagged with the lower as its keeper), a <3-token doc (no
    * bands, never pairable), and distinct docs (clean). Also pins the state
    * contract: the drained index's state rows = distinct band keys (3
    * banded docs × 8 bands; copies COLLIDE on all 8), never arrivals.
    */
  test("q107 streaming near-dup serve: planted copies and a short doc") {
    TestSpark.withTemp { d =>
      import spark.implicits._
      val a = "the quick brown fox jumps over the lazy dog and runs far away"
      val c = "completely different content about distributed query engines and shuffles"
      val rows = Seq(
        (1L, a, "web"), (2L, a, "web"),
        (3L, c, "web"), (4L, "hi there", "web"),
        (5L, c, "web"),
        (6L, "unique closing text sharing no shingles with anything else", "web"))
      rows.toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      val (q, progress) = TestSpark.progressOf(streaming.StreamReplay.q107(spark, d))
      val got = q
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
        .toMap
      assert(got.size === 6)
      assert(got(1L) === ((false, None)))
      assert(got(2L) === ((true, Some(1L))))
      assert(got(3L) === ((false, None)))
      assert(got(4L) === ((false, None)))
      assert(got(5L) === ((true, Some(3L))))
      assert(got(6L) === ((false, None)))
      assert(stateRows(progress) === 24L)
    }
  }

  /** q123's two contracts on a planted corpus: (a) serve-equivalence — the
    * top-k served off the STREAM-MAINTAINED index equals the batch q39b
    * path bit-for-bit (cell-of-arrival is arrival-order-free, so the
    * micro-batch split cannot show); (b) the state gauge — state rows =
    * distinct CELLS (the ids-only inverted index), never O(arrivals) rows,
    * and the vectors die in the micro-batch (only (cell, ids) reach the
    * store).
    */
  test("q123 streaming ANN index: served top-k equals batch, state rows = cells") {
    TestSpark.withTemp { d =>
      import spark.implicits._
      import graft.operators.{FlatQuantizer, Similarity}
      val rnd = new scala.util.Random(7)
      (0L until 60L).map(i =>
          (i, Array.fill(8)(rnd.nextGaussian().toFloat), 0))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      val (q, progress) = TestSpark.progressOf(streaming.StreamReplay.q123(spark, d))
      val got = q.collect().toSeq
      val want = Similarity.q39b(spark, d).collect().toSeq
      assert(got === want, "served-from-stream-index top-k drifted from batch")
      assert(got.nonEmpty)
      // state gauge: rows in the store == distinct cells of the batch
      // assignment (ids grouped per cell), not 60 arrival rows
      val base = Tables.embeddings(spark, d)
        .select(col("vec_id"),
          graft.functions.vectors.toDouble(col("embedding")).as("v"))
      val seeds = base.orderBy(col("vec_id")).limit(Similarity.IvfCells)
        .select(col("v")).collect().map(_.getSeq[Double](0).toArray)
      val cells = base.select(FlatQuantizer(seeds).assign(col("v")).as("c"))
        .distinct().count()
      assert(stateRows(progress) === cells,
        s"state rows must equal distinct cells ($cells)")
    }
  }
}
