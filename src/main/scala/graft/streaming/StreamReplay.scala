package graft.streaming

import graft.QueryDef
import graft.operators.{AnnIndex, FlatQuantizer}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Driver-visible Structured Streaming evidence (SURVEY §2.8): q55 replays
  * the `events` parquet through a REAL file-streaming source and drains the
  * watermarked tumbling aggregation — the execution path is
  * `StreamingQuery`/micro-batch, not batch, yet the drained result equals
  * the batch twin q14 by construction (same transform, complete-mode sink),
  * so q14's oracle SQL hash-checks it.
  *
  * Scale shape: the file source is incremental (maxFilesPerTrigger bounds a
  * micro-batch at cluster scale), state is the watermarked window store
  * (O(open windows × event types), never O(history)); the memory sink holds
  * only the aggregated result, which is what any production sink would
  * receive.
  */
object StreamReplay {

  private val runSeqs =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** A fixture table as a REAL file-stream source. File-stream sources
    * need an explicit schema: one metadata-only batch read supplies it.
    * The source's basePath must be a DIRECTORY: a directory-form
    * `<table>.parquet` (the normal Spark/cluster layout) streams directly,
    * while the driver fixture's single-FILE form streams the parent
    * directory with pathGlobFilter selecting just that file — the glob
    * matches leaf file names only, so it must never be applied to the
    * directory form (it would match no part-files and silently stream
    * nothing).
    */
  private def replayTable(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val path = s"$dir/$table.parquet"
    val isDir = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      hPath.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(hPath).isDirectory
    }
    val schema = graft.Tables.schemaOf(spark, path)
    if (isDir) spark.readStream.schema(schema).parquet(path)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet").parquet(dir)
  }

  /** The `events` table as a file stream (ts normalized through
    * Tables.withEventTime, exactly as in Tables.events).
    */
  private def replayEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.withEventTime(replayTable(spark, dir, "events"))

  /** Stateful-operator partition count for the replays. Each micro-batch
    * pays a fixed commit cost PER state-store instance (= shuffle
    * partitions × stateful operators: q73's dual join state at 32
    * partitions spent 7.3 s where 8 partitions spend 2.6 s on identical
    * data — measured, settled, same session). The replay fixture's state is
    * tiny, so fewer, fuller stores win; at cluster scale this is the same
    * sizing decision as the batch shuffle knob — partitions proportional to
    * state volume, not a constant.
    */
  val StatePartitions = 8

  private def drain(df: DataFrame, sinkPrefix: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    // a memory sink registers a temp view per run; drop the previous run's
    // so a resident session (bench reruns, spec suites) doesn't accumulate
    // one pinned result table per execution
    val seq = runSeqs.computeIfAbsent(sinkPrefix,
      _ => new java.util.concurrent.atomic.AtomicInteger(0))
    val prev = seq.get()
    if (prev > 0) spark.catalog.dropTempView(s"${sinkPrefix}_$prev")
    val sink = s"${sinkPrefix}_${seq.incrementAndGet()}"
    withStatePartitions(spark) {
      val query = df.writeStream
        .format("memory")
        .queryName(sink)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      try query.awaitTermination()
      finally query.stop()
    }
    spark.table(sink)
  }

  /** Runs a synchronous streaming drain with the session's shuffle
    * partitions at [[StatePartitions]] (the count binds at query start),
    * restoring the session sizing afterwards so batch plans in the same
    * session keep it. Serialized on this object: a concurrent drain would
    * race the session-global conf save/restore — the lock closes that
    * class of bug outright (drains are sub-second-to-seconds; contention
    * is irrelevant).
    */
  private[graft] def withStatePartitions[T](spark: SparkSession)(body: => T): T =
    StreamReplay.synchronized {
      val saved = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StatePartitions)
      try body
      finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    }

  /** q107's MinHash LSH band keys: 3-token shingles, 8 bands × 2 rows. */
  private def bandsOf(text: Column): Column =
    graft.functions.expressions.sketch.mdBandKeys(text, 3, 8, 2)

  /** q107's band-index core over a (doc_id, text) batch or stream: per
    * band key, the arrival count and the keeper (lowest doc_id).
    */
  private[graft] def bandIndex(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(bandsOf(col("text"))).as("band"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))

  def q55(spark: SparkSession, dir: String): DataFrame =
    drain(EventStreams.tumblingCounts(replayEvents(spark, dir)),
      "q55_replay_sink", "complete")
      .orderBy(col("bucket_ms"), col("event_type"))

  /** q61: streaming ingest dedup, driver-visible — the replayed events run
    * through the watermark-evicting dropDuplicatesWithinWatermark state
    * (append mode: rows emit as they arrive, so unlike session output the
    * drained result does not depend on the final watermark). The fixture's
    * event_ids are unique, so the drained stream must equal the table
    * row-for-row; the duplicate-suppression behavior itself is
    * planted-dup-checked in StreamingSpec.
    */
  def q61(spark: SparkSession, dir: String): DataFrame =
    drain(EventStreams.dedupEvents(replayEvents(spark, dir))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      "q61_dedup_sink", "append")
      .orderBy(col("event_id"))

  /** q70: custom-state sessionizer, driver-visible — the replayed file
    * stream runs through the flatMapGroupsWithState sessionizer
    * (`StatefulSessions`) and the drained CLOSED sessions hash-match q15's
    * batch oracle.
    *
    * Sessions only emit when the event-time watermark passes their gap
    * horizon, so the replay unions a single far-future SENTINEL row (one
    * driver-side row via MemoryStream — the data itself still streams from
    * the file source): after the data batch, the watermark jumps past every
    * session's end+gap and the trailing no-data micro-batch fires the
    * event-time timeouts that flush the tail sessions. The sentinel user's
    * own open session never emits (nothing outlives the sentinel) and is
    * filtered defensively. session_id is assigned post-drain by start
    * order per user — a presentation window over the (small) session list,
    * matching the batch idiom's cumulative numbering.
    */
  def q70(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = replayEvents(spark, dir)
      .select(col("ts"), col("user_id"))
      // planted-null robustness: a null event time cannot sessionize (the
      // batch form degenerates too — the gate's fixture has no null ts)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
    val sentinel =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, Long)]
    sentinel.addData(Seq((java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), -1L)))
    val union = src.unionByName(sentinel.toDF().toDF("ts", "user_id"))
    val drained = drain(
      StatefulSessions.sessionizeWithState(union).toDF(),
      "q70_sessions_sink", "append")
    drained.filter(col("user_id") >= 0)
      .withColumn("session_id", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("start_us"))).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("dur_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q72: sliding-window replay — q40's watermarked 1 h/30 min counts
    * drained through the same real file-stream path as q55 (complete-mode
    * sink; each event updates its two overlapping windows in the state
    * store). Completes the driver-visible streaming quartet: tumbling agg
    * (q55), stateful dedup (q61), custom-state sessions (q70), sliding agg
    * (q72) — every streaming-tier operator family has an oracle-checked
    * micro-batch execution row.
    */
  def q72(spark: SparkSession, dir: String): DataFrame =
    drain(EventStreams.slidingCounts(replayEvents(spark, dir)),
      "q72_sliding_sink", "complete")
      .orderBy(col("bucket_ms"), col("event_type"))

  /** q73: stream-stream range join, driver-visible — the replayed file
    * stream self-joins through `EventStreams.clicksBeforePurchase` (clicks
    * within the hour before each purchase by the same user). Both sides are
    * watermarked and the time-range predicate bounds the join state: a
    * buffered click is droppable once the purchase-side watermark passes
    * click_ts + 1 h, so state is O(events in the lateness horizon), never
    * O(history). Append mode is the only output mode stream-stream joins
    * support; with Trigger.AvailableNow every match emits before the drain
    * returns, so a plain batch self-join SQL is the oracle. Completes the
    * streaming evidence set: tumbling (q55), dedup (q61), sessions (q70),
    * sliding (q72), stream-stream join (q73).
    */
  def q73(spark: SparkSession, dir: String): DataFrame =
    drain(EventStreams.clicksBeforePurchase(replayEvents(spark, dir)),
      "q73_ssjoin_sink", "append")
      .orderBy(col("user_id"), col("purchase_id"), col("click_id"))

  /** q106: streaming model-serve drift monitor — the ONLINE member of the
    * train-once/serve-many family (q104 is the batch one). A codebook
    * trained offline (the q39b deterministic lowest-id seeds, so the whole
    * path is SQL-mirrorable) goes through the [[graft.sources.ModelStore]]
    * save→load seam, and the corpus then streams through a REAL
    * file-stream source with the LOADED quantizer assigning every arrival
    * to its IVF cell inside the micro-batch: plan-literal assignment in
    * codegen, a stream-static broadcast join fetching the assigned
    * centroid, and a per-cell running aggregate of arrivals and quantized
    * centroid affinity (floor(round(cos, 6)·10⁶) — exact integers, so the
    * complete-mode sums are micro-batch-split-independent and the DuckDB
    * batch mirror hashes them). This is the serving-side monitor a
    * production ANN/dedup deployment runs at ingest: cell-mass shift and
    * falling mean affinity are exactly the "distribution left the trained
    * quantizer behind — retrain" signal (q105 reports drift between batch
    * snapshots; q106 watches it arrive).
    *
    * Scale shape: state is the per-cell aggregate — O(k cells), never
    * O(arrivals); the centroid join broadcasts KB-scale model state; the
    * payload vectors die inside the micro-batch (only (cell, qc) reaches
    * the state store). At 100 TB/day ingest the same plan holds with the
    * aggregate keyed by (window, cell) under a watermark; the fixture
    * replay needs the all-time totals to stay batch-mirrorable.
    */
  /** Offline-train + artifact round trip shared by the serving monitors
    * (q106, q108, q123): the lowest-id codebook
    * ([[graft.operators.AnnIndex.seeded]], q39b's init-free idiom —
    * KB-scale model state, not a data-path collect), written and read back
    * through [[graft.operators.AnnIndex.save]] / `load` so the serving plan
    * runs a LOADED artifact. None when the corpus is empty (no codebook
    * can be trained). Returns the loaded model-only index, the
    * broadcastable (cell, centroid) frame, and the raw centroid rows (for
    * sentinel payloads).
    */
  private def servedQuantizer(spark: SparkSession, dir: String): Option[
      (AnnIndex, DataFrame, Array[Array[Double]])] = {
    val base = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    AnnIndex.seeded(base).map { seeded =>
      // per-process scratch, overwritten in place (q121's idiom): a temp
      // dir per invocation would leak one codebook per call
      val path = graft.sources.Scratch.dir("serve-model")
      seeded.save(spark, path)
      val served = AnnIndex.load(spark, path)
      // a seeded codebook is flat
      val FlatQuantizer(centroids) = served.quant
      import spark.implicits._
      val centroidDf = centroids.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "c")
      (served, centroidDf, centroids)
    }
  }

  def q106(spark: SparkSession, dir: String): DataFrame = {
    val served = servedQuantizer(spark, dir)
    if (served.isEmpty) return emptyMonitor(spark)
    val (AnnIndex(quant, _, _), centroidDf, _) = served.get
    import graft.operators.Similarity
    val stream = replayTable(spark, dir, "embeddings")
      .select(graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    val assigned = stream
      .select(quant.assign(col("v")).as("cell"), col("v"))
      .join(broadcast(centroidDf), Seq("cell"))
      .select(col("cell"),
        floor(round(graft.functions.expressions.vecexprs
            .cosineSim(col("v"), col("c")), Similarity.ScoreDp) *
          lit(1000000L)).cast("long").as("qc"))
    drain(assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sum(col("qc")).as("sum_cos_e6")),
      "q106_monitor_sink", "complete")
      .select(col("cell"), col("n"), col("sum_cos_e6"),
        floor(col("sum_cos_e6").cast("double") / col("n"))
          .cast("long").as("mean_cos_e6"))
      .orderBy(col("cell"))
  }

  /** q107: streaming near-dup index, served — the ONLINE member of the
    * near-dedup family (batch: MinHash-LSH q21, SimHash q22, cosine-LSH
    * q24; online exact dedup: q61). The corpus streams through a REAL
    * file-stream source; every arrival's MinHash LSH band keys are computed
    * INSIDE the micro-batch by one codegen'd expression
    * ([[graft.functions.expressions.MdBandKeysExpr]] — 3-token shingles,
    * 8 bands × 2 rows), and the state store maintains the banded dedup
    * INDEX a production ingest pipeline keeps: per band key, the arrival
    * count and the keeper (lowest doc_id). After the drain, the registered
    * output is the SERVE step: each doc's bands looked up in the index,
    * `near_dup` = some colliding band has a lower-id keeper, `min_keeper`
    * = that cluster representative. Keeper-by-lowest-id (not arrival
    * order) makes the result micro-batch-split-independent, so one batch
    * SQL mirror hashes the whole online path — the md5 hash family exists
    * exactly for that (see mdBandKeys; the production batch family is the
    * XXH64 minhashBandKeys with the identical plan shape, q21).
    *
    * Scale shape: state is the band index — O(distinct bands) ≤ 8×docs of
    * (string key, two longs), the inherent floor for ingest dedup (you
    * must remember what you've seen; q61's exact-dedup state is the same
    * O(seen) class) and ~KB per thousand docs vs the corpus' MBs: text
    * never enters the state store. The serve join is band-keyed ids-only
    * (band string + two longs), map-side combinable on both aggregates;
    * no broadcast is assumed — at 100 TB the index IS the big side and
    * the join shuffles ids, never payloads.
    */
  def q107(spark: SparkSession, dir: String): DataFrame = {
    // Tables.spread with a 256 KB floor: the serve-side band pass is 16
    // MD5 draws per shingle — measured ~2 s/MB single-core (r19), ~10x
    // the regex-battery intensity the default 4 MB floor is calibrated
    // on, so the exchange pays for itself far earlier here (identity on
    // splittable input, as everywhere)
    val batchDocs = graft.Tables.spread(
      graft.Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      col("doc_id"), minBytes = 256L << 10)
    val index = drain(bandIndex(replayTable(spark, dir, "documents")),
      "q107_neardup_sink", "complete")
    val docBands = batchDocs
      .select(col("doc_id"), explode(bandsOf(col("text"))).as("band"))
    // The dup-band slice (n > 1) is the BROADCAST side, explicitly: without
    // the hint, Spark 4.1's size estimate for the exploded corpus band
    // frame undercuts the drained LocalTableScan's and the optimizer
    // broadcast the CORPUS side — a full mdBandKeys pass collected through
    // the driver (measured r19, plans/r19/q107_before.txt node (7)). The
    // hint pins the small side; at an ingest scale where even the dup-band
    // slice outgrows a broadcast, the hint comes off and the join shuffles
    // ids+band keys exactly as the scale note above describes.
    val hits = docBands
      .join(broadcast(index.filter(col("n") > 1)), Seq("band"))
      .filter(col("keeper") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("keeper")).as("min_keeper"))
    batchDocs.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("min_keeper").isNotNull.as("near_dup"),
        col("min_keeper"))
      .orderBy(col("doc_id"))
  }

  /** Shared transform core of q108: a (ts timestamp, v array<double>)
    * ingest frame → watermarked tumbling (window, cell) affinity aggregate
    * under a LOADED quantizer. Takes ANY such frame — batch or streaming —
    * so the spec can drive micro-batch boundaries directly and assert the
    * watermark-eviction behavior (a late arrival past the 30-minute bound
    * is DROPPED, not re-aggregated) that the registered replay, which
    * delivers everything in one micro-batch, cannot exhibit.
    */
  def windowedCellMonitor(ingest: DataFrame,
      quant: graft.operators.CellQuantizer,
      centroidDf: DataFrame): DataFrame =
    ingest
      .withWatermark("ts", "30 minutes")
      .select(col("ts"), quant.assign(col("v")).as("cell"), col("v"))
      .join(broadcast(centroidDf), Seq("cell"))
      .select(col("ts"), col("cell"),
        floor(round(graft.functions.expressions.vecexprs
            .cosineSim(col("v"), col("c")),
          graft.operators.Similarity.ScoreDp) *
          lit(1000000L)).cast("long").as("qc"))
      .groupBy(window(col("ts"), "1 hour"), col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("qc")).as("sum_cos_e6"))

  /** The fixture's ingest clock: arrival time = 2024-01-01T00:00:00Z +
    * (id mod [[IngestCycleMin]]) minutes. Deterministic and hour-UNALIGNED,
    * so arrivals spread across real tumbling-window boundaries while
    * staying SQL-mirrorable (the epoch base is itself hour-aligned, so
    * Spark's epoch-aligned window() and the oracle's integer hour-floor
    * agree exactly). The mod is load-bearing: ids are ARBITRARY at scale
    * (the 10× fixture offsets each copy's keys by ~10⁷, so raw id-minutes
    * would reach year 2195 — past the 2100 sentinel, leaving tail windows
    * unflushed and the derived clock meaningless), while the bounded cycle
    * pins the horizon ~100 hours past the epoch at EVERY corpus size.
    */
  val IngestEpochSec = 1704067200L

  /** Minutes in the derived ingest cycle (~100 hours of 1-hour windows). */
  val IngestCycleMin = 6000L

  /** q108: WINDOWED streaming drift monitor under a watermark — the
    * APPEND-mode production form q106's scaladoc promises ("at 100 TB/day
    * ingest the same plan holds with the aggregate keyed by (window, cell)
    * under a watermark"). Same loaded-artifact serving path (ModelStore
    * save→load, plan-literal assignment in codegen, stream-static broadcast
    * centroid join, exact-integer affinity), but the aggregate is keyed by
    * (1-hour tumbling window, cell) with a 30-minute event-time watermark,
    * and the sink is APPEND: a (window, cell) row emits exactly once, when
    * the watermark closes its window — the shape whose state is O(open
    * windows × cells) REGARDLESS of retention, where q106's all-time
    * complete-mode state is O(cells) but its result must be re-emitted
    * whole every trigger. Ingest time derives deterministically from
    * vec_id ([[IngestEpochSec]]), so one batch SQL mirrors the whole
    * online path. The q70 sentinel idiom (one far-future MemoryStream row
    * unioned with the file stream) pushes the final watermark past every
    * real window so the tail windows flush before the drain returns; the
    * sentinel's own window never closes and is filtered defensively.
    *
    * Scale shape: state holds only windows the watermark hasn't passed —
    * late data beyond 30 minutes is dropped AT THE STATE STORE, so a
    * 100 TB/day replay holds ~2 windows × cells rows however long it
    * runs, and each closed window leaves the store exactly once (append
    * semantics = incremental downstream consumption, no re-emission).
    */
  def q108(spark: SparkSession, dir: String): DataFrame = {
    val served = servedQuantizer(spark, dir)
    if (served.isEmpty) return emptyWindowedMonitor(spark)
    val (AnnIndex(quant, _, _), centroidDf, centroids) = served.get
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = replayTable(spark, dir, "embeddings")
      .select(
        timestamp_seconds(lit(IngestEpochSec) +
          (col("vec_id") % IngestCycleMin) * 60).as("ts"),
        graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    // sentinel payload = centroid 0: valid dims, assigns to cell 0; its
    // window outlives the final watermark, so it never emits (and is
    // filtered defensively post-drain)
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Seq[Double])]
    sentinel.addData(Seq(
      (java.sql.Timestamp.valueOf("2100-01-01 00:00:00"),
        centroids(0).toSeq)))
    val union = stream.unionByName(sentinel.toDF().toDF("ts", "v"))
    drain(windowedCellMonitor(union, quant, centroidDf),
      "q108_windowed_sink", "append")
      .filter(col("window.start") <
        lit("2099-01-01 00:00:00").cast("timestamp"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("cell"), col("n"), col("sum_cos_e6"),
        floor(col("sum_cos_e6").cast("double") / col("n"))
          .cast("long").as("mean_cos_e6"))
      .orderBy(col("bucket_ms"), col("cell"))
  }

  /** q109: streaming model-gate at ingest — the ONLINE member of the
    * model-gate family (batch: q94 scoring, q102 calibration sweep, the
    * q88 funnel's classifier stage). The corpus streams through a REAL
    * file-stream source and every arrival is scored INSIDE the micro-batch
    * by ONE codegen'd expression
    * ([[graft.functions.expressions.MdWeightScoreExpr]] — q94's hashed-
    * feature linear classifier as a per-row struct(n_tokens, score_milli);
    * the batch explode→groupBy form would be a SECOND stateful operator in
    * the micro-batch plan, which is exactly the shape streaming
    * restricts). The admission verdict applies the funnel's DEPLOYED
    * operating point (mean_e6 ≥ [[graft.operators.Pipeline
    * .ClassifierFloorE6]] — the q102-calibrated threshold), and the state
    * store keeps the gate-health dashboard a production ingest pipeline
    * watches: per (1-hour ingest window, source, verdict), arrival and
    * token counts plus the summed score. A falling admit rate or sliding
    * per-source mean is the "upstream quality shifted — recalibrate the
    * gate" signal, the model-gate counterpart of q106/q108's quantizer
    * drift. Watermark, sentinel flush, and append semantics are q108's:
    * each (window, source, verdict) row emits exactly once.
    *
    * Scale shape: scoring is stateless per-row work in whole-stage codegen
    * (md5 + integer arithmetic; the text dies inside the micro-batch);
    * state is O(open windows × sources × 2) regardless of retention; late
    * data past the 30-minute watermark is dropped at the state store. At
    * 100 TB/day the same plan serves with the verdict column additionally
    * routing the admitted docs to the corpus sink — the monitor output IS
    * the admission log's aggregate.
    */
  def q109(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val score: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => graft.functions.expressions.sketch.mdWeightScore(t)
    val stream = replayTable(spark, dir, "documents")
      .select(
        timestamp_seconds(lit(IngestEpochSec) +
          (col("doc_id") % IngestCycleMin) * 60).as("ts"),
        coalesce(col("source"), lit("")).as("source"),
        score(col("text")).as("sc"))
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    sentinel.addData(Seq(
      (java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), "sentinel")))
    val sentinelDf = sentinel.toDF().toDF("ts", "source")
      .select(col("ts"), col("source"), score(lit("")).as("sc"))
    val gated = stream.unionByName(sentinelDf)
      .withWatermark("ts", "30 minutes")
      .select(col("ts"), col("source"),
        coalesce(col("sc.n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sc.score_milli"), lit(0L)).as("score_milli"))
      .withColumn("mean_e6",
        floor(col("score_milli").cast("double") * lit(1000) /
          greatest(col("n_tokens"), lit(1L))).cast("long"))
      .withColumn("admitted",
        col("mean_e6") >= lit(graft.operators.Pipeline.ClassifierFloorE6))
    val agg = gated
      .groupBy(window(col("ts"), "1 hour"), col("source"), col("admitted"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("score_milli")).as("sum_score_milli"))
    drain(agg, "q109_gate_sink", "append")
      .filter(col("window.start") <
        lit("2099-01-01 00:00:00").cast("timestamp"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("source"), col("admitted"), col("n_docs"), col("n_tokens"),
        col("sum_score_milli"))
      .orderBy(col("bucket_ms"), col("source"), col("admitted"))
  }

  /** q110: streaming ingest funnel rollup — CHAINED stateful aggregations
    * (the multiple-stateful-operators capability, Spark 3.4+) composing the
    * online family into the per-window report a production ingest watches:
    * level 1 groups arrivals by (1-hour window, md5(text)) — the
    * watermark-BOUNDED exact-dedup state, complementing q107's all-time
    * index (here you remember a doc only while its window is open) — and
    * level 2 rolls the closed per-hash rows up to per-window totals:
    * arrivals, distinct docs, and the admitted splits of both under the
    * deployed q109 gate. Both levels run under ONE event-time watermark in
    * ONE streaming query (level 2 windows on `window_time` of level 1's
    * window column); a closed window flows level 1 → level 2 across
    * consecutive micro-batches and each rollup row emits exactly once.
    * The verdict is per-row codegen ([[graft.functions.expressions
    * .MdWeightScoreExpr]]) and hash-determined (same text ⇒ same verdict),
    * so the level-1 `max(admitted)` is degenerate-deterministic and the
    * whole two-level path sits under one batch SQL hash. Null text is
    * coalesced to "" BEFORE hashing and scoring — the null-text doc and
    * the empty doc are the same ingest event by contract.
    *
    * Scale shape: level-1 state is O(open windows × distinct hashes in
    * them) — the remember-what-you've-seen floor, bounded by the
    * watermark horizon instead of history; level-2 state is O(open
    * windows). Texts die at the scoring projection; only (window, hash,
    * verdict) reaches state.
    */
  def q110(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = replayTable(spark, dir, "documents")
      .select(
        timestamp_seconds(lit(IngestEpochSec) +
          (col("doc_id") % IngestCycleMin) * 60).as("ts"),
        coalesce(col("text"), lit("")).as("text"))
    val sentinel = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, String)]
    sentinel.addData(Seq(
      (java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), "")))
    val scored = stream.unionByName(sentinel.toDF().toDF("ts", "text"))
      .withWatermark("ts", "30 minutes")
      .select(col("ts"), md5(col("text")).as("h"),
        graft.functions.expressions.sketch.mdWeightScore(col("text")).as("sc"))
      .select(col("ts"), col("h"),
        (floor(col("sc.score_milli").cast("double") * lit(1000) /
          greatest(col("sc.n_tokens"), lit(1L))).cast("long") >=
          lit(graft.operators.Pipeline.ClassifierFloorE6)).as("admitted"))
    val perHash = scored
      .groupBy(window(col("ts"), "1 hour"), col("h"))
      .agg(count(lit(1)).as("n"), max(col("admitted")).as("admitted"))
    val rollup = perHash
      .groupBy(window(window_time(col("window")), "1 hour").as("w2"))
      .agg(sum(col("n")).as("arrivals"),
        count(lit(1)).as("distinct_docs"),
        sum(when(col("admitted"), col("n")).otherwise(0L))
          .as("admitted_arrivals"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted_distinct"))
    drain(rollup, "q110_funnel_sink", "append")
      .filter(col("w2.start") <
        lit("2099-01-01 00:00:00").cast("timestamp"))
      .select(unix_millis(col("w2.start")).as("bucket_ms"),
        col("arrivals"), col("distinct_docs"),
        col("admitted_arrivals"), col("admitted_distinct"))
      .orderBy(col("bucket_ms"))
  }

  /** q123: streaming served-index maintenance for the ANN tier — q107
    * maintains the near-dup band index online; this is its embedding
    * sibling, completing the online family's index story: a codebook
    * trained offline goes through the AnnIndex save→load seam
    * ([[servedQuantizer]] — q106/q108's serving path), the corpus then
    * streams through a REAL file-stream source with the LOADED quantizer
    * assigning every arrival its IVF cell INSIDE the micro-batch
    * (plan-literal codegen), and the state store maintains the inverted
    * index a production ANN deployment keeps warm: per cell, the sorted
    * arrival ids. The registered output is the SERVE step off the drained
    * index — [[graft.operators.Similarity.ivfServe]]: probes fan out under
    * the same loaded quantizer, cell-mates come from the INDEX (not a
    * recomputed assignment), neighbor vectors are fetched from the at-rest
    * table by id. Cell-of-arrival is arrival-order-free (a pure function
    * of codebook and vector) and ids sort in the drain, so the online path
    * is micro-batch-split-independent and q39b's batch SQL hashes it
    * verbatim — q107's keeper-independence idiom on the ANN tier.
    *
    * Scale shape: state is the index — O(corpus) IDS grouped into
    * O(cells) state rows (the inherent floor for serving: an index must
    * remember what it indexed — q61/q107's class), ~8 B/vector vs the
    * corpus' KBs: the payload VECTORS die inside the micro-batch, only
    * (cell, id) reaches the store (state-gauge spec'd: rows == cells).
    * The serve join is ids-only on the big side; at 100 TB the index is
    * the big side and shuffles ids, never payloads, while the probe side
    * stays broadcast (q39's contract). The PQ composition (codes in the
    * state row, q121's served ADC off the drained index) is the same plan
    * with an IVF-PQ index's encode columns
    * ([[graft.operators.AnnIndex.assign]]) riding the arrival projection.
    */
  def q123(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val served = servedQuantizer(spark, dir)
    if (served.isEmpty) return Similarity.emptyTopK(spark)
    val (model, _, _) = served.get
    val stream = replayTable(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
      .select(model.quant.assign(col("v")).as("cell"), col("vec_id"))
    val index = drain(stream.groupBy(col("cell"))
        .agg(sort_array(collect_list(col("vec_id"))).as("ids")),
      "q123_annindex_sink", "complete")
      .select(col("cell"), explode(col("ids")).as("vec_id"))
    val base = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        graft.functions.vectors.toDouble(col("embedding")).as("v"))
      .filter(col("v").isNotNull)
    Similarity.ivfServe(model.copy(cells = Some(index)), base)
  }

  /** Empty, schema-correct q108 result — the windowed monitor for a corpus
    * no codebook can be trained on.
    */
  private def emptyWindowedMonitor(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("bucket_ms", LongType), StructField("cell", IntegerType),
        StructField("n", LongType), StructField("sum_cos_e6", LongType),
        StructField("mean_cos_e6", LongType))))
  }

  /** Empty, schema-correct q106 result — the monitor for a corpus no
    * codebook can be trained on.
    */
  private def emptyMonitor(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("cell", IntegerType), StructField("n", LongType),
        StructField("sum_cos_e6", LongType),
        StructField("mean_cos_e6", LongType))))
  }

  val defs: Seq[QueryDef] = Seq(
    // q39b's mirror VERBATIM: the drained (cell → sorted ids) state holds
    // exactly assign()'s cells, so the served online path is bit-identical
    // to the batch assignment the SQL mirrors (q107's idiom, ANN tier)
    QueryDef("q123_stream_ann_index_serve", q123,
      Some(graft.operators.Similarity.ivfSeededOracle)),
    // the whole online path is hash-mirrorable because MdBandKeysExpr is
    // cross-engine by construction: tokenization ≡ the regexp_split mirror
    // (the TokenXxh64Expr-documented identity), the 60-bit md5 draw ≡ the
    // q94 '0x'||substr(md5) idiom, and keeper-by-lowest-id is
    // arrival-order-free
    QueryDef("q107_stream_neardup_serve", q107,
      Some("""WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                t -> t <> '') AS tk
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id, list_transform(range(0, len(tk) - 2), i ->
        |      array_to_string(list_slice(tk, i + 1, i + 3), ' ')) AS sh
        |  FROM tk WHERE len(tk) >= 3),
        |mh AS (
        |  SELECT doc_id, list_transform(range(0, 16), j ->
        |      list_min(list_transform(sh, s ->
        |        CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || s), 1, 15)
        |          AS BIGINT)))) AS mhs
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, CAST(b AS VARCHAR) || ':' ||
        |      CAST(mhs[2*b + 1] AS VARCHAR) || ':' ||
        |      CAST(mhs[2*b + 2] AS VARCHAR) AS band
        |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
        |idx AS (SELECT band, COUNT(*) AS n, MIN(doc_id) AS keeper
        |        FROM bands GROUP BY band),
        |hits AS (
        |  SELECT bands.doc_id, MIN(idx.keeper) AS min_keeper
        |  FROM bands JOIN idx USING (band)
        |  WHERE idx.keeper < bands.doc_id
        |  GROUP BY bands.doc_id)
        |SELECT d.doc_id, (h.min_keeper IS NOT NULL) AS near_dup, h.min_keeper
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    // the assignment CTEs are q39b's verbatim (same seeds, same argmin +
    // lowest-cell tie-break); the affinity quantization is hash-safe
    // because round(x, 6) is already proven IEEE-identical cross-engine
    // by q39b's hashed score column, and *1e6/floor are exact IEEE ops
    QueryDef("q106_stream_cell_monitor", q106,
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |s AS (SELECT v AS sv,
        |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |          AS cell
        |      FROM e ORDER BY vec_id LIMIT ${graft.operators.Similarity.IvfCells}),
        |nd AS (SELECT e.vec_id, s.cell, list_distance(e.v, s.sv) AS d
        |       FROM e CROSS JOIN s),
        |a AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
        |          AS rn
        |      FROM nd),
        |asg AS (SELECT vec_id, cell FROM a WHERE rn = 1),
        |q AS (SELECT asg.cell,
        |        CAST(FLOOR(round(list_cosine_similarity(e.v, s.sv),
        |          ${graft.operators.Similarity.ScoreDp}) * 1000000) AS BIGINT) AS qc
        |      FROM asg JOIN e USING (vec_id) JOIN s USING (cell))
        |SELECT cell, COUNT(*) AS n, CAST(SUM(qc) AS BIGINT) AS sum_cos_e6,
        |  CAST(FLOOR(CAST(SUM(qc) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |    AS mean_cos_e6
        |FROM q GROUP BY cell ORDER BY cell""".stripMargin)),
    // the two-level mirror: q94's scoring CTEs (text coalesced to '' for
    // both hash and score), a (bucket, md5) dedup group, then the window
    // rollup — level-1 max(admitted) is degenerate (verdict is
    // hash-determined), so the chained stateful plan hashes exactly
    QueryDef("q110_stream_funnel_rollup", q110,
      Some(s"""WITH t0 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(
        |      lower(coalesce(text, '')), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2001 - 1000 AS w
        |  FROM t0),
        |per AS (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM w GROUP BY doc_id),
        |sc AS (SELECT d.doc_id,
        |    CAST((($IngestEpochSec + (doc_id % $IngestCycleMin) * 60)
        |      // 3600) * 3600000 AS BIGINT) AS bucket_ms,
        |    md5(coalesce(d.text, '')) AS h,
        |    (CAST(FLOOR(CAST(coalesce(per.s, 0) AS DOUBLE) * 1000 /
        |      greatest(coalesce(per.n, 0), 1)) AS BIGINT) >=
        |      ${graft.operators.Pipeline.ClassifierFloorE6}) AS adm
        |  FROM documents d LEFT JOIN per USING (doc_id)),
        |g AS (SELECT bucket_ms, h, COUNT(*) AS n, MAX(adm) AS adm
        |      FROM sc GROUP BY 1, 2)
        |SELECT bucket_ms, CAST(SUM(n) AS BIGINT) AS arrivals,
        |  COUNT(*) AS distinct_docs,
        |  CAST(SUM(CASE WHEN adm THEN n ELSE 0 END) AS BIGINT)
        |    AS admitted_arrivals,
        |  CAST(SUM(CASE WHEN adm THEN 1 ELSE 0 END) AS BIGINT)
        |    AS admitted_distinct
        |FROM g GROUP BY 1 ORDER BY bucket_ms""".stripMargin)),
    // q94's scoring CTEs verbatim (the md5 weight table is recomputed in
    // both engines, integer milli-sums exact); the per-doc score feeding
    // the stream is MdWeightScoreExpr, whose per-doc equality with the
    // explode→groupBy form is spec-pinned, so one batch SQL hashes the
    // whole online gate incl. the deployed-threshold verdicts
    QueryDef("q109_stream_gate_monitor", q109,
      Some(s"""WITH t0 AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 2001 - 1000 AS w
        |  FROM t0),
        |per AS (SELECT doc_id, COUNT(*) AS n, SUM(w) AS s FROM w GROUP BY doc_id),
        |sc AS (SELECT d.doc_id, coalesce(d.source, '') AS source,
        |    CAST(coalesce(per.n, 0) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(per.s, 0) AS BIGINT) AS score_milli,
        |    CAST(FLOOR(CAST(coalesce(per.s, 0) AS DOUBLE) * 1000 /
        |      greatest(coalesce(per.n, 0), 1)) AS BIGINT) AS mean_e6
        |  FROM documents d LEFT JOIN per USING (doc_id))
        |SELECT CAST((($IngestEpochSec + (doc_id % $IngestCycleMin) * 60)
        |    // 3600) * 3600000 AS BIGINT) AS bucket_ms,
        |  source,
        |  (mean_e6 >= ${graft.operators.Pipeline.ClassifierFloorE6}) AS admitted,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(SUM(score_milli) AS BIGINT) AS sum_score_milli
        |FROM sc GROUP BY 1, 2, 3
        |ORDER BY bucket_ms, source, admitted""".stripMargin)),
    // q106's assignment/affinity CTEs verbatim; the window is mirrored in
    // the exact integer domain — bucket = hour-floor of (epoch base +
    // vec_id·60 s) — because the epoch base is hour-aligned, which makes
    // Spark's epoch-aligned window() and the integer floor identical
    QueryDef("q108_stream_windowed_drift", q108,
      Some(s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE embedding IS NOT NULL),
        |s AS (SELECT v AS sv,
        |        CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
        |          AS cell
        |      FROM e ORDER BY vec_id LIMIT ${graft.operators.Similarity.IvfCells}),
        |nd AS (SELECT e.vec_id, s.cell, list_distance(e.v, s.sv) AS d
        |       FROM e CROSS JOIN s),
        |a AS (SELECT vec_id, cell,
        |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cell)
        |          AS rn
        |      FROM nd),
        |asg AS (SELECT vec_id, cell FROM a WHERE rn = 1),
        |q AS (SELECT asg.vec_id, asg.cell,
        |        CAST(FLOOR(round(list_cosine_similarity(e.v, s.sv),
        |          ${graft.operators.Similarity.ScoreDp}) * 1000000) AS BIGINT) AS qc
        |      FROM asg JOIN e USING (vec_id) JOIN s USING (cell))
        |SELECT CAST((($IngestEpochSec + (vec_id % $IngestCycleMin) * 60)
        |    // 3600) * 3600000 AS BIGINT) AS bucket_ms,
        |  cell, COUNT(*) AS n, CAST(SUM(qc) AS BIGINT) AS sum_cos_e6,
        |  CAST(FLOOR(CAST(SUM(qc) AS DOUBLE) / COUNT(*)) AS BIGINT)
        |    AS mean_cos_e6
        |FROM q GROUP BY 1, 2 ORDER BY bucket_ms, cell""".stripMargin)),
    QueryDef("q73_stream_stream_join", q73,
      Some("""WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
        |  c.event_id AS click_id
        |FROM e p JOIN e c ON c.user_id = p.user_id
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |  AND c.us >= p.us - 3600000000 AND c.us <= p.us
        |ORDER BY p.user_id, purchase_id, click_id""".stripMargin)),
    QueryDef("q72_sliding_replay", q72,
      Some(graft.operators.TimeWindows.slidingOracleSql)),
    QueryDef("q70_stream_sessions", q70,
      Some(graft.operators.TimeWindows.sessionOracleSql)),
    // same result contract as q14 — the oracle is intentionally identical
    QueryDef("q55_stream_replay", q55,
      Some(s"""SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
        |  event_type, COUNT(*) AS n,
        |  ${graft.functions.num.sqlDsum("value")} AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY bucket_ms, event_type""".stripMargin)),
    QueryDef("q61_stream_dedup", q61,
      Some("""SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin)))
}
