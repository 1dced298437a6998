package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * One parquet file per table; at cluster scale these would be partitioned
  * directories — `spark.read.parquet` handles both shapes identically, so the
  * engine code never assumes a single file.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  // Parquet schema per session and path, validated by an on-disk signature.
  // Without a schema `spark.read.parquet` runs a one-task footer-inference
  // JOB on every call, i.e. on every query construction. An unchanged file
  // read under the same inference confs (set once, in Sessions.local) gives
  // the same schema, so a resident session pays that job once per table.
  // One entry per (session, path): a superseded signature is
  // replaced, not accumulated, and a stopped session's entries go with it.
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.concurrent.ConcurrentHashMap[
      String, ((Long, Long), StructType)]]())

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * session while the file keeps its length and modification time. For a
    * directory-form table the signature sums its part files' lengths and
    * takes their latest modification time: parts rewritten in place under
    * the same names leave the directory's own time unchanged.
    */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val status = fs.getFileStatus(p)
    val parts = if (status.isDirectory) fs.listStatus(p).toSeq else Seq(status)
    val sig = (parts.map(_.getLen).sum,
      (status +: parts).map(_.getModificationTime).max)
    schemas.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
      .compute(path, (_, cur) =>
        if (cur != null && cur._1 == sig) cur
        else (sig, spark.read.parquet(path).schema))._2
  }

  def region(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  /** `ts`'s PHYSICAL type depends on how the fixture was generated —
    * TIMESTAMP(NANOS) (read as a raw nanos BIGINT under Sessions'
    * nanosAsLong) or plain timestamp[us]/[ns] (read as a Spark timestamp,
    * NTZ when the writer stored no zone). Expose the SAME logical pair
    * either way: a microsecond TIMESTAMP (`ts`, session-zone UTC — the
    * instant DuckDB's reader exposes to the oracle) plus the exact nano
    * count (`ts_ns`, truncated at the source's own resolution). Every
    * query works in the microsecond-or-coarser domain, so both physical
    * forms hash identically against the oracle.
    */
  def withEventTime(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        raw.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }

  /** Spread an UNSPLITTABLE input ahead of heavy per-row compute (guide
    * §2.5 "input skew: one huge unsplittable file ... repartition
    * immediately after the read").
    *
    * Parquet splits cannot cut inside a row group, so a file written as ONE
    * row group scans as ONE task no matter the split size — and the fixture
    * tables are exactly that shape (measured r19: every documents scan at
    * sf1 ran single-task, so a 7-regex battery took the same 6.2 s on 8 and
    * on 32 cores; the driver's ≈1 core-scaling ratios trace to this, not to
    * the engine ignoring `$SPARK_GRAFT_CPUS`). When the frame's ACTUAL scan
    * parallelism is below half the session's cores, hash-redistribute by
    * `key` so the expression work above runs on every core; on splittable
    * input — a multi-file or multi-row-group table, i.e. every cluster
    * layout at scale — the condition is false and NO payload shuffle is
    * added. The condition reads data shape, never the core count alone, so
    * it is scale-adaptive rather than local-mode tuning.
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column,
      minBytes: Long = SpreadMinBytes): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    // no file source (in-memory spec frames): already partitioned, leave it
    if (files.isEmpty) return df
    // enough FILES to split across the cores — the every-cluster-layout
    // short-circuit: no footers or file stats are read when the table has
    // many parts
    if (files.length * 2 > cores) return df
    val conf0 = spark.sessionState.newHadoopConf()
    // REAL on-disk bytes, not optimizedPlan.stats: the stats estimate of a
    // projection scales by DEFAULT per-column widths (string = 20 B), so a
    // select(doc_id, text) of a text table under-reads its mass by the
    // text's true width and silently skipped the spread (measured r19 on
    // q94). Below the mass floor the single-task work is cheaper than the
    // exchange it would buy — identity.
    val bytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf0).getFileStatus(p).getLen
    }.sum
    if (bytes <= minBytes) return df
    // few files: splittability is decided by their ROW GROUPS, not their
    // byte-range splits — Spark plans bytes/maxSplitBytes splits, but a
    // split yields rows only if a row-group midpoint falls inside it, so a
    // 57 MB single-row-group file plans ~14 splits and still scans as ONE
    // task. Footer reads here are a handful of local metadata reads, paid
    // only on small-file-count inputs past the mass floor.
    val rowGroups = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f), conf0)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size finally r.close()
    }.sum
    // SYNTHETIC spread key (guide §2.5's pmod(xxhash64(id), 20·n) idiom),
    // deliberately NOT the raw key: repartition(cores, key) followed by a
    // groupBy/join on the same key satisfies the downstream requirement and
    // the planner collapses it into that operator's own exchange — putting
    // the heavy projection right back on the single scan task (measured
    // r19: q94's plan was bit-identical with a doc_id spread). The derived
    // key keeps the exchange where it was placed, is deterministic under
    // task retry, and 20x the partition count spreads hash collisions.
    if (rowGroups * 2 <= cores)
      df.repartition(cores,
        pmod(xxhash64(key), lit(cores.toLong * 20)))
    else df
  }

  /** Default data-mass floor for [[spread]]: below this the single-task
    * expression work costs less than the exchange it would buy (measured
    * r19 at sf0.1/0.6 MB: spreading q114/q66 REGRESSED +0.15-0.3 s — the
    * exchange's fixed cost — while at sf1/5.8 MB the same spread turned a
    * 6.2 s single-core q112 battery into sub-second parallel work). 4 MB
    * is Spark's own openCostInBytes calibration ("opening a file costs
    * about a 4 MB scan"), the same work-vs-overhead unit. The floor is a
    * WORK proxy calibrated on regex-battery-intensity expressions
    * (~0.3 s/MB single-core); a call site whose expression is measurably
    * costlier per byte passes its own `minBytes` (q107's 16-MD5-per-
    * shingle band pass measures ~2 s/MB and overrides to 256 KB; the
    * inverted index's tokenize map, 0.54 s/MB, to ~95 KB).
    */
  val SpreadMinBytes: Long = 4L << 20

  def events(spark: SparkSession, dir: String): DataFrame =
    withEventTime(apply(spark, dir, "events"))
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
