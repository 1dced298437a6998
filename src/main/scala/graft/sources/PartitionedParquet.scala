package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-style partitioned parquet output — the canonical layout a curation
  * pipeline writes its corpus shards in: one directory per partition-key
  * value (`lang=en/…`), files within each partition sorted on the sort key
  * so downstream range scans and merge-style consumers read sequentially.
  *
  * At 100 TB this buys two things on the READ side, both asserted in
  * SourcesSpec: partition PRUNING (a `lang = 'en'` filter never lists, let
  * alone reads, the other languages' directories — PartitionFilters in the
  * scan, zero data touched) and within-file ordering (consumers needing
  * doc_id order per shard skip the sort). The partition key should be
  * low-cardinality and skew-tolerant (language, source, date — never a
  * high-cardinality id, which would explode the file count).
  */
object PartitionedParquet {

  /** Default per-file record cap for data-sized artifacts. File-size
    * discipline is the WRITE-side half of the 100 TB layout story: with no
    * cap, one task owning a hot range writes one monster file (a
    * single-task wall for any non-splittable downstream consumer and a
    * lopsided unit of retry/replication); the range partitioner bounds
    * SKEW across tasks but not the absolute size a task emits. 2^20
    * records ≈ 100 MB–1 GB parquet at typical doc sizes — the HDFS/S3
    * sweet spot (well over row-group size, well under the
    * nobody-can-reread-this range). Deliberately a RECORD cap, not bytes:
    * Spark's writer enforces `maxRecordsPerFile` exactly and the split
    * preserves the in-file sort; a bytes target would need a post-hoc
    * estimate pass. The opposite failure mode — 10^5 tiny files per
    * partition — is already prevented structurally by
    * repartitionByRange (few tasks own each directory's range).
    */
  val DefaultMaxRecordsPerFile: Long = 1L << 20

  def write(df: DataFrame, path: String, partitionKey: String,
      sortKey: String,
      maxRecordsPerFile: Long = DefaultMaxRecordsPerFile): Unit = {
    import org.apache.spark.sql.functions.col
    // RANGE-partition on (partitionKey, sortKey): each directory is written
    // by the few tasks owning that key's range (small file count — a plain
    // repartition(col) would write every task's sliver into every
    // directory), and crucially a SKEWED key value still spans multiple
    // tasks because the range boundaries cut on the sort key within it —
    // hash-repartitioning on the key alone would funnel a dominant value
    // (lang=en at half the corpus) through one task. Rows arrive
    // range-sorted, so the within-task sort is nearly free. The record cap
    // then bounds what each task may put in ONE file; the writer rolls to
    // a new file at the cap, preserving the sorted order across the roll.
    // The task count is explicit, one writer per core: left unset, AQE
    // coalesces a small input's exchange to ONE partition, and one task
    // writes every file.
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        col(partitionKey), col(sortKey))
      .sortWithinPartitions(col(partitionKey), col(sortKey))
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionKey)
      .mode("overwrite")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
