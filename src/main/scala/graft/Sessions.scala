package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession recipe for every engine entry point (Verify, Bench,
  * specs), so semantics never drift between the correctness gate and tests.
  *
  * - ANSI off: the oracle contract (SURVEY §2.9) relies on permissive casts
  *   (`''::int -> NULL`) and null-on-divide-by-zero; Spark 4 defaults ANSI on.
  * - UTC: hash-checked timestamps must not depend on host zone.
  * - shuffle.partitions = cores (32 on the driver box, not 200): at local
  *   scale each extra partition is pure scheduling overhead; on a real
  *   cluster this knob is sized to executor count × cores with AQE coalescing
  *   partitions that come up small.
  * - AQE on: runtime coalescing + skew-join splitting is part of the 100 TB
  *   design (SURVEY §4.2).
  */
object Sessions {
  def local(appName: String): SparkSession = local(appName, Map.empty)

  /** The same recipe with extra STATIC conf entries — for mains that must
    * run under a conf only readable at SparkEnv creation (e.g. the spill
    * certification's force-spill threshold). Extra entries apply only when
    * this call actually creates the session; a getOrCreate hit on a live
    * session cannot change static confs, so callers needing them must run
    * in their own JVM (SpillCheck does — see SpillSpec).
    */
  def local(appName: String, extra: Map[String, String]): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // events.parquet stores TIMESTAMP(NANOS), which Spark's parquet reader
      // rejects; read it as raw nanos (Tables.events converts to a
      // microsecond timestamp column).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // The generated-code cache is keyed on source text and holds 100
      // entries by default — sized for a driver running a handful of query
      // shapes, not an engine hosting 166. One q135b run alone touches
      // ~130 distinct sources, so at the default it recompiled 24-30 of
      // them with janino on EVERY run (measured in round 19; SCALE.md,
      // "Retired probe scripts"), and any pass over the
      // inventory evicts everything 40 times over. 4096 entries bounds
      // the cache at tens of MB of class metadata on any driver — the
      // knob is scale-independent (compilation is pure driver-side waste
      // at 8 cores, 32 cores, or a 1000-executor cluster alike).
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
    val spark = extra.foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
