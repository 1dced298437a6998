package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [queryName...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional subset: dump only the named queries (oracle_sql.json still
    // carries every oracle so compare.py works unchanged)
    val only = args.drop(2).toSet
    val spark = Sessions.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    // THE authoritative inventory size — SCALE.md/README cite this line
    // (the r8 record said "91" where registry/correctness/bench all said 90;
    // one printed source of truth ends that class of drift)
    System.err.println(s"[verify] registry: ${Registry.all.size} queries")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full registered-query list: lets the compare step treat a rows-only
    // query that crashed (no oracle entry AND no output dir) as a FAIL
    // instead of silently skipping it.
    val names = SparkEntry.queries.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), names)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      // strict mode (verify_all.sh): a thrown query fails the step. The
      // driver runs WITHOUT this env var and keeps getting partial output —
      // 80 green rows + 1 err beats zeroing the round's correctness.
      if (sys.env.contains("SPARK_GRAFT_VERIFY_STRICT")) sys.exit(1)
    }
  }
}
