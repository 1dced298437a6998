package graft

import org.scalatest.funsuite.AnyFunSuite

/** Robustness: every registered query must run (and return an empty,
  * schema-correct result) against empty tables — operators that blow up on
  * empty partitions, empty aggregates, or empty model-training input are
  * the kind of 2 a.m. page a 100 TB pipeline cannot afford.
  */
class EmptyInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Every fixture table, with its schema and no rows, under `d`. */
  private def writeEmptyTables(d: String): Unit =
    Tables.names.foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
        .limit(0)
        .write.mode("overwrite").parquet(s"$d/$t.parquet")
    }

  /** Known oracle divergence on empty input (never hit by the gate, which
    * always runs on populated sf dirs): ANSI GROUP BY ROLLUP/CUBE emits the
    * grand-total grouping-set row even for an empty table (DuckDB does),
    * while Spark's rollup()/cube() return 0 rows. This spec asserts the
    * Spark behavior for q12/q41 like everything else, and records the
    * divergence here.
    */
  /** Global aggregates (no GROUP BY) correctly emit exactly one row on
    * empty input — ANSI semantics, and what the DuckDB oracle produces.
    * q65's global Count-Min aggregate likewise answers every probe with an
    * estimate of 0 on an empty corpus — one row per probe is the sketch
    * giving the right answer, not a leak. q88's funnel report is six such
    * global aggregates unioned (one per curation stage): an empty corpus
    * correctly reports 0 docs / 0 tokens at every stage, matching the
    * oracle's UNION ALL of six COUNT(*) branches.
    */
  private val expectedRows = Map(
    "q54_promo_revenue" -> 1L,
    "q65_cms_counts" -> graft.operators.TextAnalysis.CmsProbes.size.toLong,
    "q88_curation_funnel" -> 6L,
    // q77b is dir-independent BY DESIGN (q00's class): it decodes the
    // committed pixel-known PNG fixture, so an empty sf dir still yields
    // one profile row per fixture asset
    "q77b_image_neardup_decoded" ->
      graft.sources.MediaFixture.NumAssets.toLong,
    // the calibration grid survives an empty corpus BY CONTRACT (round-13
    // fix): all 13 thresholds appear with zero counts — a calibration
    // table that vanishes when its input is empty surprises consumers
    "q102_gate_sweep" ->
      graft.operators.TextAnalysis.GateSweepThresholds.size.toLong,
    // same contract for the ANN calibration grid: 5 fan-outs × 3
    // shortlists with zero counts and null recall on an empty corpus
    "q103_ann_sweep" ->
      (graft.operators.Similarity.SweepProbes.size *
        graft.operators.Similarity.SweepShortlists.size).toLong,
    // and for the PSI drift grid: all 14 buckets, zero counts, psi 0
    "q116_score_drift_psi" ->
      (graft.operators.TextAnalysis.GateSweepThresholds.size + 1).toLong,
    // token drift's axis is data-derived so an empty corpus has no vocab
    // rows — but the <other> bucket row survives by the fold's contract
    "q118_token_drift" -> 1L,
    // the LSH calibration grid survives an empty corpus by the same
    // contract as q102/q103: all 6 (bands, rows) points with zero counts
    // and null recall
    "q133_lsh_sweep" -> graft.operators.Dedup.LshSweepRows.size.toLong)

  test("every registered query runs on empty tables and returns 0 rows") {
    TestSpark.withTemp { emptyDir =>
      writeEmptyTables(emptyDir)
      // q00 reads the fixed reference corpus, not the sf dir
      val failures = Registry.all.filterNot(_.name == "q00_reference_index").flatMap { q =>
        try {
          val n = q.build(spark, emptyDir).count()
          val want = expectedRows.getOrElse(q.name, 0L)
          if (n == want) None else Some(s"${q.name}: $n rows from empty input")
        } catch {
          case e: Throwable =>
            Some(s"${q.name}: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(100)}")
        }
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    }
  }
}
