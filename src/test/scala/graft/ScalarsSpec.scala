package graft

import graft.operators.Scalars
import org.scalatest.funsuite.AnyFunSuite

/** Q13 approx half: HLL must land within ±5% of the exact distinct count
  * per group (SURVEY §2.9 — property-checked, never hash-checked).
  */
class ScalarsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("approx_percentile within 5% of exact percentiles per returnflag") {
    import org.apache.spark.sql.functions._
    val rows = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("exact_p50"),
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("approx_p50"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val e = r.getDouble(1); val a = r.getDouble(2)
      assert(math.abs(a - e) / e <= 0.05, s"${r.getString(0)}: $a vs $e")
    }
  }

  test("q52 approximate quantiles respect the sketch rank-error bound") {
    import org.apache.spark.sql.functions._
    val eps = 1.0 / 1000 // accuracy parameter of q52
    val quantities = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    val rows = graft.operators.Advanced.q52(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      val vals = quantities(flag)
      val n = vals.length
      for ((q, i) <- Seq(0.25 -> 1, 0.5 -> 2, 0.75 -> 3)) {
        val a = r.getDouble(i)
        // returned value must be an actual data point whose rank is within
        // eps*n (+1 for boundary arithmetic) of the target rank
        val lo = vals.count(_ < a)
        val hi = vals.count(_ <= a)
        val target = q * n
        assert(lo <= target + eps * n + 1 && hi >= target - eps * n - 1,
          s"$flag p$q: value $a rank [$lo,$hi] vs target $target (n=$n)")
      }
    }
  }

  test("approx_count_distinct within 5% of exact per event_type") {
    val exact = Scalars.q13(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Scalars.q13Hll(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet === approx.keySet)
    for ((k, e) <- exact) {
      val a = approx(k)
      assert(math.abs(a - e).toDouble / e <= 0.05,
        s"$k: approx $a vs exact $e drifts > 5%")
    }
  }

  test("q71b sketch twin clips bit-for-bit the rows of the exact q71 anchor") {
    // gate accuracy makes eps*N < 1, so the GK sketch's P99 IS the discrete
    // P99 — the twin must equal the anchor row-for-row, which is what lets
    // one oracle SQL hash-check both
    val a = graft.operators.Advanced.q71(spark, dir).collect().toSeq
    val b = graft.operators.Advanced.q71b(spark, dir).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("q71b at production accuracy: cap is a data value in the GK rank band") {
    import org.apache.spark.sql.functions._
    val acc = graft.operators.Advanced.Q71bProductionAccuracy
    val eps = 1.0 / acc
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"))
    val byFlag = li.select(col("l_returnflag"), col("l_extendedprice"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getDouble(1)).sorted).toMap
    val caps = graft.operators.Advanced.winsorizeSketch(li, acc)
      .select(col("l_returnflag"), col("cap")).distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(caps.keySet == byFlag.keySet)
    for ((flag, cap) <- caps) {
      val vals = byFlag(flag)
      val n = vals.length
      assert(vals.contains(cap), s"$flag: cap $cap is not a data value")
      val lo = vals.count(_ < cap)
      val hi = vals.count(_ <= cap)
      val target = math.ceil(0.99 * n)
      assert(lo <= target + eps * n + 1 && hi >= target - eps * n - 1,
        s"$flag: cap $cap rank [$lo,$hi] vs target $target (n=$n)")
    }
  }

  /** q95: the merged-from-sub-sketches estimate must EQUAL the direct
    * one-pass estimate (HLL register state is a slot-wise max — associative
    * and order-independent, so the union of per-(source, lang) sketches is
    * bit-equivalent to sketching the union), and both must land within ±5%
    * of the exact per-source distinct token count.
    */
  test("q95 HLL union-of-parts equals direct sketch; both within 5% of exact") {
    import org.apache.spark.sql.functions._
    val exact = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.text.cleanTokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(count_distinct(col("tok")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Scalars.q95(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === exact.keySet)
    for ((src, (merged, direct)) <- got) {
      assert(merged === direct,
        s"$src: union-of-parts $merged != direct $direct")
      val e = exact(src)
      assert(math.abs(direct - e).toDouble / e <= 0.05,
        s"$src: sketch $direct vs exact $e drifts > 5%")
    }
  }

  /** The q95 claim is that sketches are STORED state, not a one-shot
    * aggregate: per-group sketch bytes must survive a parquet round-trip
    * and union from disk to the same estimates as the live pipeline —
    * the snapshot workflow (write today's sketches, union them tomorrow
    * without re-reading tokens) verbatim.
    */
  test("q95 sketch bytes survive parquet and union from disk to the same estimates") {
    TestSpark.withTemp { d =>
      import org.apache.spark.sql.functions._
      val toks = Tables.documents(spark, dir)
        .select(col("source"), col("lang"),
          explode(graft.functions.text.cleanTokens(col("text"))).as("tok"))
      val perSnapshot = toks
        .groupBy(col("source"), col("lang"))
        .agg(hll_sketch_agg(col("tok"), lit(Scalars.HllLgK)).as("sketch"))
      perSnapshot.write.mode("overwrite").parquet(d)
      val fromDisk = spark.read.parquet(d)
        .groupBy(col("source"))
        .agg(hll_sketch_estimate(
          hll_union_agg(col("sketch"), lit(false))).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val live = Scalars.q95(spark, dir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(fromDisk === live,
        "disk-unioned estimates diverge from the live pipeline")
    }
  }
}
