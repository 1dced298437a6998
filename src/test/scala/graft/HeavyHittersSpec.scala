package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Misra-Gries guarantees vs exact counts on the real fixture corpus. The
  * sketch's contract (and the only thing a mergeable summary promises):
  * containment of every true heavy hitter and a bounded undercount — NOT
  * exact counts, which is why q64 is rows-only in the oracle gate.
  */
class HeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("sketch contains every true heavy hitter within the MG error bound") {
    val exact = Tables.documents(spark, dir)
      .select(explode(graft.functions.text.cleanTokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val bound = n / (TextAnalysis.HeavyHittersK + 1)

    val sketch = TextAnalysis.q64(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sketch.size <= TextAnalysis.HeavyHittersK)

    // containment: anything with true frequency > N/(k+1) must survive
    val mustHave = exact.filter(_._2 > bound).keySet
    assert(mustHave.nonEmpty, "fixture has no heavy hitters — bound untested")
    val missing = mustHave.diff(sketch.keySet)
    assert(missing.isEmpty, s"dropped heavy hitters: $missing")

    // error bound: estimate <= true <= estimate + N/(k+1)
    sketch.foreach { case (t, est) =>
      val truth = exact.getOrElse(t, 0L)
      assert(est <= truth, s"$t overcounted: est $est > true $truth")
      assert(truth <= est + bound,
        s"$t undercounted past the bound: true $truth > est $est + $bound")
    }
  }
}
