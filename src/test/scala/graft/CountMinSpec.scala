package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Count-Min guarantees vs exact counts on the real fixture corpus, plus the
  * property that sets CMS apart from Misra-Gries: counters are pure sums, so
  * the estimates are bit-identical under ANY partitioning / merge order.
  */
class CountMinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def exactCounts: Map[String, Long] =
    Tables.documents(spark, dir)
      .select(explode(graft.functions.text.cleanTokens(col("text"))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("estimates always over-count and stay within the eps*N bound") {
    val exact = exactCounts
    val n = exact.values.sum
    val est = TextAnalysis.q65(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet === TextAnalysis.CmsProbes.toSet)
    // fixture must exercise both present and absent probes
    assert(TextAnalysis.CmsProbes.exists(p => exact.getOrElse(p, 0L) > 0))
    assert(TextAnalysis.CmsProbes.exists(p => exact.getOrElse(p, 0L) == 0))
    val bound = math.ceil(TextAnalysis.CmsEps * n).toLong
    est.foreach { case (p, e) =>
      val truth = exact.getOrElse(p, 0L)
      assert(e >= truth, s"$p undercounted: est $e < true $truth")
      assert(e <= truth + bound,
        s"$p over the eps*N bound: est $e > true $truth + $bound")
    }
  }

  test("estimates are identical under a different partitioning") {
    import spark.implicits._
    val base = TextAnalysis.q65(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reshuffled = Tables.documents(spark, dir)
      .repartition(7, col("lang"))
      .select(explode(graft.functions.text.cleanTokens(col("text"))).as("token"))
      .as[String]
      .select(new graft.functions.CountMinAggregator(
        TextAnalysis.CmsProbes, TextAnalysis.CmsEps,
        TextAnalysis.CmsConfidence, TextAnalysis.CmsSeed).toColumn)
      .toDF("cms")
      .select(explode(col("cms")).as("e"))
      .select(col("e._1").as("probe"), col("e._2").as("est_count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(base === reshuffled)
  }
}
