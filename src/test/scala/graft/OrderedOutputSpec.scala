package graft

import graft.operators.{InvertedIndex, TimeWindows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Ordered outputs do not depend on partitioning: the same `collect()`
  * sequence, row for row, at any shuffle-partition count, and with or
  * without `Tables.spread` in front of the inverted index's map phase.
  */
class OrderedOutputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the sf0.1 tables the benchmark derives its inputs from (TESTDATA.md),
  // checked in; tests run from the repository root
  private val sf01 = "perfbench/fixture/sf0.1"

  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q01" -> InvertedIndex.documentsIndex,
    "q01b" -> ((s, d) => InvertedIndex.documentsIndexSalted(s, d)),
    "q02" -> InvertedIndex.wordCount,
    "q15" -> TimeWindows.q15)

  private def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  test("q01, q01b, q02, q15: identical ordered output at 1, 7 and all-core shuffle partitions") {
    val cores = spark.sparkContext.defaultParallelism
    for ((name, q) <- queries) {
      val runs = Seq(1, 7, cores).distinct.map(n =>
        n -> withShufflePartitions(n)(q(spark, sf01).collect().toSeq))
      val (n0, want) = runs.head
      assert(want.nonEmpty, s"$name produced no rows")
      for ((n, got) <- runs.tail)
        assert(got == want,
          s"$name: output at $n shuffle partitions differs from $n0 partitions")
    }
  }

  test("q01, q01b, q02: identical ordered output with and without the map-side spread") {
    TestSpark.withTemp { dir =>
      // The fixture's documents file is ONE row group, so its scan is one
      // task and the index spreads it. The same rows written as many row
      // groups count as splittable input, which `Tables.spread` leaves alone.
      spark.read.parquet(s"$sf01/documents.parquet").coalesce(1)
        .write.option("parquet.block.size", 16384L).parquet(s"$dir/documents.parquet")
      def spreads(d: String) =
        InvertedIndex.documentPostings(spark, d).queryExecution.executedPlan
          .toString.contains("xxhash64")
      assert(spreads(sf01), "the single-row-group input was not spread")
      assert(!spreads(dir), "the many-row-group input was spread")
      for ((name, q) <- queries.filter(_._1 != "q15")) {
        val want = q(spark, dir).collect().toSeq
        assert(want.nonEmpty, s"$name produced no rows")
        assert(q(spark, sf01).collect().toSeq == want,
          s"$name: the spread map phase changed the output")
      }
    }
  }
}
