package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.reflect.io.Directory

/** Robustness: a real 100 TB corpus carries null text, null languages,
  * null embeddings, and null timestamps; the fixture tables carry none, so
  * the oracle gate never exercises them. Every registered query must RUN
  * (not throw) against tables with planted null fields — null rows may be
  * filtered, grouped under the null key, or propagated, but an operator
  * that crashes on them is a pipeline outage.
  *
  * The embedding queries also pin what happens to the planted null
  * vectors (vec_id >= [[PlantedId]]).
  */
class NullInputSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  /** Planted rows take their source row's id plus this offset. */
  private val PlantedId = 1000000L

  private lazy val nullDir: String = {
    val d = Files.createTempDirectory("graft-nulls").toString
    val src = "/root/testdata/sf0.001"
    Tables.names.foreach { t =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val withNulls = t match {
        case "documents" =>
          // deterministic planting: row 1 null text, row 2 null lang,
          // row 3 both (an idx column, not residues of arbitrary ids)
          val extra = base.orderBy(col("doc_id")).limit(3)
            .withColumn("idx", row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
            .withColumn("doc_id", col("doc_id") + 1000000)
            .withColumn("text", when(col("idx") === 2, col("text")))
            .withColumn("lang", when(col("idx") === 1, col("lang")))
            .withColumn("source", lit(null).cast("string"))
            .withColumn("n_chars", lit(null).cast("long"))
            .drop("idx")
          base.unionByName(extra)
        case "embeddings" =>
          val extra = base.limit(2)
            .withColumn("vec_id", col("vec_id") + PlantedId)
            .withColumn("embedding",
              lit(null).cast(base.schema("embedding").dataType))
          base.unionByName(extra)
        case "events" =>
          // null event_type / value / props; ts stays non-null — a null
          // event TIME is dropped at ingest by contract (watermark
          // semantics are undefined for it)
          val extra = base.limit(2)
            .withColumn("event_id", col("event_id") + 1000000)
            .withColumn("event_type", lit(null).cast("string"))
            .withColumn("value", lit(null).cast("double"))
            .withColumn("props", lit(null).cast(base.schema("props").dataType))
          base.unionByName(extra)
        case _ => base
      }
      withNulls.write.mode("overwrite").parquet(s"$d/$t.parquet")
    }
    d
  }

  test("every registered query survives planted null fields") {
    val failures = Registry.all.filterNot(_.name == "q00_reference_index").flatMap { q =>
      try {
        q.build(spark, nullDir).count()
        None
      } catch {
        case e: Throwable =>
          Some(s"${q.name}: ${e.getClass.getSimpleName} ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  private def build(prefix: String) =
    Registry.all.find(_.name.startsWith(prefix + "_")).get.build(spark, nullDir)

  test("embedding queries that drop null vectors emit no planted id") {
    // every id-typed output column: `id` or `*_id`, integral
    val leaks = Seq("q92b", "q92c", "q39", "q39b", "q101", "q101b", "q121",
        "q121b", "q103", "q125", "q126", "q98", "q98b", "q99", "q99b",
        "q111", "q122", "q117").flatMap { q =>
      val df = build(q)
      val ids = df.schema.fields.filter(f =>
        (f.name == "id" || f.name.endsWith("_id")) &&
          (f.dataType == LongType || f.dataType == IntegerType)).map(_.name)
      ids.flatMap { c =>
        val n = df.filter(col(c) >= PlantedId).count()
        if (n > 0) Some(s"$q.$c: $n planted") else None
      }
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }

  test("semantic dedup keeps each planted null vector as its own singleton") {
    for (q <- Seq("q85", "q104")) {
      val planted = build(q).filter(col("vec_id") >= PlantedId)
        .select(col("vec_id"), col("rep_id"), col("is_kept")).collect()
      assert(planted.length == 2, s"$q: ${planted.mkString(", ")}")
      planted.foreach { r =>
        assert(r.getLong(1) == r.getLong(0) && r.getBoolean(2), s"$q: $r")
      }
    }
  }

  override def afterAll(): Unit = {
    new Directory(new java.io.File(nullDir)).deleteRecursively()
    super.afterAll()
  }
}
