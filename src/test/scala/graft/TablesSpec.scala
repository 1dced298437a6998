package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.TestSpark.jobsOf
import org.scalatest.funsuite.AnyFunSuite

/** `Tables` resolves each table's parquet schema once per session: a warm
  * read starts no job, and a file rewritten at the same path with other
  * columns is read with its new schema.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Write `sql`'s rows as ONE parquet file at `dir/name.parquet` (the
    * fixture's single-file layout), replacing whatever is there. */
  private def writeFile(dir: String, name: String, sql: String): Unit = {
    TestSpark.withTemp { tmp =>
      spark.sql(sql).coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
      val part = new java.io.File(s"$tmp/out").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("a warm Tables read starts no job") {
    TestSpark.withTemp { dir =>
      writeFile(dir, "t", "SELECT id, id * 2 AS twice FROM range(10)")
      // the first read infers the schema with a job: the listener sees jobs
      assert(jobsOf(Tables(spark, dir, "t")) >= 1)
      assert(jobsOf(Tables(spark, dir, "t")) === 0)
    }
  }

  test("a file rewritten at the same path is read with its new schema") {
    TestSpark.withTemp { dir =>
      writeFile(dir, "t", "SELECT id, id * 2 AS twice FROM range(10)")
      assert(Tables(spark, dir, "t").columns.toSeq === Seq("id", "twice"))
      writeFile(dir, "t",
        "SELECT CAST(id AS STRING) AS name, id * 0.5 AS half, id FROM range(5)")
      val df = Tables(spark, dir, "t")
      assert(df.columns.toSeq === Seq("name", "half", "id"))
      assert(df.orderBy("id").collect().map(_.getString(0)).toSeq ===
        (0 until 5).map(_.toString))
    }
  }
}
