package graft

import graft.sources.Interchange
import org.scalatest.funsuite.AnyFunSuite

/** The interchange round trips on planted NASTY strings — the values CSV
  * and JSON encoders historically mangle: embedded quotes, commas,
  * newlines, the quote-comma-newline combination, unicode, leading/trailing
  * whitespace, and the null-vs-empty-string distinction (the default CSV
  * options conflate them; the explicit nullValue sentinel must not).
  */
class InterchangeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def nasty = {
    import spark.implicits._
    Seq(
      (1L, "en", "web", "plain text"),
      (2L, "en", "web", "comma, inside"),
      (3L, "en", "web", "\"quoted\" words"),
      (4L, "en", "web", "line one\nline two\nline three"),
      (5L, "en", "web", "the trifecta: \"a,b\"\nnext, \"line\""),
      (6L, "ja", "web", "ユニコード éü☃"),
      (7L, "en", "web", "  padded  "),
      (8L, "en", "web", ""),                           // empty string
      (9L, "en", "web", null.asInstanceOf[String]),    // null
      (10L, null.asInstanceOf[String], "web", "null lang dimension"))
      .toDF("doc_id", "lang", "source", "text")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), Option(r.getString(1)),
      Option(r.getString(2)), Option(r.getString(3)))).toSeq

  test("JSONL round trip is lossless on nasty strings") {
    TestSpark.withTemp { tmp =>
      val got = rows(Interchange.jsonlRoundTrip(nasty, s"$tmp/j"))
      assert(got === rows(nasty.orderBy(org.apache.spark.sql.functions.col("doc_id"))))
    }
  }

  test("ORC round trip is lossless on nasty strings") {
    TestSpark.withTemp { tmp =>
      val got = rows(Interchange.orcRoundTrip(nasty, s"$tmp/o"))
      assert(got === rows(nasty.orderBy(org.apache.spark.sql.functions.col("doc_id"))))
    }
  }

  test("Avro round trip is lossless on nasty strings") {
    TestSpark.withTemp { tmp =>
      val got = rows(Interchange.avroRoundTrip(nasty, s"$tmp/a"))
      assert(got === rows(nasty.orderBy(org.apache.spark.sql.functions.col("doc_id"))))
      val byId = got.map(t => t._1 -> t._4).toMap
      assert(byId(8L) === Some(""), "empty string must survive as empty")
      assert(byId(9L) === None, "null must survive as null (union(null, string))")
    }
  }

  /** The q131 splittability consequence, MEASURED: the same one-file JSONL
    * corpus compressed two ways reads back with opposite task fan-outs.
    * gzip has no resync points, so Hadoop marks it non-splittable and the
    * scan gives the whole file to ONE task however small
    * `maxPartitionBytes` is — the 100 TB intake trap. bzip2 is a
    * `SplittableCompressionCodec`, so the same corpus fans out to
    * block-sized tasks like uncompressed text, and reassembles to the
    * same row count.
    */
  test("compressed intake: gzip is one task per file, bzip2 splits") {
    TestSpark.withTemp { tmp =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id").isNotNull)
      val n = docs.count()
      docs.coalesce(1).write.option("compression", "gzip").json(s"$tmp/gz")
      docs.coalesce(1).write.option("compression", "bzip2").json(s"$tmp/bz")
      def parts(p: String) = new java.io.File(p).listFiles()
        .filter(_.getName.startsWith("part-"))
      assert(parts(s"$tmp/gz").map(_.getName).forall(_.endsWith(".json.gz")))
      assert(parts(s"$tmp/bz").map(_.getName).forall(_.endsWith(".json.bz2")))
      val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
        val gz = spark.read.schema(docs.schema).json(s"$tmp/gz")
        val bz = spark.read.schema(docs.schema).json(s"$tmp/bz")
        assert(gz.rdd.getNumPartitions === 1,
          "gzip is non-splittable: one task per file regardless of size")
        assert(bz.rdd.getNumPartitions > 1,
          "bzip2 must fan one big file out to block-sized tasks")
        assert(gz.count() === n)
        assert(bz.count() === n, "split bzip2 read must reassemble every record")
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
    }
  }

  /** Avro's scale property, measured like the gzip/bzip2 pair: container
    * sync markers make one big file SPLIT — the read RDD's partitioning is
    * the Hadoop input-split fan-out, so forcing a small split size on a
    * single-file corpus must yield >1 partition AND reassemble every
    * record (the reader resumes at the next sync marker per split).
    */
  test("Avro intake: one big file splits at sync markers and reassembles") {
    TestSpark.withTemp { tmp =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .filter(col("doc_id").isNotNull)
      val n = docs.count()
      Interchange.avroWrite(docs.coalesce(1), s"$tmp/a") // ONE container file
      val hconf = spark.sparkContext.hadoopConfiguration
      val key = "mapreduce.input.fileinputformat.split.maxsize"
      val before = Option(hconf.get(key))
      try {
        hconf.setLong(key, 16384)
        val back = Interchange.avroRead(spark, s"$tmp/a", docs.schema)
        assert(back.rdd.getNumPartitions > 1,
          "a single Avro container must fan out to byte-range splits")
        assert(back.count() === n,
          "split Avro read must reassemble every record")
      } finally {
        before match {
          case Some(v) => hconf.set(key, v)
          case None => hconf.unset(key)
        }
      }
    }
  }

  test("CSV round trip is lossless, keeping null and empty string distinct") {
    TestSpark.withTemp { tmp =>
      val got = rows(Interchange.csvRoundTrip(nasty, s"$tmp/c"))
      assert(got === rows(nasty.orderBy(org.apache.spark.sql.functions.col("doc_id"))))
      val byId = got.map(t => t._1 -> t._4).toMap
      assert(byId(8L) === Some(""), "empty string must survive as empty")
      assert(byId(9L) === None, "null must survive as null, not empty")
    }
  }

  /** The documented CSV corner, pinned rather than hidden: CSV cannot
    * distinguish a value EQUAL to the null sentinel from null, whatever
    * sentinel is chosen — a NUL-byte text reads back null through CSV.
    * JSONL has no such corner (it escapes the byte), which is part of why
    * it is the at-scale default.
    */
  test("CSV sentinel corner is lossy and pinned; JSONL carries the same byte") {
    TestSpark.withTemp { tmp =>
      import spark.implicits._
      val df = Seq((1L, "en", "web", Interchange.CsvNullSentinel))
        .toDF("doc_id", "lang", "source", "text")
      assert(rows(Interchange.csvRoundTrip(df, s"$tmp/c")).head._4 === None,
        "the documented lossy corner: sentinel-valued text reads back null")
      assert(rows(Interchange.jsonlRoundTrip(df, s"$tmp/j")).head._4 ===
        Some(Interchange.CsvNullSentinel),
        "JSONL must carry the same byte losslessly")
    }
  }
}
