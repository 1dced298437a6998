package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface registered by GraftExtensions must agree with
  * the Column API (same expressions underneath).
  */
class ExtensionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("SQL simhash64/shingle_hashes/cosine_sim agree with the Column API") {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "spark native analytics engine"))
      .toDF("id", "text").createOrReplaceTempView("ext_docs")

    val sql = spark.sql(
      """SELECT id,
        |  simhash64(transform(split(lower(text), '[^a-z0-9]+'), t -> xxhash64(t))) AS fp,
        |  shingle_hashes(split(lower(text), '[^a-z0-9]+'), 3) AS sh,
        |  cosine_sim(array(1.0d, 2.0d, 3.0d), array(3.0d, 2.0d, 1.0d)) AS c
        |FROM ext_docs ORDER BY id""".stripMargin).collect()

    val api = spark.table("ext_docs")
      .select(col("id"),
        Dedup.simhash(split(lower(col("text")), "[^a-z0-9]+")).as("fp"),
        graft.functions.expressions.sketch
          .shingleHashes(split(lower(col("text")), "[^a-z0-9]+"), 3).as("sh"))
      .orderBy("id").collect()

    sql.zip(api).foreach { case (s, a) =>
      assert(s.getLong(1) === a.getLong(1), "simhash mismatch")
      assert(s.getSeq[Long](2) === a.getSeq[Long](2), "shingle mismatch")
    }
    // cosine of (1,2,3)x(3,2,1) = 10/14
    assert(math.abs(sql.head.getDouble(3) - 10.0 / 14.0) < 1e-12)
  }

  test("SQL gram_hashes agrees with the Column API and keeps positional dups") {
    import spark.implicits._
    Seq((1L, "x y x y x y x y"), (2L, "a b"))
      .toDF("id", "text").createOrReplaceTempView("gram_docs")
    val viaSql = spark.sql(
      """SELECT id, gram_hashes(token_xxh64(text), 3) AS g
        |FROM gram_docs ORDER BY id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val viaColumn = spark.table("gram_docs")
      .select(col("id"), graft.functions.expressions.sketch
        .gramHashes(graft.functions.expressions.sketch
          .tokenHashes(col("text")), 3).as("g"))
      .orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(viaSql === viaColumn)
    val doc1 = viaSql.head._2
    // "x y x" at positions 0,2,4 and "y x y" at 1,3,5 — positional
    // multiplicity is the whole point vs shingle_hashes
    assert(doc1.size === 6)
    assert(doc1.distinct.size === 2)
    assert(doc1(0) === doc1(2) && doc1(2) === doc1(4))
    // doc shorter than n -> empty, not null
    assert(viaSql(1)._2.isEmpty)
  }

  test("SQL bloom_might_contain agrees with the Column API") {
    import graft.functions.expressions.bloom
    import spark.implicits._
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.03)
    Seq("alpha", "beta", "gamma").foreach(bf.putString)
    val probes = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
      .toDF("s")
    probes.createOrReplaceTempView("bloom_probes")
    val viaSql = spark.sql(
      s"""SELECT s, bloom_might_contain(s, ${bloom.sqlLiteral(bf)}) AS hit
         |FROM bloom_probes ORDER BY s""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val viaColumn = probes
      .select(col("s"), bloom.mightContain(col("s"), bf).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(viaSql === viaColumn)
    // no false negatives, ever
    Seq("alpha", "beta", "gamma").foreach(s => assert(viaSql(s), s))
  }

  test("HOF cosine and native agree on null/mismatched-length inputs") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0), Array(1.0, 2.0, 3.0)), // length mismatch -> null
      (Array(1.0, 2.0), Array(2.0, 4.0)))
      .toDF("a", "b")
      .select(graft.functions.expressions.vecexprs
        .cosineSim(col("a"), col("b")).as("c"))
      .collect()
    assert(df(0).isNullAt(0))
    assert(math.abs(df(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("SQL minhash_band_keys agrees with the operator pipeline constants") {
    val keys = spark.sql(
      s"""SELECT minhash_band_keys(array(xxhash64('a'), xxhash64('b')),
         |  ${Dedup.MinhashK}, ${Dedup.Bands}, ${Dedup.MinhashSeed}) AS k"""
        .stripMargin).collect().head.getSeq[Long](0)
    assert(keys.length === Dedup.Bands)
    assert(keys.distinct.length === keys.length)
  }

  test("SQL token_xxh64/shingle_from_hashes/word_ngrams agree with built-ins") {
    val r = spark.sql(
      """SELECT
        |  token_xxh64('The quick-Brown fox 42!') AS th,
        |  transform(filter(split(lower('The quick-Brown fox 42!'), '[^a-z0-9]+'),
        |    t -> t <> ''), t -> xxhash64(t)) AS th_hof,
        |  shingle_from_hashes(token_xxh64('a b c d'), 2) AS sfh,
        |  shingle_hashes(array('a','b','c','d'), 2) AS sh,
        |  word_ngrams('The quick-Brown fox', 2) AS ng
        |""".stripMargin).collect().head
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    assert(r.getSeq[Long](2) === r.getSeq[Long](3))
    assert(r.getSeq[String](4) === Seq("the quick", "quick brown", "brown fox"))
  }
}
