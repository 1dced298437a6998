package graft

import graft.functions.expressions._
import graft.functions.text
import graft.operators.Dedup
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
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
        sketch.shingleHashes(split(lower(col("text")), "[^a-z0-9]+"), 3).as("sh"))
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

  /** A small adversarial frame, built from an RDD so the optimizer cannot
    * evaluate projections over it as a local relation: null, empty,
    * multibyte and astral text; null and empty arrays; vectors of
    * different lengths and a NaN element.
    */
  private lazy val adversarial: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("text", StringType),
      StructField("toks", ArrayType(StringType)),
      StructField("hs", ArrayType(LongType)),
      StructField("va", ArrayType(DoubleType)),
      StructField("vb", ArrayType(DoubleType))))
    val rows = Seq(
      Row(1L, null, null, null, null, null),
      Row(2L, "", Seq(), Seq(), Seq(), Seq()),
      Row(3L, "FILE \u00e9t\u00e9 \u00c9T\u00c9 Stra\u00dfe \u212Aelvin",
        Seq("a", "b", "c", "d"), Seq(1L, 2L, 3L, 4L, 5L),
        Seq(1.0, 2.0, 3.0, 4.0), Seq(4.0, 3.0, 2.0, 1.0)),
      Row(4L, "astral \uD83D\uDE00 smile \uD83D\uDE00 astral smile",
        Seq("\u00e9", "\uD83D\uDE00", "x"), Seq(-7L, -7L, 42L),
        Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),
      Row(5L, "the quick brown fox jumps over the lazy dog the quick fox",
        Seq("the", "quick", "the", "quick", "fox"), Seq(Long.MinValue, 0L, Long.MaxValue),
        Seq(Double.NaN, 1.0, -2.0, 0.5), Seq(0.0, 0.0, 0.0, 0.0)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def c(e: Column): Expression = ColumnBridge.expression(e)
  private def native(e: Expression): Column = ColumnBridge.column(e)

  test("every registered SQL function equals its Column form") {
    adversarial.createOrReplaceTempView("adv")
    val bf = BloomFilter.create(100, 0.03)
    Seq("the", "quick", "").foreach(bf.putString)
    val (k, bands, seed) = (Dedup.MinhashK, Dedup.Bands, Dedup.MinhashSeed)
    val cases: Seq[(String, String, Column)] = Seq(
      ("simhash64", "simhash64(hs)", sketch.simhash64(col("hs"))),
      ("shingle_hashes", "shingle_hashes(toks, 2)", sketch.shingleHashes(col("toks"), 2)),
      ("minhash_sig", s"minhash_sig(hs, 16, ${seed}L)",
        native(MinHashSigExpr(c(col("hs")), 16, seed))),
      ("minhash_band_keys", s"minhash_band_keys(hs, $k, $bands, $seed)",
        sketch.minhashBandKeys(col("hs"), k, bands, seed)),
      ("winnow_fingerprints", "winnow_fingerprints(text, 4, 3)",
        sketch.winnowFingerprints(col("text"), 4, 3)),
      ("cosine_sim", "cosine_sim(va, vb)", vecexprs.cosineSim(col("va"), col("vb"))),
      ("hyperplane_buckets", "hyperplane_buckets(va, 3, 2)",
        vecexprs.hyperplaneBuckets(col("va"), 3, 2)),
      ("token_xxh64", "token_xxh64(text)", sketch.tokenHashes(col("text"))),
      ("shingle_from_hashes", "shingle_from_hashes(hs, 2)",
        sketch.shingleFromHashes(col("hs"), 2)),
      ("gram_hashes", "gram_hashes(hs, 2)", sketch.gramHashes(col("hs"), 2)),
      ("word_ngrams", "word_ngrams(text, 2)", text.wordNgrams(col("text"), 2)),
      ("bloom_might_contain", s"bloom_might_contain(text, ${bloom.sqlLiteral(bf)})",
        bloom.mightContain(col("text"), bf)))
    assert(cases.map(_._1).toSet === GraftExtensions.functions.map(_._1).toSet)
    for ((name, sqlCall, column) <- cases) {
      val viaSql = spark.sql(s"SELECT id, $sqlCall AS r FROM adv ORDER BY id")
        .collect().map(_.toString).toSeq
      val viaColumn = adversarial.select(col("id"), column.as("r")).orderBy("id")
        .collect().map(_.toString).toSeq
      assert(viaSql === viaColumn, name)
    }
  }

  test("a wrongly typed call or a non-literal constant argument fails analysis") {
    adversarial.createOrReplaceTempView("adv")
    for (q <- Seq("SELECT simhash64('x')", "SELECT cosine_sim(va, hs) FROM adv",
        "SELECT word_ngrams(toks, 2) FROM adv", "SELECT shingle_hashes(toks, id) FROM adv",
        "SELECT word_ngrams(text, CAST(id AS INT)) FROM adv",
        "SELECT minhash_sig(hs, 16, seed) FROM (SELECT hs, id AS seed FROM adv)",
        "SELECT bloom_might_contain(text, CAST(text AS BINARY)) FROM adv")) {
      intercept[AnalysisException](spark.sql(q).queryExecution.assertAnalyzed())
    }
  }

  test("all 20 native expressions give the same rows interpreted and code-generated") {
    val cells = Vector(Vector(0.0, 0.0), Vector(1.0, 2.0), Vector(4.0, 3.0, 2.0))
    val half = Vector(Vector(0.0, 0.0), Vector(1.0, 2.0), Vector(3.0, 1.0))
    val bf = BloomFilter.create(100, 0.03)
    Seq("the quick brown fox jumps over the lazy dog the quick fox", "")
      .foreach(bf.putString)
    val exprs: Seq[Expression] = Seq(
      BloomMightContainExpr(c(col("text")), bf),
      WordNgramsExpr(c(col("text")), 2),
      BpeMergeAllExpr(c(col("toks")), Seq("a" -> "b", "ab" -> "c", "the" -> "quick")),
      SimHash64Expr(c(col("hs"))),
      MinHashSigExpr(c(col("hs")), 8, 7L),
      ShingleHashesExpr(c(col("toks")), 2),
      TokenXxh64Expr(c(col("text"))),
      TokenSetCountsExpr(c(col("text")), Seq(Seq("the", "fox"), Seq("file", "t", "astral"))),
      ShingleFromHashesExpr(c(col("hs")), 2),
      GramHashesExpr(c(col("hs")), 2),
      WinnowFingerprintsExpr(c(col("text")), 3, 2),
      MinHashBandKeysExpr(c(col("hs")), 8, 4, 7L),
      MdBandKeysExpr(c(col("text")), 2, 2, 2),
      MdWeightScoreExpr(c(col("text"))),
      CosineSimExpr(c(col("va")), c(col("vb"))),
      DotProductExpr(c(col("va")), c(col("vb"))),
      L2DistExpr(c(col("va")), c(col("vb"))),
      HyperplaneBucketsExpr(c(col("va")), 3, 2),
      NearestCellsExpr(c(col("va")), cells, 2),
      ImiProbeCellsExpr(c(col("va")), half, half, 4))
    assert(exprs.map(_.getClass).distinct.size === 20)
    val frame = adversarial.select(col("id") +: exprs.zipWithIndex.map {
      case (e, i) => native(e).as(s"e$i") }: _*).orderBy("id")
    def rows(confs: (String, String)*): Seq[String] = {
      val saved = confs.map { case (key, _) => key -> spark.conf.getOption(key) }
      confs.foreach { case (key, v) => spark.conf.set(key, v) }
      try frame.collect().map(_.toString).toSeq
      finally saved.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
    val interpreted = rows("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val generated = rows("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    assert(interpreted.size === 5)
    assert(interpreted === generated)
  }
}
