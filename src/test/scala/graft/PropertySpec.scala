package graft

import graft.functions.expressions.{MinHashSigExpr, ShingleHashesExpr}
import graft.functions.text
import graft.plans.Djb2Partitioner
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties (SURVEY §5.2 item 3): generator-driven invariants
  * for normalization, partitioning, and the MinHash similarity estimator.
  * Expression-level properties evaluate the native expressions directly
  * (no Spark job per sample), so thousands of cases run in milliseconds.
  */
class PropertySpec extends AnyFunSuite {

  /** scalacheck runner (scalatestplus bridge isn't on the classpath). */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  private val anyString: Gen[String] =
    Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "\t", "\r", "\n", ".", ",", "!", "é", "ß", "中",
        "\uFEFF",
        "\u212A", // KELVIN SIGN: lowercases to ASCII 'k', joining a token
        "\u0130", // dotted capital I: lowercases to "i" + U+0307
        "\u0301", // a combining mark
        "\uD83D\uDE00"))) // an astral-plane character (a surrogate pair)
      .map(_.mkString)

  test("normalization model: idempotent, lowercase-alnum prefix, length-bounded") {
    def model(s: String): String =
      s.toLowerCase.takeWhile(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
    check(Prop.forAll(anyString) { s =>
      val w = model(s)
      w == model(w) &&                        // idempotent
        w.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) &&
        w.length <= s.length
    })
  }

  test("djb2 partitioner: always in range, deterministic, key-only") {
    check(Prop.forAll(anyString, Gen.choose(1, 64)) { (s, n) =>
      val p = Djb2Partitioner.hashPartition(s, n)
      p >= 0 && p < n && p == Djb2Partitioner.hashPartition(s, n)
    })
  }

  /** MinHash's defining property: P(sig_i(A) == sig_i(B)) = J(A, B), so the
    * signature agreement rate estimates Jaccard within sampling error
    * (k=128 → s.e. <= 0.045).
    */
  test("minhash signature agreement estimates Jaccard") {
    val k = 128
    val (as, bs) = MinHashSigExpr.constants(k, 0x5eed)
    val docGen = Gen.chooseNum(30, 120).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 400L)))
    check(Prop.forAll(docGen, docGen) { (xs, ys) =>
      val a = xs.toSet; val b = ys.toSet
      val j = (a & b).size.toDouble / math.max((a | b).size, 1)
      def sig(s: Set[Long]) = MinHashSigExpr.compute(
        new GenericArrayData(s.toArray), as, bs)
      val sa = sig(a); val sb = sig(b)
      val agree = (0 until k).count(i => sa.getLong(i) == sb.getLong(i))
      math.abs(agree.toDouble / k - j) <= 0.2 // 4+ standard errors
    })
  }

  test("shingle hashes: count = distinct shingles, stable under evaluation") {
    val tokenGen = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    check(Prop.forAll(Gen.chooseNum(0, 50).flatMap(Gen.listOfN(_, tokenGen))) { toks =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val out = ShingleHashesExpr.compute(arr, 3)
      val expect = if (toks.size < 3) 0
        else toks.sliding(3).map(_.mkString(" ")).toSet.size
      // hash collisions between distinct shingles are ~2^-64: count matches
      out.numElements() == expect &&
        out.toLongArray().toSeq == ShingleHashesExpr.compute(arr, 3).toLongArray().toSeq
    })
  }

  test("stopword ratio bounded in [0,1] for arbitrary text") {
    val docs = Gen.listOfN(200, anyString).sample.get
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = docs.toDF("text")
      .select(text.tokenSetRatio(col("text"), text.stopwords("en")))
      .collect().map(_.getDouble(0))
    assert(got.forall(r => r >= 0.0 && r <= 1.0))
  }

  /** Plain-Scala tokenizer model shared by the native-expression properties
    * below: maximal [a-z0-9]+ runs of the (Java) lowercased string. The
    * generator's multi-byte characters (KELVIN SIGN, dotted capital I, a
    * combining mark, a surrogate pair) are where a byte-level tokenizer
    * could drift from this model.
    */
  private def modelTokens(s: String): Seq[String] =
    s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq

  /** `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`, from the hex digest. */
  private def md5Draw(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.take(15), 16)
  }

  test("native token hashes: count and order match the tokenizer model") {
    import graft.functions.expressions.TokenXxh64Expr
    check(Prop.forAll(anyString) { s =>
      val out = TokenXxh64Expr.compute(UTF8String.fromString(s)).toLongArray()
      val toks = modelTokens(s)
      out.length == toks.size &&
        // per-token hash equals hashing the token string alone
        out.toSeq == toks.map(t =>
          TokenXxh64Expr.compute(UTF8String.fromString(t)).toLongArray()(0))
    })
  }

  test("native word ngrams equal the sliding-window model") {
    import graft.functions.expressions.WordNgramsExpr
    check(Prop.forAll(anyString, Gen.choose(1, 4)) { (s, n) =>
      val got = WordNgramsExpr.compute(UTF8String.fromString(s), n)
      val toks = modelTokens(s)
      val want =
        if (toks.size < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == want
    })
  }

  test("native md band keys equal md5 minima over the model's shingle strings") {
    import graft.functions.expressions.MdBandKeysExpr
    check(Prop.forAll(anyString, Gen.choose(1, 3), Gen.choose(1, 3),
        Gen.choose(1, 3)) { (s, n, bands, rows) =>
      val got = MdBandKeysExpr.compute(UTF8String.fromString(s), n, bands, rows)
      val shingles = modelTokens(s).sliding(n).filter(_.size == n)
        .map(_.mkString(" ")).toSeq
      val want =
        if (shingles.isEmpty) Seq.empty
        else {
          val mins = (0 until bands * rows).map(j =>
            shingles.map(sh => md5Draw(s"$j:$sh")).min)
          (0 until bands).map(b =>
            (b.toString +: (0 until rows).map(r => mins(b * rows + r).toString))
              .mkString(":"))
        }
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == want
    })
  }

  test("native md weight score equals the model tokens' summed weights") {
    import graft.functions.expressions.MdWeightScoreExpr
    check(Prop.forAll(anyString) { s =>
      val got = MdWeightScoreExpr.compute(UTF8String.fromString(s))
      val toks = modelTokens(s)
      got.getLong(0) == toks.size &&
        got.getLong(1) == toks.map(t => md5Draw(t) % 2001 - 1000).sum
    })
  }

  /** The swap that made `text.cleanTokens` native is output-preserving
    * only if its lowercasing (`Locale.ROOT`) gives the same tokens as the
    * built-in `lower()` the lambda form calls (under the default locale of
    * this JVM, which is not Turkish).
    */
  test("native cleanTokens equals the lambda token list through Spark's lower()") {
    import TestSpark.spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Gen.listOfN(200, anyString).sample.get ++
      Seq("\u212AELVIN", "\u0130STANBUL \u0130i", "FILE \u00e9t\u00e9", "")
    val rows = docs.toDF("text")
      .select(col("text"), text.cleanTokens(col("text")).as("native"),
        TestSpark.lambdaTokens(col("text")).as("lambda"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), r.getString(0))
    }
  }

  /** The built-in `lower()` follows the JVM's default locale; the native
    * tokenizer must not: under Turkish rules "FILE" would lower to "fıle"
    * (dotless ı) and split into "f" and "le".
    */
  test("native tokens do not depend on the JVM default locale") {
    import graft.functions.expressions.{TokenXxh64Expr, WordNgramsExpr}
    import java.util.Locale
    val doc = UTF8String.fromString("FILE \u00e9t\u00e9")
    def tokens(locale: Locale): (Seq[Long], Seq[String]) = {
      val saved = Locale.getDefault
      Locale.setDefault(locale)
      try {
        val grams = WordNgramsExpr.compute(doc, 1)
        (TokenXxh64Expr.compute(doc).toLongArray().toSeq,
          (0 until grams.numElements()).map(grams.getUTF8String(_).toString))
      } finally Locale.setDefault(saved)
    }
    val root = tokens(Locale.ROOT)
    assert(root._2 === Seq("file", "t"))
    assert(tokens(Locale.forLanguageTag("tr-TR")) === root)
  }

  test("native token set counts equal the multiset-membership model") {
    import graft.functions.expressions.TokenSetCountsExpr
    val sets = Seq(Seq("the", "a", "of"), Seq("42", "x9"), Seq("zzz"))
    val masks = TokenSetCountsExpr.buildMasks(sets)
    check(Prop.forAll(anyString) { s =>
      val got = TokenSetCountsExpr
        .compute(UTF8String.fromString(s), masks, sets.size).toLongArray()
      val toks = modelTokens(s)
      got.toSeq == sets.map(set => toks.count(set.contains).toLong)
    })
  }
}
