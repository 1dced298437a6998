package graft

import graft.functions.expressions._
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, LongType}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get the same operators
  * as the Column API. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (Sessions.local does).
  * The SQL surface is [[GraftExtensions.functions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft", null, name, usage, ""),
        (args: Seq[Expression]) => build(GraftExtensions.Args(name, args))))
    }
}

object GraftExtensions {

  /** A SQL call's arguments. The non-column ones (widths, counts, seeds,
    * the serialized Bloom filter) are fixed per expression, so they must
    * be literals: anything else fails analysis.
    */
  final case class Args(fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def int(i: Int): Int = literal(i, IntegerType).asInstanceOf[Int]
    def long(i: Int): Long = literal(i, LongType).asInstanceOf[Long]
    def bytes(i: Int): Array[Byte] = literal(i, BinaryType).asInstanceOf[Array[Byte]]

    private def literal(i: Int, t: DataType): Any = (exprs(i), t) match {
      case (Literal(v: Int, IntegerType), LongType) => v.toLong
      case (Literal(v, lt), _) if v != null && lt == t => v
      case _ => throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> fn, "paramName" -> s"argument ${i + 1}",
        "paramType" -> t.sql))
    }
  }

  /** The registered SQL functions: (name, usage, builder). */
  val functions: Seq[(String, String, Args => Expression)] = Seq(
    ("simhash64", "simhash64(array<bigint>) - 64-bit SimHash fingerprint",
      a => SimHash64Expr(a(0))),
    ("shingle_hashes", "shingle_hashes(tokens, n) - distinct hashed n-shingles",
      a => ShingleHashesExpr(a(0), a.int(1))),
    ("minhash_sig", "minhash_sig(hashes, k, seed) - MinHash signature",
      a => MinHashSigExpr(a(0), a.int(1), a.long(2))),
    ("minhash_band_keys", "minhash_band_keys(hashes, k, bands, seed) - LSH band keys",
      a => MinHashBandKeysExpr(a(0), a.int(1), a.int(2), a.long(3))),
    ("winnow_fingerprints",
      "winnow_fingerprints(text, k, w) - winnowing document fingerprints",
      a => WinnowFingerprintsExpr(a(0), a.int(1), a.int(2))),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of double arrays",
      a => CosineSimExpr(a(0), a(1))),
    ("hyperplane_buckets",
      "hyperplane_buckets(v, planes, tables) - sign-LSH bucket per table",
      a => HyperplaneBucketsExpr(a(0), a.int(1), a.int(2))),
    ("token_xxh64",
      "token_xxh64(text) - xxhash64 of each [a-z0-9]+ token of lower(text)",
      a => TokenXxh64Expr(a(0))),
    ("shingle_from_hashes",
      "shingle_from_hashes(hashes, n) - distinct n-shingle chain hashes",
      a => ShingleFromHashesExpr(a(0), a.int(1))),
    ("gram_hashes",
      "gram_hashes(hashes, n) - positional n-gram chain hashes, duplicates kept",
      a => GramHashesExpr(a(0), a.int(1))),
    ("word_ngrams",
      "word_ngrams(text, n) - space-joined token n-grams of lower(text)",
      a => WordNgramsExpr(a(0), a.int(1))),
    // SQL has no object references, so the filter arrives as a binary
    // literal of its own wire form (bloom.sqlLiteral / bloom.serialize) and
    // is rebuilt ONCE here at analysis time — per-row evaluation still
    // probes the shared deserialized object, codegen'd like the Column form.
    ("bloom_might_contain",
      "bloom_might_contain(s, filter_bytes) - Bloom membership; " +
        "filter_bytes is a binary literal of a serialized BloomFilter " +
        "(graft.functions.expressions.bloom.sqlLiteral)",
      a => BloomMightContainExpr(a(0), bloom.deserialize(a.bytes(1)))))
}
