package graft

import graft.functions.expressions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SparkSessionExtensions entry point: registers the engine's native
  * expressions as SQL functions, so `spark.sql` users get the same operators
  * as the Column API. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (Sessions.local does).
  *
  * SQL surface:
  *   simhash64(array<bigint>)                      -> bigint
  *   shingle_hashes(array<string>, n)              -> array<bigint>
  *   minhash_sig(array<bigint>, k, seed)           -> array<bigint>
  *   minhash_band_keys(array<bigint>, k, bands, seed) -> array<bigint>
  *   cosine_sim(array<double>, array<double>)      -> double
  *   hyperplane_buckets(array<double>, planes, tables) -> array<bigint>
  *   token_xxh64(string)                           -> array<bigint>
  *   shingle_from_hashes(array<bigint>, n)         -> array<bigint>
  *   gram_hashes(array<bigint>, n)                 -> array<bigint>
  *   word_ngrams(string, n)                        -> array<string>
  *   bloom_might_contain(string, binary-literal)   -> boolean
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got $other")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal long argument, got $other")
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<bigint>) - 64-bit SimHash fingerprint"),
      (args: Seq[Expression]) => SimHash64Expr(args.head)))

    ext.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(tokens, n) - distinct hashed n-shingles"),
      (args: Seq[Expression]) =>
        ShingleHashesExpr(args.head, intArg(args(1), "shingle_hashes"))))

    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(hashes, k, seed) - MinHash signature"),
      (args: Seq[Expression]) => MinHashSigExpr(args.head,
        intArg(args(1), "minhash_sig"), longArg(args(2), "minhash_sig"))))

    ext.injectFunction((FunctionIdentifier("minhash_band_keys"),
      info("minhash_band_keys",
        "minhash_band_keys(hashes, k, bands, seed) - LSH band keys"),
      (args: Seq[Expression]) => MinHashBandKeysExpr(args.head,
        intArg(args(1), "minhash_band_keys"),
        intArg(args(2), "minhash_band_keys"),
        longArg(args(3), "minhash_band_keys"))))

    ext.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "winnow_fingerprints(text, k, w) - winnowing document fingerprints"),
      (args: Seq[Expression]) => WinnowFingerprintsExpr(args.head,
        intArg(args(1), "winnow_fingerprints"),
        intArg(args(2), "winnow_fingerprints"))))

    ext.injectFunction((FunctionIdentifier("cosine_sim"),
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity of double arrays"),
      (args: Seq[Expression]) => CosineSimExpr(args.head, args(1))))

    ext.injectFunction((FunctionIdentifier("hyperplane_buckets"),
      info("hyperplane_buckets",
        "hyperplane_buckets(v, planes, tables) - sign-LSH bucket per table"),
      (args: Seq[Expression]) => HyperplaneBucketsExpr(args.head,
        intArg(args(1), "hyperplane_buckets"),
        intArg(args(2), "hyperplane_buckets"))))

    ext.injectFunction((FunctionIdentifier("token_xxh64"),
      info("token_xxh64",
        "token_xxh64(text) - xxhash64 of each [a-z0-9]+ token of lower(text)"),
      (args: Seq[Expression]) => TokenXxh64Expr(args.head)))

    ext.injectFunction((FunctionIdentifier("shingle_from_hashes"),
      info("shingle_from_hashes",
        "shingle_from_hashes(hashes, n) - distinct n-shingle chain hashes"),
      (args: Seq[Expression]) =>
        ShingleFromHashesExpr(args.head, intArg(args(1), "shingle_from_hashes"))))

    ext.injectFunction((FunctionIdentifier("gram_hashes"),
      info("gram_hashes",
        "gram_hashes(hashes, n) - positional n-gram chain hashes, duplicates kept"),
      (args: Seq[Expression]) =>
        GramHashesExpr(args.head, intArg(args(1), "gram_hashes"))))

    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(text, n) - space-joined token n-grams of lower(text)"),
      (args: Seq[Expression]) =>
        WordNgramsExpr(args.head, intArg(args(1), "word_ngrams"))))

    // SQL has no object references, so the filter arrives as a binary
    // literal of its own wire form (bloom.sqlLiteral / bloom.serialize) and
    // is rebuilt ONCE here at analysis time — per-row evaluation still
    // probes the shared deserialized object, codegen'd like the Column form.
    ext.injectFunction((FunctionIdentifier("bloom_might_contain"),
      info("bloom_might_contain",
        "bloom_might_contain(s, filter_bytes) - Bloom membership; " +
          "filter_bytes is a binary literal of a serialized BloomFilter " +
          "(graft.functions.expressions.bloom.sqlLiteral)"),
      (args: Seq[Expression]) => args(1) match {
        case Literal(bytes: Array[Byte],
            org.apache.spark.sql.types.BinaryType) =>
          BloomMightContainExpr(args.head, bloom.deserialize(bytes))
        case other => throw new IllegalArgumentException(
          s"bloom_might_contain expects a binary-literal serialized " +
            s"BloomFilter as arg 2, got $other")
      }))
  }
}
