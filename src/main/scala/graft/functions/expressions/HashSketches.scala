package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions (with codegen) for the hash-sketch hot paths.
  *
  * The higher-order-function formulations (transform/aggregate lambdas) are
  * evaluated via interpreted lambda dispatch — profiling at sf0.1 showed
  * SimHash/MinHash signature computation dominating their queries (~20s and
  * ~18s single-core). These expressions do the same math in a tight loop
  * over the input ArrayData and codegen to a static method call, keeping the
  * surrounding projection inside whole-stage codegen.
  *
  * Both consume pre-hashed tokens (`array<bigint>`, e.g. from
  * `transform(tokens, xxhash64)`) so string hashing happens exactly once.
  */
object sketch {
  /** 64-bit SimHash fingerprint of an array of 64-bit token hashes. */
  def simhash64(tokenHashes: Column): Column =
    ColumnBridge.column(
      SimHash64Expr(ColumnBridge.expression(tokenHashes)))

  /** Distinct hashed n-shingles of a token array: xxhash64 each token once,
    * chain n consecutive hashes into a shingle hash, dedupe. Replaces
    * wordNgrams+array_distinct+xxhash64 (which re-split the text three times
    * per row via HOF lambdas and built every shingle string) for the
    * near-dup pipelines where only shingle identity matters.
    */
  def shingleHashes(tokens: Column, n: Int): Column =
    ColumnBridge.column(
      ShingleHashesExpr(ColumnBridge.expression(tokens), n))

  /** xxhash64 (seed 42, matching the built-in `xxhash64`) of every
    * `[a-z0-9]+` token of the lowercased text, in order, duplicates kept —
    * bit-identical to `transform(cleanTokens(text), xxhash64)` but fully
    * codegen'd. The lambda form's ArrayTransform is
    * CodegenFallback, which drags the WHOLE enclosing projection out of
    * whole-stage codegen into interpreted eval — the dominant cost of the
    * sketch pipelines' cold runs at sf0.1.
    */
  def tokenHashes(text: Column): Column =
    ColumnBridge.column(TokenXxh64Expr(ColumnBridge.expression(text)))

  /** Shingle chaining over pre-computed token hashes (tokenHashes above):
    * same chain+sort+dedupe as shingleHashes, without re-tokenizing.
    */
  def shingleFromHashes(tokenHashes: Column, n: Int): Column =
    ColumnBridge.column(
      ShingleFromHashesExpr(ColumnBridge.expression(tokenHashes), n))

  /** Position-ordered n-gram chain hashes, duplicates KEPT — element i is
    * the chain hash of tokens [i, i+n). The span-dedup primitive: unlike
    * shingleFromHashes (identity sets for Jaccard), every window occurrence
    * matters here because duplicated-span counting is per position.
    */
  def gramHashes(tokenHashes: Column, n: Int): Column =
    ColumnBridge.column(
      GramHashesExpr(ColumnBridge.expression(tokenHashes), n))

  /** Per-set multiset token counts in ONE tokenization pass: element i is
    * how many `[a-z0-9]+` tokens of the lowercased text belong to sets(i).
    * Replaces L parallel `size(filter(toks, isin(...)))` HOFs (each an
    * interpreted pass over every token) for quality scoring and language
    * ID. Membership is by xxhash64 of the token vs the pre-hashed word set —
    * a false count needs a 64-bit collision with one of the ~40 set words.
    */
  def tokenSetCounts(text: Column, sets: Seq[Seq[String]]): Column =
    ColumnBridge.column(
      TokenSetCountsExpr(ColumnBridge.expression(text), sets))

  /** Winnowing document fingerprints (Schleimer et al., MOSS): rolling-hash
    * every k-char-gram, slide a w-wide window, keep each window's minimum
    * hash, dedupe. Guarantees a match of length >= k+w-1 shares a
    * fingerprint, with ~2/(w+1) selection density.
    */
  def winnowFingerprints(text: Column, k: Int, w: Int): Column =
    ColumnBridge.column(
      WinnowFingerprintsExpr(ColumnBridge.expression(text), k, w))

  /** LSH band keys straight from the hashes: the k minima computed once,
    * then each of `bands` contiguous signature slices mixed into one 64-bit
    * key. One expression evaluation per row — materializing the signature
    * and slicing it in a later projection re-evaluates it per band after
    * CollapseProject inlining (benched 2x slower than even the HOF form).
    */
  def minhashBandKeys(shingleHashes: Column, k: Int, bands: Int, seed: Long): Column =
    ColumnBridge.column(
      MinHashBandKeysExpr(ColumnBridge.expression(shingleHashes), k, bands, seed))

  /** Cross-engine-mirrorable MinHash LSH band keys straight from the text:
    * tokenize (the same `[a-z0-9]+` runs as tokenHashes), build n-token
    * shingle STRINGS, draw bands*rows md5 minhashes (draw j hashes
    * `"j:" + shingle`; the value is the digest's first 60 bits, which is
    * exactly DuckDB's `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)` and
    * Spark's `conv(substring(md5(x), 1, 15), 16, 10)` — the q94 weight
    * idiom), and emit one `"b:mh_{rows*b}:…:mh_{rows*b+rows-1}"` key string
    * per band. Docs with fewer than n tokens emit an EMPTY array: no bands,
    * never pairable (the wordNgrams contract).
    *
    * The md5 family exists so the ONLINE (streaming) near-dup path can sit
    * under a DuckDB oracle hash; the production batch family is
    * minhashBandKeys above (XXH64 — same plan shape, ~10× cheaper hashing,
    * not SQL-expressible). Codegen'd like the rest of the file: one static
    * call, the enclosing projection stays in whole-stage codegen.
    */
  def mdBandKeys(text: Column, n: Int, bands: Int, rows: Int): Column =
    ColumnBridge.column(
      MdBandKeysExpr(ColumnBridge.expression(text), n, bands, rows))

  /** q94's hashed-feature classifier score as ONE per-row expression:
    * struct(n_tokens, score_milli) where score = Σ over token OCCURRENCES
    * of (md5-60-bit(token) % 2001 − 1000) — byte-identical tokenization
    * and weight draw to the batch explode→groupBy form
    * ([[graft.operators.TextAnalysis.classifierScoresUnsorted]]; the
    * equivalence is spec-pinned per doc on the fixture corpus). Exists for
    * the STREAMING gate (q109), where the batch form's per-doc groupBy
    * would be a second stateful operator in the micro-batch plan; batch
    * consumers keep the explode form (map-side combinable, same answer).
    * No-token text → (0, 0): no-signal is not a drop reason (q94's
    * contract).
    */
  def mdWeightScore(text: Column): Column =
    ColumnBridge.column(MdWeightScoreExpr(ColumnBridge.expression(text)))
}

/** fp bit layout matches the declarative form it replaced: fold acc*2+bit
  * over bit index b = 0..63, where bit b = (sum over hashes of ±1 on hash
  * bit b) > 0. Empty input → null: a token-less doc would otherwise
  * fingerprint as 0L and pair with every other token-less doc at Hamming 0.
  */
case class SimHash64Expr(child: Expression) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullRule: Option[NullRule] = Some(NullRule.EmptyArray)

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  def compute(hashes: ArrayData): Long = {
    val n = hashes.numElements()
    val bal = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hashes.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) bal(b) += 1 else bal(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      fp = fp * 2 + (if (bal(b) > 0) 1L else 0L)
      b += 1
    }
    fp
  }
}

/** Universal-hash minhash family h_i(x) = a_i*x + b_i (mod 2^64, signed
  * min), constants drawn from a seeded generator — same family as the
  * declarative version in Dedup. Empty input → null (no shingles, no
  * signature).
  */
case class MinHashSigExpr(child: Expression, k: Int, seed: Long) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullRule: Option[NullRule] = Some(NullRule.EmptyArray)
  @transient private lazy val (as, bs) = MinHashSigExpr.constants(k, seed)
  override protected def constants: Seq[Any] = Seq(as, bs)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  def constants(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(seed)
    (Array.fill(k)(rnd.nextLong() | 1L), Array.fill(k)(rnd.nextLong()))
  }

  def minima(hashes: ArrayData, as: Array[Long], bs: Array[Long]): Array[Long] = {
    val k = as.length
    val mins = Array.fill(k)(Long.MaxValue)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val x = hashes.getLong(j)
      var i = 0
      while (i < k) {
        val v = x * as(i) + bs(i)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    mins
  }

  def compute(hashes: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData =
    new GenericArrayData(minima(hashes, as, bs))
}

/** Distinct position-sensitive hashes of n-token shingles, sorted. Empty
  * output for docs shorter than n tokens (callers treat no-shingles docs as
  * unpairable).
  */
case class ShingleHashesExpr(child: Expression, n: Int) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(n)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

object ShingleHashesExpr {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      val t = tokens.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      i += 1
    }
    chainSortDedupe(th, n)
  }

  /** Chain hash of each window of n consecutive token hashes, in position
    * order, duplicates kept — the shared kernel of the shingle (sorted,
    * deduped) and gram (positional) forms.
    */
  def chain(th: Array[Long], n: Int): Array[Long] = {
    val m = th.length
    if (m < n) return Array.empty[Long]
    val sh = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) {
      var k = 0x9e3779b97f4a7c15L
      var j = 0
      while (j < n) { k = XXH64.hashLong(th(i + j), k); j += 1 }
      sh(i) = k
      i += 1
    }
    sh
  }

  /** Chain each window of n consecutive token hashes into a shingle hash,
    * sort, dedupe — shared by the from-strings and from-hashes forms so they
    * can never drift.
    */
  def chainSortDedupe(th: Array[Long], n: Int): ArrayData = {
    val sh = chain(th, n)
    if (sh.isEmpty) return new GenericArrayData(Array.empty[Long])
    java.util.Arrays.sort(sh)
    // in-place dedupe of the sorted hashes
    var w = 0
    var i = 0
    while (i < sh.length) {
      if (w == 0 || sh(i) != sh(w - 1)) { sh(w) = sh(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(sh, w))
  }
}

/** Ordered xxhash64 token hashes of the lowercased text (see
  * sketch.tokenHashes): the [[Tokenizer]]'s tokens, each hashed with the
  * built-in xxhash64's seed (42).
  */
case class TokenXxh64Expr(child: Expression) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): TokenXxh64Expr =
    copy(child = newChild)
}

object TokenXxh64Expr {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  def compute(text: UTF8String): ArrayData = {
    val bytes = Tokenizer.lowered(text)
    val out = new Array[Long](Tokenizer.count(bytes))
    var o = 0
    var sp = Tokenizer.next(bytes, 0)
    while (sp >= 0) {
      val s = Tokenizer.start(sp)
      val e = Tokenizer.end(sp)
      out(o) = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + s, e - s, 42L)
      o += 1
      sp = Tokenizer.next(bytes, e)
    }
    new GenericArrayData(out)
  }
}

/** Multiset token counts against pre-hashed word sets (see
  * sketch.tokenSetCounts). One tokenization pass; each token hash is looked
  * up in a word-hash -> set-bitmask map.
  */
case class TokenSetCountsExpr(child: Expression, sets: Seq[Seq[String]])
    extends NativeUnary {
  require(sets.nonEmpty && sets.size <= 64, "1..64 word sets")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val masks = TokenSetCountsExpr.buildMasks(sets)
  override protected def constants: Seq[Any] = Seq(masks, sets.size)

  override protected def withNewChildInternal(newChild: Expression): TokenSetCountsExpr =
    copy(child = newChild)
}

object TokenSetCountsExpr {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.Platform
  import org.apache.spark.unsafe.types.UTF8String

  def buildMasks(sets: Seq[Seq[String]]): java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    sets.zipWithIndex.foreach { case (words, i) =>
      words.foreach { w =>
        val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
        val prev = m.get(h)
        m.put(h, (if (prev == null) 0L else prev.longValue()) | (1L << i))
      }
    }
    m
  }

  def compute(text: UTF8String,
      masks: java.util.HashMap[java.lang.Long, java.lang.Long],
      nSets: Int): ArrayData = {
    val counts = new Array[Long](nSets)
    val bytes = Tokenizer.lowered(text)
    var sp = Tokenizer.next(bytes, 0)
    while (sp >= 0) {
      val start = Tokenizer.start(sp)
      val end = Tokenizer.end(sp)
      val h = XXH64.hashUnsafeBytes(
        bytes, Platform.BYTE_ARRAY_OFFSET + start, end - start, 42L)
      val mask = masks.get(h)
      if (mask != null) {
        var m = mask.longValue()
        while (m != 0L) {
          val s = java.lang.Long.numberOfTrailingZeros(m)
          counts(s) += 1
          m &= m - 1
        }
      }
      sp = Tokenizer.next(bytes, end)
    }
    new GenericArrayData(counts)
  }
}

/** Sorted distinct n-shingle hashes from pre-hashed tokens (see
  * sketch.shingleFromHashes).
  */
case class ShingleFromHashesExpr(child: Expression, n: Int) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(n)

  override protected def withNewChildInternal(newChild: Expression): ShingleFromHashesExpr =
    copy(child = newChild)
}

object ShingleFromHashesExpr {
  def compute(hashes: ArrayData, n: Int): ArrayData =
    ShingleHashesExpr.chainSortDedupe(hashes.toLongArray(), n)
}

/** Position-ordered n-gram chain hashes from pre-hashed tokens, duplicates
  * kept (see sketch.gramHashes). Docs shorter than n tokens → empty array.
  */
case class GramHashesExpr(child: Expression, n: Int) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(n)

  override protected def withNewChildInternal(newChild: Expression): GramHashesExpr =
    copy(child = newChild)
}

object GramHashesExpr {
  def compute(hashes: ArrayData, n: Int): ArrayData =
    new GenericArrayData(ShingleHashesExpr.chain(hashes.toLongArray(), n))
}

/** Sorted distinct winnowing fingerprints of a string (see
  * sketch.winnowFingerprints). Docs shorter than k chars → empty array.
  */
case class WinnowFingerprintsExpr(child: Expression, k: Int, w: Int) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(k, w)

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprintsExpr =
    copy(child = newChild)
}

object WinnowFingerprintsExpr {
  import org.apache.spark.unsafe.types.UTF8String

  private final val B = 0x100000001b3L // FNV-ish polynomial base

  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    // rolling polynomial hash of every k-gram
    val m = n - k + 1
    val gh = new Array[Long](m)
    var h = 0L
    var bk = 1L // B^k
    var i = 0
    while (i < k) { h = h * B + s.charAt(i); bk *= B; i += 1 }
    gh(0) = h
    i = 1
    while (i < m) {
      h = h * B - s.charAt(i - 1) * bk + s.charAt(i + k - 1)
      gh(i) = h
      i += 1
    }
    // winnow: minimum of each w-wide window over the k-gram hashes
    val picked = new java.util.TreeSet[java.lang.Long]()
    val last = math.max(m - w, 0)
    var start = 0
    while (start <= last) {
      var mn = gh(start)
      var j = start + 1
      val end = math.min(start + w, m)
      while (j < end) { if (gh(j) < mn) mn = gh(j); j += 1 }
      picked.add(mn)
      start += 1
    }
    val out = new Array[Long](picked.size())
    val it = picked.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }
}

/** Band keys = FNV-style mix of each contiguous `k/bands`-wide slice of the
  * minhash signature, offset by the band index so bands never collide.
  */
case class MinHashBandKeysExpr(child: Expression, k: Int, bands: Int, seed: Long)
    extends NativeUnary {
  require(bands >= 1 && k >= bands && k % bands == 0,
    s"minhash_band_keys: k ($k) must be a positive multiple of bands ($bands) — " +
      "bands > k would make every key constant (degenerate O(n^2) join), " +
      "k % bands != 0 would silently drop signature rows")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullRule: Option[NullRule] = Some(NullRule.EmptyArray)
  @transient private lazy val (as, bs) = MinHashSigExpr.constants(k, seed)
  override protected def constants: Seq[Any] = Seq(as, bs, bands)

  override protected def withNewChildInternal(newChild: Expression): MinHashBandKeysExpr =
    copy(child = newChild)
}

object MinHashBandKeysExpr {
  def compute(hashes: ArrayData, as: Array[Long], bs: Array[Long],
      bands: Int): ArrayData = {
    val mins = MinHashSigExpr.minima(hashes, as, bs)
    val r = mins.length / bands
    val keys = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0xcbf29ce484222325L ^ b.toLong
      var i = b * r
      while (i < (b + 1) * r) {
        key = (key ^ mins(i)) * 0x100000001b3L
        i += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** See sketch.mdBandKeys. The shingle strings are [[WordNgramsExpr]]'s
  * n-grams of the [[Tokenizer]]'s tokens (n consecutive tokens joined with
  * single spaces, DuckDB's `array_to_string(list_slice(tk, i+1, i+n), ' ')`).
  */
case class MdBandKeysExpr(child: Expression, n: Int, bands: Int, rows: Int)
    extends NativeUnary {
  require(n > 0 && bands > 0 && rows > 0, "n, bands, rows must be positive")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override protected def constants: Seq[Any] = Seq(n, bands, rows)

  override protected def withNewChildInternal(newChild: Expression): MdBandKeysExpr =
    copy(child = newChild)
}

object MdBandKeysExpr {
  import org.apache.spark.unsafe.types.UTF8String

  /** The md5 digest each thread draws with (this and MdWeightScoreExpr). */
  private[expressions] val md5: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** The md5 draw of what was fed to `md`: the digest's first 15 hex
    * nibbles (first 8 bytes big-endian, high 60 bits) as an integer, i.e.
    * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`.
    */
  private[expressions] def draw60(md: java.security.MessageDigest): Long = {
    val d = md.digest()
    (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
  }

  def compute(text: UTF8String, n: Int, bands: Int, rows: Int): ArrayData = {
    val bytes = Tokenizer.lowered(text)
    val spans = Tokenizer.spans(bytes)
    if (spans.length < n) return new GenericArrayData(Array.empty[AnyRef])
    val draws = bands * rows
    // the draw salt "j:" as ASCII bytes, built once per call
    val prefixes = Array.tabulate(draws)(j => (j.toString + ":").getBytes)
    val mins = Array.fill(draws)(Long.MaxValue)
    val md = md5.get()
    var s0 = 0
    while (s0 <= spans.length - n) {
      val sh = WordNgramsExpr.gram(bytes, spans, s0, n)
      var j = 0
      while (j < draws) {
        md.reset()
        md.update(prefixes(j))
        md.update(sh)
        val v = draw60(md)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      s0 += 1
    }
    val keys = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      sb.append(b)
      var r = 0
      while (r < rows) { sb.append(':').append(mins(b * rows + r)); r += 1 }
      keys(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** See sketch.mdWeightScore. The tokens are the [[Tokenizer]]'s; the
  * weight draw is the q94 idiom — MdBandKeysExpr's md5 draw of the raw
  * token bytes (= `CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`),
  * % 2001 − 1000.
  */
case class MdWeightScoreExpr(child: Expression) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = MdWeightScoreExpr.Schema

  override protected def withNewChildInternal(newChild: Expression): MdWeightScoreExpr =
    copy(child = newChild)
}

object MdWeightScoreExpr {
  import org.apache.spark.unsafe.types.UTF8String

  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("score_milli", LongType, nullable = false)))

  def compute(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = Tokenizer.lowered(text)
    val md = MdBandKeysExpr.md5.get()
    var nTokens = 0L
    var score = 0L
    var sp = Tokenizer.next(bytes, 0)
    while (sp >= 0) {
      val s = Tokenizer.start(sp)
      val e = Tokenizer.end(sp)
      md.reset()
      md.update(bytes, s, e - s)
      score += MdBandKeysExpr.draw60(md) % 2001L - 1000L
      nTokens += 1L
      sp = Tokenizer.next(bytes, e)
    }
    org.apache.spark.sql.catalyst.InternalRow(nTokens, score)
  }
}
