package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions (with codegen): the engine's one tokenizer, the
  * word n-grams built on it, and the BPE merge chain.
  *
  * `graft.functions.text.cleanTokens` and `text.wordNgrams` are
  * [[WordNgramsExpr]]: their lambda forms are CodegenFallback (ArrayFilter,
  * ArrayTransform) and drag the whole projection out of whole-stage
  * codegen, so those forms live only in the specs, as the reference the
  * native ones are checked against (TextAnalysisSpec, PropertySpec).
  */
object textnative {

  /** An ordered CHAIN of BPE merge steps in one expression — semantically
    * identical to folding [[BpeMergeStepExpr.compute]] left-to-right over
    * `merges` (asserted in TextAnalysisSpec), but the merge table rides the
    * plan as ONE reference object instead of k nested expression nodes, so
    * every learner round and every consumer query generates the SAME
    * whole-stage source. See [[BpeMergeAllExpr]] for why that matters (codegen-cache
    * identity; measured 27 janino recompiles per warm q135b run without it).
    */
  def bpeMergeAll(syms: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(
      BpeMergeAllExpr(ColumnBridge.expression(syms), merges))
}

/** The engine's one tokenizer rule: the reference's word normalization
  * (mapreduce.c:50-61 — lowercase, keep `[a-z0-9]`) generalized past the
  * first token. Tokens are the maximal `[a-z0-9]` byte runs of the text's
  * lowercased UTF-8 bytes. The lowercasing is `Locale.ROOT`'s, so tokens
  * do not depend on the JVM's default locale; it equals the built-in
  * `lower()` under any default locale but Turkish, Azeri or Lithuanian
  * (PropertySpec checks both on multi-byte text). Multi-byte UTF-8 units
  * are all >= 0x80, so they never join a run: the tokens are
  * `split(lower(text), "[^a-z0-9]+")` minus its empty edges
  * (and DuckDB's `list_filter(regexp_split_to_array(lower(text),
  * '[^a-z0-9]+'), t -> t <> '')`).
  *
  * Every native text expression walks its tokens with [[next]], which packs
  * a token's span into one long: no per-token allocation or closure call.
  */
object Tokenizer {
  /** The lowercased UTF-8 bytes the tokens are runs of: ASCII text is
    * lowered in the one pass that copies it; text with any other byte is
    * lowered as a Java string under `Locale.ROOT`.
    */
  def lowered(text: UTF8String): Array[Byte] = {
    val n = text.numBytes
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val b = text.getByte(i)
      if (b < 0) {
        return text.toString.toLowerCase(java.util.Locale.ROOT)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      out(i) = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
      i += 1
    }
    out
  }

  /** The first token at or after byte `from`: its start in the high 32
    * bits, its (exclusive) end in the low 32; -1 when there is none.
    */
  def next(bytes: Array[Byte], from: Int): Long = {
    val len = bytes.length
    var i = from
    while (i < len && !isTokenByte(bytes(i))) i += 1
    if (i == len) return -1L
    val s = i
    while (i < len && isTokenByte(bytes(i))) i += 1
    (s.toLong << 32) | i
  }

  @inline def start(span: Long): Int = (span >>> 32).toInt
  @inline def end(span: Long): Int = span.toInt

  /** The number of tokens. */
  def count(bytes: Array[Byte]): Int = {
    var c = 0
    var sp = next(bytes, 0)
    while (sp >= 0) { c += 1; sp = next(bytes, end(sp)) }
    c
  }

  /** Every token's packed span, in order. */
  def spans(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](count(bytes))
    var k = 0
    var sp = next(bytes, 0)
    while (sp >= 0) { out(k) = sp; k += 1; sp = next(bytes, end(sp)) }
    out
  }

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')
}

/** Space-joined word n-grams of the text's tokens ([[Tokenizer]]), in
  * order; docs with fewer than n tokens yield an empty array. n = 1 is the
  * token list itself (`text.cleanTokens`).
  */
case class WordNgramsExpr(child: Expression, n: Int) extends NativeUnary {
  require(n >= 1, "ngram width must be >= 1")
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(n)

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

object WordNgramsExpr {
  import Tokenizer.{end, start}

  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = Tokenizer.lowered(text)
    val spans = Tokenizer.spans(bytes)
    if (spans.length < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](spans.length - n + 1)
    var g = 0
    while (g < out.length) {
      out(g) = UTF8String.fromBytes(gram(bytes, spans, g, n))
      g += 1
    }
    new GenericArrayData(out)
  }

  /** The bytes of the n-gram at token g: tokens g until g + n of `spans`,
    * joined by single spaces.
    */
  private[expressions] def gram(
      bytes: Array[Byte], spans: Array[Long], g: Int, n: Int): Array[Byte] = {
    var len = n - 1 // the joining spaces
    var j = g
    while (j < g + n) { len += end(spans(j)) - start(spans(j)); j += 1 }
    val buf = new Array[Byte](len)
    var o = 0
    j = g
    while (j < g + n) {
      if (j > g) { buf(o) = ' '; o += 1 }
      val s = start(spans(j))
      val l = end(spans(j)) - s
      System.arraycopy(bytes, s, buf, o, l)
      o += l
      j += 1
    }
    buf
  }
}

/** An ordered chain of BPE merge steps applied in ONE expression node.
  *
  * Each merge is applied as its own complete greedy left-to-right pass —
  * pass m runs [[BpeMergeStepExpr.compute]]'s exact algorithm over the
  * output of pass m-1 — so the result is bit-identical to folding k
  * single-merge steps (property-asserted in TextAnalysisSpec).
  *
  * Why it exists (r19, measured): the learners re-plan their pair-count
  * aggregation once per round over a vocab lineage carrying one MORE
  * stacked merge projection than the previous round, so every round's
  * whole-stage-codegen source is structurally new and the 100-entry
  * source-keyed codegen cache can never serve it — q139's 8 rounds paid 45
  * janino compiles on a fresh session, and q135b (whose plan holds the
  * 4-round learner plus the apply projection in several subtrees) paid 27
  * compiles on EVERY warm run because its ~130 distinct sources self-
  * thrash the cache. Here the merge table is data in a reference object
  * (`references[i]`), not structure: one source covers any merge count, so
  * rounds and consumer queries all hit the cache, and at a production
  * vocabulary (10^4-10^5 merges) generated-source count stays O(1) instead
  * of O(K).
  */
case class BpeMergeAllExpr(child: Expression, merges: Seq[(String, String)])
    extends NativeUnary {
  require(merges.nonEmpty, "empty merge chain — skip the projection instead")
  require(merges.forall(m => m._1.nonEmpty && m._2.nonEmpty),
    "BPE merge symbols must be non-empty")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val lhsArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1)).toArray
  @transient private lazy val rhsArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2)).toArray
  override protected def constants: Seq[Any] = Seq(lhsArr, rhsArr)

  override protected def withNewChildInternal(newChild: Expression): BpeMergeAllExpr =
    copy(child = newChild)
}

object BpeMergeAllExpr {

  def compute(arr: ArrayData, lhs: Array[UTF8String],
      rhs: Array[UTF8String]): ArrayData = {
    val n0 = arr.numElements()
    val work = new Array[AnyRef](n0)
    var i = 0
    while (i < n0) { work(i) = arr.getUTF8String(i); i += 1 }
    var n = n0
    var m = 0
    while (m < lhs.length) {
      // one greedy left-to-right pass of merge m, in place over `work` —
      // BpeMergeStepExpr.compute's exact rule
      val l = lhs(m)
      val r = rhs(m)
      val merged = UTF8String.concat(l, r)
      var k = 0
      i = 0
      while (i < n) {
        val cur = work(i).asInstanceOf[UTF8String]
        if (i + 1 < n && l.equals(cur) &&
            r.equals(work(i + 1).asInstanceOf[UTF8String])) {
          work(k) = merged
          i += 2
        } else {
          work(k) = cur
          i += 1
        }
        k += 1
      }
      n = k
      m += 1
    }
    if (n == n0) new GenericArrayData(work)
    else new GenericArrayData(java.util.Arrays.copyOf(work, n))
  }
}

/** One BPE merge step over a symbol sequence: every adjacent (lhs, rhs)
  * occurrence is replaced by their concatenation in ONE left-to-right
  * greedy pass — the published byte-pair-encoding application rule
  * (Sennrich et al. 2016; also how the reference-grade tokenizer
  * libraries apply a learned merge). Greedy-left is equivalent to
  * "repeatedly merge the leftmost occurrence until none remain": a merge
  * output `lhs+rhs` can never itself equal `lhs` or `rhs` (both
  * non-empty), so merging never creates a new occurrence to the left of
  * the scan point.
  *
  * The engine applies merges only through [[BpeMergeAllExpr]]; this
  * one-step form is the reference TextAnalysisSpec checks it against.
  */
object BpeMergeStepExpr {

  def compute(arr: ArrayData, lhs: UTF8String, rhs: UTF8String): ArrayData = {
    val n = arr.numElements()
    val merged = UTF8String.concat(lhs, rhs)
    val out = new Array[AnyRef](n)
    var i = 0
    var k = 0
    while (i < n) {
      val cur = arr.getUTF8String(i)
      if (i + 1 < n && lhs.equals(cur) && rhs.equals(arr.getUTF8String(i + 1))) {
        out(k) = merged
        i += 2
      } else {
        out(k) = cur
        i += 1
      }
      k += 1
    }
    if (k == n) new GenericArrayData(out)
    else new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }
}
