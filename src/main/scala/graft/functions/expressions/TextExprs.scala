package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native text expressions (with codegen) for the n-gram hot paths.
  *
  * The declarative word-ngram form (`transform(sequence(...), i ->
  * concat_ws(" ", slice(toks, i+1, n)))` over cleanTokens) pays interpreted
  * lambda dispatch per gram AND drags its whole projection out of
  * whole-stage codegen (ArrayTransform/ArrayFilter are CodegenFallback).
  * WordNgramsExpr produces the identical array in one pass over the
  * lowercased bytes — equality with the HOF form is asserted in
  * TextAnalysisSpec.
  */
object textnative {

  /** Space-joined word n-grams of the lowercased text's `[a-z0-9]+` tokens;
    * docs with fewer than n tokens yield an empty array — bit-identical to
    * graft.functions.text.wordNgrams.
    */
  def wordNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(WordNgramsExpr(ColumnBridge.expression(text), n))

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

case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "ngram width must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_ngrams needs string, got $t")
    }

  override def nullSafeEval(input: Any): Any =
    WordNgramsExpr.compute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.WordNgramsExpr.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

object WordNgramsExpr {
  import org.apache.spark.unsafe.types.UTF8String

  @inline private def isTokenByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')

  def compute(text: UTF8String, n: Int): ArrayData = {
    val bytes = text.toLowerCase.getBytes
    val len = bytes.length
    // token [start, end) offsets into the lowercased bytes
    var count = 0
    var i = 0
    var inTok = false
    while (i < len) {
      val t = isTokenByte(bytes(i))
      if (t && !inTok) count += 1
      inTok = t
      i += 1
    }
    if (count < n) return new GenericArrayData(Array.empty[AnyRef])
    val starts = new Array[Int](count)
    val ends = new Array[Int](count)
    var k = 0
    i = 0
    while (i < len) {
      if (isTokenByte(bytes(i))) {
        starts(k) = i
        while (i < len && isTokenByte(bytes(i))) i += 1
        ends(k) = i
        k += 1
      } else i += 1
    }
    val out = new Array[AnyRef](count - n + 1)
    var g = 0
    while (g <= count - n) {
      var glen = n - 1 // the joining spaces
      var j = g
      while (j < g + n) { glen += ends(j) - starts(j); j += 1 }
      val buf = new Array[Byte](glen)
      var o = 0
      j = g
      while (j < g + n) {
        if (j > g) { buf(o) = ' '; o += 1 }
        val l = ends(j) - starts(j)
        System.arraycopy(bytes, starts(j), buf, o, l)
        o += l
        j += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
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
    extends UnaryExpression {
  require(merges.nonEmpty, "empty merge chain — skip the projection instead")
  require(merges.forall(m => m._1.nonEmpty && m._2.nonEmpty),
    "BPE merge symbols must be non-empty")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_merge_all needs array<string>, got $t")
    }

  @transient private lazy val lhsArr: Array[org.apache.spark.unsafe.types.UTF8String] =
    merges.map(m =>
      org.apache.spark.unsafe.types.UTF8String.fromString(m._1)).toArray
  @transient private lazy val rhsArr: Array[org.apache.spark.unsafe.types.UTF8String] =
    merges.map(m =>
      org.apache.spark.unsafe.types.UTF8String.fromString(m._2)).toArray

  override def nullSafeEval(input: Any): Any =
    BpeMergeAllExpr.compute(input.asInstanceOf[ArrayData], lhsArr, rhsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val utf8Arr = "org.apache.spark.unsafe.types.UTF8String[]"
    val lRef = ctx.addReferenceObj("bpeLhsArr", lhsArr, utf8Arr)
    val rRef = ctx.addReferenceObj("bpeRhsArr", rhsArr, utf8Arr)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.BpeMergeAllExpr" +
        s".compute($c, $lRef, $rRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeAllExpr =
    copy(child = newChild)
}

object BpeMergeAllExpr {
  import org.apache.spark.unsafe.types.UTF8String

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
  import org.apache.spark.unsafe.types.UTF8String

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
