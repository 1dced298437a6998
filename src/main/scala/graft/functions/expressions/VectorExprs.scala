package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native vector math over `array<double>` embeddings. The zip_with +
  * aggregate formulation is algebraically identical but pays interpreted
  * lambda dispatch per element — these run the fold as a tight primitive
  * loop (same sequential order, so results are bit-identical to the HOF
  * form and the DuckDB oracle).
  */
object vecexprs {

  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** All `tables * planes` sign-buckets of a vector in one evaluation:
    * bucket t = tableId-prefixed bits of sign(v · r_{t,j}), r components
    * ±1 from Murmur3-style mixing of (dim, plane) — identical semantics to
    * Similarity.hyperplaneBucket, one pass, no re-evaluation per table.
    */
  def hyperplaneBuckets(v: Column, planes: Int, tables: Int): Column =
    ColumnBridge.column(
      HyperplaneBucketsExpr(ColumnBridge.expression(v), planes, tables))

  /** Ids of the `k` squared-euclidean-nearest centroids (ties by centroid
    * id), for IVF cell assignment. Centroids are model state (KB-scale),
    * baked into the expression and shipped once per task inside the
    * generated code's references — NOT a per-row Scala UDF, so the
    * corpus-wide assignment pass of q85/q39 stays inside whole-stage
    * codegen with zero per-row serialization.
    */
  def nearestCells(v: Column, centroids: Array[Array[Double]], k: Int): Column =
    ColumnBridge.column(
      NearestCellsExpr(ColumnBridge.expression(v),
        centroids.map(_.toVector).toVector, k))

  /** Plain inner product Σ aᵢ·bᵢ (left-to-right fold, bit-compatible with
    * DuckDB's `list_inner_product`) — the PQ-ADC lookup-table builder
    * (Similarity.pqAdcTopK) runs this on the bounded probe side only.
    */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Euclidean distance √Σ(aᵢ−bᵢ)² (sequential left-to-right fold, then
    * one IEEE-754 correctly-rounded sqrt) — bit-compatible with DuckDB's
    * `list_distance` on the same doubles, so a ranking over this column
    * and an oracle ranking over `list_distance` agree exactly.
    */
  def l2Dist(a: Column, b: Column): Column =
    ColumnBridge.column(
      L2DistExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The `k` jointly-nearest IMI product cells (a·|cbB|+b, ordered by
    * dA(a)+dB(b) ascending, ties by cell id) — the multi-sequence probe
    * order of the inverted multi-index, as ONE codegen'd expression. See
    * [[ImiProbeCellsExpr]] for why a per-half top-k RECTANGLE (the
    * round-12 formulation) is not this.
    */
  def imiProbeCells(v: Column, cbA: Array[Array[Double]],
      cbB: Array[Array[Double]], k: Int): Column =
    ColumnBridge.column(
      ImiProbeCellsExpr(ColumnBridge.expression(v),
        cbA.map(_.toVector).toVector, cbB.map(_.toVector).toVector, k))
}

case class CosineSimExpr(left: Expression, right: Expression) extends NativeBinary {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullRule: Option[NullRule] = Some(NullRule.LengthMismatch)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {
  /** Same fold order as dot(a,b)/(sqrt(dot(a,a))*sqrt(dot(b,b))) with
    * sequential left-to-right sums — bit-compatible with the HOF version.
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** Plain inner product of two `array<double>` columns (no normalization).
  * Same shape/contracts as [[CosineSimExpr]]: null on length mismatch, a
  * tight primitive loop with sequential left-to-right accumulation so the
  * result is bit-identical to DuckDB's `list_inner_product` on the same
  * doubles.
  */
case class DotProductExpr(left: Expression, right: Expression) extends NativeBinary {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullRule: Option[NullRule] = Some(NullRule.LengthMismatch)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

object DotProductExpr {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getDouble(i) * b.getDouble(i); i += 1 }
    dot
  }
}

/** Euclidean distance of two `array<double>` columns. Same contracts as
  * [[DotProductExpr]] (null on length mismatch, tight primitive loop); the
  * final sqrt is IEEE-754 correctly rounded, so on equal squared sums the
  * value is bit-identical to DuckDB's `list_distance`.
  */
case class L2DistExpr(left: Expression, right: Expression) extends NativeBinary {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullRule: Option[NullRule] = Some(NullRule.LengthMismatch)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistExpr =
    copy(left = newLeft, right = newRight)
}

object L2DistExpr {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }
}

case class HyperplaneBucketsExpr(child: Expression, planes: Int, tables: Int)
    extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(planes, tables)

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketsExpr =
    copy(child = newChild)
}

/** `k` nearest centroid ids for an `array<double>` vector. Centroids live
  * in the case class as immutable `Vector`s (structural equality, so plan
  * canonicalization works) and are flattened once per task into a primitive
  * `double[]` referenced from generated code. Distance loop truncates to
  * the shorter of (centroid dim, vector dim) — identical to the Scala UDF
  * form this replaced, so assignments are bit-for-bit unchanged.
  */
case class NearestCellsExpr(child: Expression,
    centroids: Vector[Vector[Double]], k: Int) extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // rows share one flat copy per task; centroid rows may be ragged in
  // principle, so each keeps its own length
  @transient private lazy val flat: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  override protected def constants: Seq[Any] = Seq(flat, k)

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}

object NearestCellsExpr {
  /** Top-k by (squared distance, centroid id) ascending — the same order a
    * stable sort by distance over id-ordered input yields. K is the cell
    * count (tiny: 16 on the fixture, ~√N capped in the thousands at scale),
    * so an O(K·k) selection beats building and sorting a pair array per row.
    */
  def compute(v: ArrayData, centroids: Array[Array[Double]], k: Int): ArrayData =
    new GenericArrayData(topIdx(halfDists(v, centroids, 0), k))

  /** Squared distances of `v[off, off+width)` to every centroid of `cb`,
    * each truncated to the shorter of (centroid width, remaining vector
    * width): the whole vector here (off 0), each half in
    * [[ImiProbeCellsExpr]].
    */
  private[expressions] def halfDists(v: ArrayData, cb: Array[Array[Double]],
      off: Int): Array[Double] = {
    val d = new Array[Double](cb.length)
    val avail = math.max(v.numElements() - off, 0)
    var i = 0
    while (i < cb.length) {
      val c = cb(i)
      val m = math.min(c.length, avail)
      var acc = 0.0
      var j = 0
      while (j < m) { val x = c(j) - v.getDouble(off + j); acc += x * x; j += 1 }
      d(i) = acc
      i += 1
    }
    d
  }

  /** Indices of the `k` smallest distances, (distance, id) ascending. */
  private[expressions] def topIdx(d: Array[Double], k: Int): Array[Int] = {
    val n = d.length
    val kk = math.min(k, n)
    val out = new Array[Int](kk)
    val taken = new Array[Boolean](n)
    var s = 0
    while (s < kk) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var i = 0
      while (i < n) {
        if (!taken(i) && d(i) < bestD) { best = i; bestD = d(i) }
        i += 1
      }
      // degenerate vectors (a NaN element, or magnitudes that overflow the
      // squared distance to +Infinity) leave every remaining d(i)
      // incomparable under `<` — fall back to the lowest untaken centroid id
      // so such rows get a deterministic assignment instead of a task crash
      if (best == -1) {
        i = 0
        while (best == -1) { if (!taken(i)) best = i else i += 1 }
      }
      taken(best) = true
      out(s) = best
      s += 1
    }
    out
  }
}

/** The `k` jointly-nearest product cells of a two-codebook inverted
  * multi-index, in exact joint-distance order — the multi-sequence probe
  * semantics of Babenko & Lempitsky's IMI.
  *
  * Why this exists (round-13 measurement): the round-12 ImiQuantizer
  * probed a per-half top-pa × top-pb RECTANGLE, which is NOT the k
  * jointly-nearest product cells — a candidate whose A-half ranks 6th for
  * the probe but whose B-half ranks 1st was unreachable at pa = 5, and the
  * 200k-decade probe measured the consequence: hard-negative recall 0.000
  * through the rectangle where the flat tier (whose probeCells ARE its k
  * nearest cells) scored 1.000 on the same fan-out budget. This expression
  * restores the flat tier's "k nearest cells, nearest first" contract for
  * the product grid: rank each half's top-k (a pair in the joint top-k has
  * both half-ranks ≤ k, so per-half top-k selections suffice), then walk
  * the product grid best-first (binary heap on (dA+dB, cellId), frontier
  * neighbors (i+1,j) and (i,j+1)) — the joint top-1 is (argmin dA,
  * argmin dB), so `assign` = element 1 stays consistent with the round-12
  * assignment bit-for-bit, per-half lowest-id tie-breaks included.
  *
  * Cost per row: the SAME two half-space distance sweeps as before
  * (O((k1+k2)·dim/2)), one O(k·log k) heap walk on top. Both codebooks
  * ride in this one expression — k1+k2 half-width centroids, the same
  * plan-literal mass as the round-12 two-expression form.
  */
case class ImiProbeCellsExpr(child: Expression,
    cbA: Vector[Vector[Double]], cbB: Vector[Vector[Double]], k: Int)
    extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val flatA: Array[Array[Double]] =
    cbA.map(_.toArray).toArray
  @transient private lazy val flatB: Array[Array[Double]] =
    cbB.map(_.toArray).toArray
  override protected def constants: Seq[Any] = Seq(flatA, flatB, k)

  override protected def withNewChildInternal(
      newChild: Expression): ImiProbeCellsExpr = copy(child = newChild)
}

object ImiProbeCellsExpr {
  import NearestCellsExpr.{halfDists, topIdx}

  def compute(v: ArrayData, cbA: Array[Array[Double]],
      cbB: Array[Array[Double]], k: Int): ArrayData = {
    val k2 = cbB.length
    val split = if (cbA.length == 0) 0 else cbA(0).length
    val dA = halfDists(v, cbA, 0)
    val dB = halfDists(v, cbB, split)
    val kk = math.min(k.toLong, cbA.length.toLong * k2).toInt
    // per-half top-kk candidates: any joint top-kk pair has both half-ranks
    // <= kk, so the walk never needs deeper per-half lists
    val ia = topIdx(dA, kk)
    val ib = topIdx(dB, kk)
    // best-first walk of the ia x ib grid: heap of (sum, gridPos), ties by
    // cell id so the order is total and deterministic; (0,0) is the joint
    // argmin = the round-12 assignment
    val out = new Array[Int](kk)
    val heapSum = new Array[Double](kk * 2 + 2)
    val heapPos = new Array[Int](kk * 2 + 2)
    val heapCell = new Array[Long](kk * 2 + 2)
    var heapN = 0
    val seen = new java.util.HashSet[Integer]()
    def lt(i: Int, j: Int): Boolean =
      heapSum(i) < heapSum(j) ||
        (!(heapSum(i) > heapSum(j)) && heapCell(i) < heapCell(j))
    def push(pi: Int, pj: Int): Unit = {
      val pos = pi * kk + pj
      if (pi < ia.length && pj < ib.length && seen.add(pos)) {
        val s = dA(ia(pi)) + dB(ib(pj))
        val cell = ia(pi).toLong * k2 + ib(pj)
        var c = heapN
        heapSum(c) = s; heapPos(c) = pos; heapCell(c) = cell
        heapN += 1
        while (c > 0 && lt(c, (c - 1) / 2)) {
          val p = (c - 1) / 2
          val ts = heapSum(c); heapSum(c) = heapSum(p); heapSum(p) = ts
          val tp = heapPos(c); heapPos(c) = heapPos(p); heapPos(p) = tp
          val tc = heapCell(c); heapCell(c) = heapCell(p); heapCell(p) = tc
          c = p
        }
      }
    }
    def pop(): Int = {
      val top = heapPos(0)
      heapN -= 1
      heapSum(0) = heapSum(heapN); heapPos(0) = heapPos(heapN)
      heapCell(0) = heapCell(heapN)
      var c = 0
      var done = false
      while (!done) {
        val l = 2 * c + 1; val r = 2 * c + 2
        var m = c
        if (l < heapN && lt(l, m)) m = l
        if (r < heapN && lt(r, m)) m = r
        if (m == c) done = true
        else {
          val ts = heapSum(c); heapSum(c) = heapSum(m); heapSum(m) = ts
          val tp = heapPos(c); heapPos(c) = heapPos(m); heapPos(m) = tp
          val tc = heapCell(c); heapCell(c) = heapCell(m); heapCell(m) = tc
          c = m
        }
      }
      top
    }
    push(0, 0)
    var s = 0
    while (s < kk) {
      // the frontier can momentarily empty under NaN sums (heap order
      // degenerates); refill from the lowest unvisited grid row to stay
      // total — mirrors topIdx's degenerate fallback
      if (heapN == 0) {
        var pi = 0
        var filled = false
        while (!filled && pi < ia.length) {
          var pj = 0
          while (!filled && pj < ib.length) {
            if (!seen.contains(pi * kk + pj)) { push(pi, pj); filled = true }
            pj += 1
          }
          pi += 1
        }
      }
      val pos = pop()
      val pi = pos / kk; val pj = pos % kk
      out(s) = ia(pi) * k2 + ib(pj)
      push(pi + 1, pj)
      push(pi, pj + 1)
      s += 1
    }
    new GenericArrayData(out)
  }
}

object HyperplaneBucketsExpr {
  import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
  import org.apache.spark.sql.types.{IntegerType => IT}

  /** ±1 component for (dim d, plane p): parity of Murmur3(d, p) — must stay
    * identical to `pmod(hash(d, p), 2) === 0` in the declarative form.
    * `private[graft]` (not private): Similarity's oracle-SQL builder embeds
    * this exact matrix as ±literals so DuckDB mirrors the bucketing without
    * re-deriving Murmur3 in SQL — one source of truth for the signs.
    */
  private[graft] def sign(d: Int, p: Int): Double = {
    // hash(d, p) folds children left-to-right from seed 42
    val h = Murmur3HashFunction.hash(p, IT,
      Murmur3HashFunction.hash(d, IT, 42L))
    val m = (h % 2 + 2) % 2
    if (m == 0) 1.0 else -1.0
  }

  def compute(v: ArrayData, planes: Int, tables: Int): ArrayData = {
    val dim = v.numElements()
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var acc = t.toLong << planes
      var j = 0
      while (j < planes) {
        val plane = t * planes + j
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += v.getDouble(d) * sign(d, plane); d += 1 }
        acc = acc * 2 + (if (dot >= 0) 1L else 0L)
        j += 1
      }
      out(t) = acc
      t += 1
    }
    new GenericArrayData(out)
  }
}
