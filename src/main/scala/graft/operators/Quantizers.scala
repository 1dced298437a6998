package graft.operators

import graft.functions.expressions.{NearestCellsExpr, vecexprs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

/** A fitted coarse quantizer for the IVF family (q39/q85/q92b): maps an
  * `array<double>` vector column to integer cell ids. Two implementations
  * share one contract so every IVF consumer scales past the flat plan-size
  * ceiling without touching its join/rank logic:
  *
  *   - [[FlatQuantizer]] — one codebook baked into [[vecexprs.nearestCells]]
  *     as a plan literal. Fastest per row, but the literal caps at
  *     [[Quantizers.FlatCellCap]] cells (~2 MB of centroids at 64 dims).
  *   - [[ImiQuantizer]] — the inverted multi-index (Babenko & Lempitsky,
  *     CVPR'12): the vector splits into two halves, each half gets its own
  *     ≤ FlatCellCap codebook, and a cell is the PAIR (a, b) of per-half
  *     nearest codewords, encoded as a*k2+b. Addressable cells grow as
  *     k1×k2 (up to FlatCellCap² ≈ 16.8M) while the plan carries only
  *     k1+k2 half-width centroids — both levels stay under the 2 MB
  *     plan-literal bound, and assignment + probe fan-out are ONE
  *     codegen'd multi-sequence expression with zero per-row lambdas
  *     ([[vecexprs.imiProbeCells]]).
  *
  * Every consumer keeps the same downstream shape: corpus rows get ONE (or
  * [[Similarity.SemProbeCells]] soft) cell(s), probes fan out to ~n cells,
  * and candidates are cell-mates only.
  */
sealed trait CellQuantizer {
  /** Total addressable cells. */
  def nCells: Int

  /** The single nearest cell id — the corpus-side assignment column. Must
    * stay native/codegen'd: this is the one pass touching every vector.
    */
  def assign(v: Column): Column

  /** The min(n, nCells) nearest cells, nearest-first — the probe-side
    * fan-out column (`array<int>`). Both implementations honor exact
    * nearest-order (flat: one codebook ranking; IMI: the multi-sequence
    * joint-distance walk), and element 1 is always [[assign]]'s cell.
    */
  def probeCells(v: Column, n: Int): Column

  /** How many times the flat tier's co-scaled fan-out this quantizer needs
    * for equal coverage. Flat: 1 by definition. IMI: 2 — its centroids are
    * a GRID of per-half marginals, not free joint KMeans centers, so the
    * same probed-cell count covers the manifold less adaptively; measured
    * at the 200k decade (SCALE.md, "IMI at the 200k decade"),
    * hard-negative recall through a 462-cell IMI steps 0.0 → 1.0 between
    * 1× and 2× the ⌈√k⌉ fan-out where flat hits 1.0 at exactly 1×. Consumers multiply
    * [[Similarity.ivfProbesFor]] by this (capped at nCells).
    */
  def probeWidthFactor: Int = 1
}

/** One plan-literal codebook (the pre-round-12 behavior, unchanged). */
final case class FlatQuantizer(centroids: Array[Array[Double]])
    extends CellQuantizer {
  override def nCells: Int = centroids.length
  override def assign(v: Column): Column =
    element_at(vecexprs.nearestCells(v, centroids, 1), 1)
  override def probeCells(v: Column, n: Int): Column =
    vecexprs.nearestCells(v, centroids, n)
}

/** Two half-space codebooks; cell = nearestA(v[0:split)) * k2 +
  * nearestB(v[split:dim)). Assignment AND probe fan-out both come from
  * [[vecexprs.imiProbeCells]] — the multi-sequence expression that walks
  * the product grid in exact joint-distance order, so `probeCells(v, n)`
  * really IS the n nearest product cells (the flat tier's contract).
  *
  * Round-13 note: the previous formulation probed a per-half
  * top-pa × top-pb RECTANGLE, which is not joint order — a cell whose
  * A-half ranks just past pa was unreachable however close its B-half,
  * and the 200k-decade probe measured the hole (hard-negative recall
  * 0.000 through the rectangle vs 1.000 through flat at the same fan-out
  * budget; retrieval recall was unaffected because top-cosine neighbors
  * rank #1 in both halves). Joint order closes it with the same two
  * half-space distance sweeps per row. The joint top-1 is (argmin A,
  * argmin B), so assignments are bit-identical to the old form's.
  */
final case class ImiQuantizer(cbA: Array[Array[Double]],
    cbB: Array[Array[Double]]) extends CellQuantizer {
  override def nCells: Int = cbA.length * cbB.length
  override def assign(v: Column): Column =
    element_at(vecexprs.imiProbeCells(v, cbA, cbB, 1), 1)
  override def probeCells(v: Column, n: Int): Column =
    vecexprs.imiProbeCells(v, cbA, cbB, n)
  override def probeWidthFactor: Int = 2 // measured — see the trait doc
}

/** Quantizer fitting, flat up to [[FlatCellCap]] cells, IMI beyond, PQ per
  * dimension slice. Each fit collects ONE bounded hash-keyed sample to the
  * driver (one Spark job over a materialized input) and runs the plain
  * [[lloyd]] loop over it or over its dimension slices: the sample is at
  * most max([[FitSampleFloor]], 16·k) rows and `orderBy.limit` already
  * yields one partition, so a distributed fit would be a chain of one-task
  * jobs. All fit inputs are (vec_id, v: array<double>) frames with no
  * nulls/zero-norms (callers guard).
  */
object Quantizers {

  /** Max cells a single plan-literal codebook may hold: 4096 × 64 dims ×
    * 8 B ≈ 2 MB of expression-tree literal, the practical ceiling before
    * plan size and task-binary broadcast start to hurt. Past it,
    * [[quantizerFor]] switches to the IMI product of two half-width
    * codebooks — ceiling lifted to FlatCellCap² ≈ 16.8M cells, enough for
    * √n sizing beyond 10^14 vectors.
    */
  val FlatCellCap = 4096

  /** Quantizer-fit sample floor: 4096 rows (256 per cell at the fixture's
    * 16 cells) — a coarse quantizer only needs roughly-balanced cells,
    * which a bounded sample estimates as well as the full corpus; at
    * 100 TB a full-corpus fit would pay 5 extra complete passes for
    * nothing. Grows as 16·k past k = 256 so a large-k fit is never
    * center-starved.
    */
  val FitSampleFloor = 4096

  /** Lloyd rounds per fit: few, because a coarse quantizer only needs
    * roughly-balanced cells, not converged-optimal ones (recall bounds
    * asserted in SimilaritySpec).
    */
  val LloydIters = 5

  /** The fit quantizer for a target cell count: flat codebook while the
    * plan literal can hold it, IMI product past it.
    */
  def quantizerFor(clean: DataFrame, kTotal: Int): CellQuantizer =
    if (kTotal <= FlatCellCap) FlatQuantizer(fitCentroids(clean, kTotal))
    else {
      val (a, b) = fitImiCodebooks(clean, kTotal)
      ImiQuantizer(a, b)
    }

  /** Fit one flat codebook on a bounded hash-keyed sample. The key is
    * xxhash64(v, vec_id) — a PER-ROW hash, so the lowest-key rows are a
    * uniform deterministic sample of the corpus: an exact-duplicate clique
    * of D rows gets its density-proportional ~D/N share of the sample,
    * never a contiguous low-hash block (a content-only key made identical
    * vectors share one key and sort adjacent, so one lucky clique could
    * flood the sample). Full dedup-by-content is deliberately NOT used: it
    * inflates every rare vector to equal weight, and the q93 planted-stray
    * spec measures the consequence — a deduped sample hands the stray its
    * own centroid, its within-cluster z collapses to 0, and the stray goes
    * unflagged. Density-proportional is what a coarse quantizer wants
    * anyway: heavy regions get more centroids, which shrinks Σ|cell|²
    * where pair mass concentrates. Lowest keys win (TakeOrdered with a
    * vec_id tiebreak — a total order, insensitive to file order), and
    * [[lloyd]] seeds only from distinct sample points, so a tiny or
    * duplicate-heavy corpus gets fewer centers, never a repeated one.
    */
  def fitCentroids(clean: DataFrame, k: Int): Array[Array[Double]] =
    lloyd(fitSample(clean, k), k)

  /** Fit the two IMI half-space codebooks: k1 ~ √kTotal codewords on the
    * first ⌊dim/2⌋ dims, k2 = ⌈kTotal/k1⌉ on the rest, both capped at
    * [[FlatCellCap]] (so kTotal caps at FlatCellCap²). One shared sample
    * (sized for the larger side), two Lloyd fits on its halves.
    */
  def fitImiCodebooks(clean: DataFrame,
      kTotal: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val k1 = math.min(FlatCellCap,
      math.max(1, math.ceil(math.sqrt(kTotal.toDouble)).toInt))
    val k2 = math.min(FlatCellCap,
      math.max(1, math.ceil(kTotal.toDouble / k1).toInt))
    val sample = fitSample(clean, math.max(k1, k2))
    require(sample.nonEmpty, "IMI quantizer cannot fit an empty corpus")
    require(sample.map(_.length).min >= 2,
      "IMI quantizer needs dim >= 2 (first half-space is empty)")
    (lloyd(sample.map(v => v.take(v.length / 2)), k1),
      lloyd(sample.map(v => v.drop(v.length / 2)), k2))
  }

  /** Fit the M per-subspace product-quantization codebooks (k codewords
    * each) for [[Similarity.pqAdcTopK]]: ONE shared bounded sample (the
    * same per-row-hash-keyed discipline as every other fit here), then M
    * independent Lloyd fits over its disjoint dimension slices. Subspace
    * bounds follow the integer rule lo_m = ⌊dim·m/M⌋ — the same arithmetic
    * the encode pass and the DuckDB mirror use, so all three agree on
    * ragged dims. Codebook state is M·k·(dim/M) = k·dim doubles — the SAME
    * plan footprint as one k-centroid flat codebook, far under the 2 MB
    * plan-literal bound.
    */
  def pqFitCodebooks(clean: DataFrame, m: Int,
      k: Int): Array[Array[Array[Double]]] = {
    val sample = fitSample(clean, k)
    require(sample.nonEmpty, "PQ quantizer cannot fit an empty corpus")
    val dim = sample.map(_.length).min
    require(dim >= m, s"PQ needs dim >= $m subspaces, got $dim")
    Array.tabulate(m)(i =>
      lloyd(sample.map(_.slice(dim * i / m, dim * (i + 1) / m)), k))
  }

  /** The bounded deterministic fit sample (see [[fitCentroids]] for why the
    * key is per-row and the order total), collected to the driver in
    * (hk, vec_id) order by one collect; ≥ 16 points per requested center
    * so the fit is never center-starved. Driver footprint: max(4096, 16·k)
    * rows × dim doubles, 32 MB at k = FlatCellCap and 64 dims.
    */
  private def fitSample(clean: DataFrame, k: Int): Array[Array[Double]] =
    clean
      .select(col("v"), xxhash64(col("v"), col("vec_id")).as("hk"),
        col("vec_id"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(math.max(FitSampleFloor, 16 * k))
      .collect()
      .map(_.getSeq[Double](0).toArray)

  /** Plain Lloyd k-means over a driver-side sample. Every choice is pinned,
    * so a codebook is a pure function of the sample's rows and order:
    *   - init: the first k DISTINCT points in sample order (the order is
    *     already a uniform deterministic draw); fewer distinct points than
    *     k gives fewer centers;
    *   - exactly [[LloydIters]] assign/update rounds;
    *   - assignment: [[NearestCellsExpr.compute]]'s top-1, the rule the
    *     serve path uses, so fit and serve share one tie-break (lowest
    *     center id) and one NaN fallback;
    *   - an empty cell keeps its center;
    *   - sums accumulate in sample order, so the codebook is bit-identical
    *     at any core or partition count.
    */
  private def lloyd(points: Array[Array[Double]],
      k: Int): Array[Array[Double]] = {
    val centers = points.iterator.distinctBy(_.toSeq).take(k).toArray
    val rows = points.map(ArrayData.toArrayData)
    for (_ <- 0 until LloydIters) {
      val sums = centers.map(c => new Array[Double](c.length))
      val counts = new Array[Int](centers.length)
      var i = 0
      while (i < points.length) {
        val c = NearestCellsExpr.compute(rows(i), centers, 1).getInt(0)
        val p = points(i)
        val s = sums(c)
        var j = 0
        while (j < s.length) { s(j) += p(j); j += 1 }
        counts(c) += 1
        i += 1
      }
      for (c <- centers.indices if counts(c) > 0)
        centers(c) = sums(c).map(_ / counts(c))
    }
    centers
  }
}
