package graft.operators

import graft.functions.expressions.{NearestCellsExpr, vecexprs}
import graft.sources.ModelStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

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
    * 1× and 2× the ⌈√k⌉ fan-out where flat hits 1.0 at exactly 1×.
    * [[AnnIndex]]'s fan-out multiplies its ⌈√cells⌉ by this (capped at
    * nCells).
    */
  def probeWidthFactor: Int = 1
}

/** The IVF / IVF-PQ index — the paper's inverted index with cells as terms
  * (`cell → vec_ids`): one value that is built, saved, loaded and probed.
  *   - `quant` routes: every vector to one cell, every probe to its
  *     fan-out of nearest cells.
  *   - `pq`, when present, holds the per-subspace PQ codebooks: scoring
  *     reads M small codes per vector, not the vector.
  *   - `cells` is the assignment frame ([[assign]], [[assignSoft]]), or
  *     None for a model-only index (q104's and the served codebook's).
  *
  * [[AnnIndex.seeded]] and [[AnnIndex.fitted]] build it; [[save]] and
  * [[AnnIndex.load]] persist it in the [[graft.sources.ModelStore]] layout
  * (`<path>/coarse`, `<path>/index`); [[probe]] and [[search]] serve it.
  * Both serving operations fan out through [[fanOut]], the one place the
  * probe fan-out ([[AnnIndex.ivfProbesFor]]) is chosen. Each query keeps
  * its own tail (top-k rank, hard-negative gate, decon argmax, dedup CC,
  * sweep grading).
  */
final case class AnnIndex(quant: CellQuantizer,
    pq: Option[Array[Array[Array[Double]]]] = None,
    cells: Option[DataFrame] = None) {

  /** This index assigned over a clean (vec_id, v, ...) `frame` (lazy, no
    * job). Flat: `frame`'s rows plus their `cell`, since scoring reads
    * their vectors. IVF-PQ: the resident form (vec_id, cell, c0..cM-1),
    * vectors dropped, since scoring reads codes.
    */
  def assign(frame: DataFrame): AnnIndex = copy(cells = Some(pq match {
    case None => frame.select(col("*"), quant.assign(col("v")).as("cell"))
    case Some(cbs) => frame.select(col("vec_id") +:
      quant.assign(col("v")).as("cell") +: Similarity.pqCodeCols(cbs): _*)
  }))

  /** q85's soft assignment over a (vec_id, v) `frame`: one (vec_id, cell)
    * row per each of a row's [[Similarity.SemProbeCells]] nearest cells.
    */
  def assignSoft(frame: DataFrame): AnnIndex = copy(cells = Some(
    frame.select(col("vec_id"),
      explode(quant.probeCells(col("v"), Similarity.SemProbeCells)).as("cell"))))

  /** Each probe row's fan-out: its [[AnnIndex.ivfProbesFor]] nearest cells,
    * one row each.
    */
  private def fanOut(v: Column): Column =
    explode(quant.probeCells(v, AnnIndex.ivfProbesFor(quant))).as("cell")

  /** The cell-mates of every `probes` row (its vector in column `pv`): the
    * probes fan out, broadcast, and equi-join the assignment frame on
    * `cell`, so the corpus side never shuffles. Each row carries both
    * sides' columns; the caller scores and ranks.
    */
  def probe(probes: DataFrame, pv: String = "pv"): DataFrame =
    cells.get.join(broadcast(probes.select(col("*"), fanOut(col(pv)))),
      Seq("cell"))

  /** IVF-PQ top-k for the fixed probes (vec_id < 5) of the clean (vec_id, v)
    * `base` this index encodes: the probes fan out with their ADC lookup
    * tables, the cell equi-join reads codes only, ADC ranks a
    * [[Similarity.PqShortlist]] per probe, and the exact refine orders it.
    * Raw vectors are read only for the probe rows and the refine fetch.
    */
  def search(base: DataFrame): DataFrame = {
    val cbs = pq.get
    val probeLut = base.filter(col("vec_id") < 5).select(
      col("vec_id").as("probe_id") +:
        vecexprs.dotProduct(col("v"), col("v")).as("np2") +:
        fanOut(col("v")) +: Similarity.pqLutCols(cbs): _*)
    val shortlist = cells.get.join(broadcast(probeLut), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .transform(Similarity.pqAdcShortlist(cbs))
    Similarity.pqRefine(base, shortlist)
  }

  /** Write this index under `path`: the codebook table (quantizer plus any
    * PQ codebooks) at `path/coarse` and, when the index holds one, the
    * assignment frame at `path/index`, narrowed to (vec_id, cell[, codes])
    * and clustered by cell. Returns this index serving from the written
    * frame, read back under its schema (no footer-inference job).
    */
  def save(spark: SparkSession, path: String): AnnIndex = {
    ModelStore.saveQuantizer(spark, quant, pq, s"$path/coarse")
    copy(cells = cells.map(c => ModelStore.saveIndex(
      c.select(AnnIndex.indexSchema(pq).fieldNames.toIndexedSeq.map(col): _*),
      s"$path/index")))
  }
}

object AnnIndex {

  /** Quantizer cell count for an n-vector corpus: ~√n, floored at the
    * fixture's [[Similarity.IvfCells]], capped at FlatCellCap² (the IMI
    * ceiling [[Quantizers.quantizerFor]] switches to past FlatCellCap).
    * √n keeps the within-cell candidate mass sub-quadratic: soft top-2
    * cells of average size 2n/k give Σ|cell|² ≈ 4n²/k = 4n^1.5 pairs —
    * measured on the dup-heavy fixture, a FIXED 16 cells left 47.8M
    * candidates over 20k vectors (N²/4) where √n cells leave ~8M.
    */
  private def ivfCellsFor(n: Long): Int =
    math.max(Similarity.IvfCells,
      math.min(Quantizers.FlatCellCap.toLong * Quantizers.FlatCellCap,
        math.round(math.sqrt(n.toDouble))).toInt)

  /** Probe fan-out for a k-cell quantizer: max([[Similarity.IvfProbes]],
    * ⌈√k⌉) times its [[CellQuantizer.probeWidthFactor]], capped at k. A
    * FIXED fan-out over √n-scaled cells probes a shrinking 4/√n fraction,
    * so recall decayed with scale (q92b: 0.48 at 22 cells → 0.37 at 71);
    * √k probes shrink it only as n^(-1/4) while per-probe scanned mass
    * stays n^(3/4) — the nlist/nprobe co-scaling rule. At the fixture's 16
    * cells this is exactly IvfProbes, so the seeded twins' oracles hold.
    */
  private def ivfProbesFor(quant: CellQuantizer): Int =
    math.min(quant.nCells, quant.probeWidthFactor * math.max(
      Similarity.IvfProbes, math.ceil(math.sqrt(quant.nCells.toDouble)).toInt))

  /** The lowest-id builder: the [[Similarity.IvfCells]] lowest-id vectors
    * of a clean (vec_id, v) `base` ARE the flat codebook (q39b's init-free
    * idiom, every step SQL-mirrorable), and with `pq` the
    * [[Similarity.PqCodewords]] lowest-id vectors, sliced per subspace, are
    * the PQ codebooks. One k-row collect of model state; None for an empty
    * `base`.
    */
  def seeded(base: DataFrame, pq: Boolean = false): Option[AnnIndex] = {
    val seeds = Similarity.lowestIdSeeds(base,
      if (pq) math.max(Similarity.IvfCells, Similarity.PqCodewords)
      else Similarity.IvfCells)
    Option.when(seeds.nonEmpty)(AnnIndex(
      FlatQuantizer(seeds.take(Similarity.IvfCells)),
      Option.when(pq)(Similarity.pqCodebooksFromSeeds(
        seeds.take(Similarity.PqCodewords)))))
  }

  /** The trained builder over a clean (vec_id, v) `clean` frame of `n`
    * rows (materialized by the caller, whose count sizes the fit):
    * [[Quantizers.quantizerFor]] at [[ivfCellsFor]] cells and, with `pq`,
    * [[Quantizers.pqFitCodebooks]] — one sample collect per fit. None when
    * n is 0: no quantizer fits an empty corpus.
    */
  def fitted(clean: DataFrame, n: Long, pq: Boolean = false): Option[AnnIndex] =
    Option.when(n > 0)(AnnIndex(
      Quantizers.quantizerFor(clean, ivfCellsFor(n)),
      Option.when(pq)(Quantizers.pqFitCodebooks(
        clean, Similarity.PqSubspaces, Similarity.PqCodewords))))

  /** The persisted assignment frame's schema: (vec_id, cell) plus one code
    * column per PQ subspace. [[save]] writes exactly these columns and
    * [[load]] reads them back under it.
    */
  private def indexSchema(pq: Option[Array[Array[Array[Double]]]]): StructType =
    StructType((Seq(StructField("vec_id", LongType)) ++
      (Seq("cell") ++ pq.toSeq.flatMap(_.indices.map(i => s"c$i")))
        .map(StructField(_, IntegerType))))

  /** Read back an index [[save]] wrote under `path`: the codebooks (one
    * KB-scale collect) and, when `path/index` exists, the assignment frame
    * under [[indexSchema]] (lazy, no job).
    */
  def load(spark: SparkSession, path: String): AnnIndex = {
    val (quant, pq) = ModelStore.loadQuantizer(spark, s"$path/coarse")
    val index = new org.apache.hadoop.fs.Path(s"$path/index")
    val written = index.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(index)
    AnnIndex(quant, pq, Option.when(written)(
      ModelStore.loadIndex(spark, index.toString, indexSchema(pq))))
  }
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
