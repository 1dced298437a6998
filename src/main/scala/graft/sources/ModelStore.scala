package graft.sources

import graft.operators.{CellQuantizer, FlatQuantizer, ImiQuantizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistence for the trained ANN artifacts, in the layout
  * [[graft.operators.AnnIndex]] saves and loads (its `save` and `load` are
  * the callers): the codebook table under `<path>/coarse` and the encoded
  * corpus index under `<path>/index`.
  *
  * Why this exists (the production train-once/serve-many contract): every
  * fit is sample-seeded KMeans, so REFITTING per job moves the cell
  * boundaries — two corpus snapshots deduped under independently-fitted
  * quantizers produce incomparable semantic-dedup verdicts, and every
  * q98/q101-style invocation pays the fit wall again. Persisting the fitted
  * codebooks once (the same artifact discipline as CurationRun's `shards/`)
  * makes reloaded runs bit-identical: the quantizer IS its centroid arrays,
  * so a loaded codebook reproduces every assignment exactly
  * (reload-equality spec'd in QuantizerSpec).
  *
  * Codebook layout: one parquet table per artifact with rows
  * (kind: string, side: int, idx: int, centroid: array<double>) —
  *   - flat coarse codebook: kind "flat", side 0, idx = cell id
  *   - IMI product codebooks: kind "imi", side 0 = first-half codebook A,
  *     side 1 = second-half codebook B, idx = per-side codeword id
  *   - PQ codebooks (optional): kind "pq", side = subspace m, idx =
  *     codeword id
  * Model state is KB-to-MB scale by the quantizer contract (≤ FlatCellCap
  * centroids per side), so the load-side collect is the legitimate
  * model-fit boundary, not a data-path collect — the same rule as the
  * fit's own sample collect.
  */
object ModelStore {

  /** The codebook table's schema, given to the reader so a load runs no
    * parquet footer-inference job.
    */
  private val CodebookSchema = StructType(Seq(
    StructField("kind", StringType), StructField("side", IntegerType),
    StructField("idx", IntegerType),
    StructField("centroid", ArrayType(DoubleType, containsNull = false))))

  /** Write a coarse quantizer and its optional PQ codebooks under `path`
    * (overwrite), one coalesced KB-scale table.
    */
  def saveQuantizer(spark: SparkSession, quant: CellQuantizer,
      pq: Option[Array[Array[Array[Double]]]], path: String): Unit = {
    import spark.implicits._
    val coarse = quant match {
      case FlatQuantizer(cs) => "flat" -> Seq(cs)
      case ImiQuantizer(a, b) => "imi" -> Seq(a, b)
    }
    (coarse +: pq.toSeq.map(cbs => "pq" -> cbs.toSeq)).flatMap {
      case (kind, sides) => sides.zipWithIndex.flatMap { case (cb, side) =>
        cb.zipWithIndex.map { case (c, idx) => (kind, side, idx, c.toSeq) }
      }
    }.toDF(CodebookSchema.fieldNames.toIndexedSeq: _*)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload what [[saveQuantizer]] wrote. The rebuilt codebooks carry the
    * identical doubles, so assignments, probe fan-outs and ADC scores are
    * bit-identical to the originals'.
    */
  def loadQuantizer(spark: SparkSession, path: String)
      : (CellQuantizer, Option[Array[Array[Array[Double]]]]) = {
    // one collect job; the KB-scale rows sort on the driver
    val rows = spark.read.schema(CodebookSchema).parquet(path)
      .collect().sortBy(r => (r.getInt(1), r.getInt(2)))
    require(rows.nonEmpty, s"no quantizer artifact at $path")
    def sides(kind: String): Array[Array[Array[Double]]] = rows
      .filter(_.getString(0) == kind).groupBy(_.getInt(1)).toArray
      .sortBy(_._1).map(_._2.map(_.getSeq[Double](3).toArray))
    val quant = (sides("flat"), sides("imi")) match {
      case (Array(cs), _) => FlatQuantizer(cs)
      case (_, Array(a, b)) => ImiQuantizer(a, b)
      case _ => throw new IllegalArgumentException(
        s"$path holds no coarse quantizer")
    }
    (quant, Some(sides("pq")).filter(_.nonEmpty))
  }

  /** Persist an ENCODED corpus index — the (vec_id, cell[, c0..cM-1])
    * assignment frame of an [[graft.operators.AnnIndex]], one level below
    * the codebooks: the model reproduces assignments, but re-deriving them
    * costs a raw-vector scan per query, the fit+encode wall a deployment
    * pays ONCE. Data-sized, so a distributed parquet table clustered by
    * `cell` (repartitioned on cell, sorted by (cell, vec_id) within files):
    * a probe's cell equi-join touches a contiguous slice per cell, and a
    * `cell IN (...)` reader skips row groups by min/max stats. Returns the
    * written index read back under its schema (no footer-inference job).
    */
  def saveIndex(index: DataFrame, path: String): DataFrame = {
    val cols = index.columns
    require(cols.contains("vec_id") && cols.contains("cell"),
      s"index artifact needs (vec_id, cell[, codes...]); got ${cols.mkString(",")}")
    index.repartition(col("cell"))
      .sortWithinPartitions(col("cell"), col("vec_id"))
      .write.mode("overwrite").parquet(path)
    loadIndex(index.sparkSession, path, index.schema)
  }

  /** Reload an encoded index written by [[saveIndex]] under its known
    * schema: a plain distributed parquet read with no footer-inference job.
    * The scored pass runs straight off these columns and never touches raw
    * vectors (the served-path contract q121 hashes).
    */
  def loadIndex(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}
