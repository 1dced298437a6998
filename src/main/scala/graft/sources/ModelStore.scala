package graft.sources

import graft.operators.{CellQuantizer, FlatQuantizer, ImiQuantizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistence for the trained ANN artifacts — the fitted coarse-quantizer
  * codebooks (flat or IMI) the q39/q85/q92b/q101 family fits from its
  * bounded sample, and the encoded corpus index the IVF/IVF-PQ tier
  * serves from.
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
  * Model state is KB-to-MB scale by the quantizer contract (≤ FlatCellCap
  * centroids per side), so the load-side collect is the legitimate
  * model-fit boundary, not a data-path collect — the same rule as the
  * fit's own clusterCenters materialization.
  */
object ModelStore {

  /** The codebook table's schema, given to the reader so a load runs no
    * parquet footer-inference job.
    */
  private val CodebookSchema = StructType(Seq(
    StructField("kind", StringType), StructField("side", IntegerType),
    StructField("idx", IntegerType),
    StructField("centroid", ArrayType(DoubleType, containsNull = false))))

  private def toDf(spark: SparkSession, kind: String,
      sides: Seq[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    sides.zipWithIndex.flatMap { case (cb, side) =>
      cb.zipWithIndex.map { case (c, idx) => (kind, side, idx, c.toSeq) }
    }.toDF(CodebookSchema.fieldNames.toIndexedSeq: _*)
  }

  /** Write a fitted coarse quantizer under `path` (overwrite). */
  def saveQuantizer(spark: SparkSession, quant: CellQuantizer,
      path: String): Unit = {
    val df = quant match {
      case FlatQuantizer(cs) => toDf(spark, "flat", Seq(cs))
      case ImiQuantizer(a, b) => toDf(spark, "imi", Seq(a, b))
    }
    df.coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Reload a coarse quantizer written by [[saveQuantizer]]. The rebuilt
    * quantizer carries the identical centroid arrays, so assignments and
    * probe fan-outs are bit-identical to the fitted original's.
    */
  def loadQuantizer(spark: SparkSession, path: String): CellQuantizer = {
    // one collect job; the KB-scale rows sort on the driver
    val rows = spark.read.schema(CodebookSchema).parquet(path)
      .collect().sortBy(r => (r.getInt(1), r.getInt(2)))
    require(rows.nonEmpty, s"no quantizer artifact at $path")
    val kind = rows.head.getString(0)
    def side(s: Int): Array[Array[Double]] = rows
      .filter(_.getInt(1) == s).map(_.getSeq[Double](3).toArray)
    kind match {
      case "flat" => FlatQuantizer(side(0))
      case "imi" => ImiQuantizer(side(0), side(1))
      case other =>
        throw new IllegalArgumentException(
          s"$path holds a '$other' artifact, not a coarse quantizer")
    }
  }

  /** Persist an ENCODED corpus index — the (vec_id, cell[, c0..cM-1])
    * resident form the IVF/IVF-PQ tier builds once and serves thousands of
    * queries from ([[graft.operators.Similarity.ivfPqEncode]]'s output, or
    * the (vec_id, cell) soft-assignment frame a dedup run used). This is
    * the artifact seam ONE LEVEL BELOW the codebooks above: the model
    * (KB-scale centroids) reproduces assignments, but re-deriving them
    * still costs a full raw-vector scan per query — exactly the fit+encode
    * wall a production deployment pays ONCE. Unlike the codebook tables
    * this is data-sized, so it is written as a normal distributed parquet
    * table (no coalesce), clustered by `cell`: rows repartition on cell and
    * sort by (cell, vec_id) within files, so each cell's codes are
    * contiguous and a served probe's cell equi-join touches a contiguous
    * slice per cell (and a reader pushing `cell IN (...)` skips whole row
    * groups via parquet min/max stats). Codes are small ints — the
    * 8–64 B/vector residency the PQ tier promises is what lands on disk.
    *
    * Returns the written index read back under the schema it was written
    * with, so the reader runs no footer-inference job.
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

  /** Reload an encoded index written by [[saveIndex]]. Plain distributed
    * parquet read — the scored pass runs straight off these columns and
    * never touches raw vectors (the served-path contract q121 hashes).
    * This form reads the schema off the files' footers (one inference
    * job); a reader that knows it passes it to the form below.
    */
  def loadIndex(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** [[loadIndex]] under a known schema: no footer-inference job. */
  def loadIndex(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)
}
