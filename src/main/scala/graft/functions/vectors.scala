package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector column functions over `ARRAY<FLOAT|DOUBLE>` columns.
  *
  * Pure higher-order built-ins (`zip_with` + `aggregate`) — no UDF, no
  * driver-side math. Inputs are cast to `array<double>` so the fold
  * order and precision are identical to the DuckDB oracle's
  * `CAST(embedding AS DOUBLE[])` path.
  */
object vectors {

  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Sequential-fold dot product. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
}
