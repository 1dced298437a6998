package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Bloom-filter membership as a native (codegen'd) predicate — the prescreen
  * primitive behind q66's two-phase decontamination: a driver-built filter
  * over the small side rides into every task as one referenced object
  * (kilobytes of bits, like a broadcast), and each probe is two xxhash-
  * family hashes over the raw UTF-8 bytes — no UDF boxing, no String
  * decode, and the enclosing projection stays inside whole-stage codegen.
  *
  * Contract: NO false negatives (a true member always passes), bounded
  * false-positive rate — so `prescreen + exact join` returns exactly the
  * exact join's result while shrinking its probe-side input by ~(1 - fpp)
  * for non-overlapping data. Spark's own runtime-filter rewrite injects this
  * same shape inside joins; here it is an explicit operator so a pipeline
  * can stage it (build once, reuse across many scans).
  */
object bloom {

  /** True when `s` might be in `bf`; false only when definitely absent.
    * Bytes-level probe: matches what `DataFrameStatFunctions.bloomFilter`
    * inserted for string columns (both sides hash the UTF-8 bytes).
    */
  def mightContain(s: Column, bf: BloomFilter): Column =
    ColumnBridge.column(BloomMightContainExpr(ColumnBridge.expression(s), bf))

  /** The filter's wire form (Spark's own `BloomFilter.writeTo` layout) —
    * what the SQL surface carries as a binary literal: SQL has no object
    * references, so `bloom_might_contain(s, X'...')` takes the serialized
    * filter and GraftExtensions rebuilds the object once at analysis time.
    * Kilobytes for dimension-table-sized filters, same payload a broadcast
    * would ship.
    */
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** `X'...'` SQL literal of a serialized filter, for spark.sql users. */
  def sqlLiteral(bf: BloomFilter): String =
    serialize(bf).map("%02X".format(_)).mkString("X'", "", "'")
}

case class BloomMightContainExpr(child: Expression, bf: BloomFilter)
    extends NativeUnary {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = BooleanType
  // one shared filter reference per task binary
  override protected def constants: Seq[Any] = Seq(bf)

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainExpr =
    copy(child = newChild)
}

object BloomMightContainExpr {
  /** Probe with the string's UTF-8 bytes — the same bytes
    * `BloomFilter.putString` hashes on insert, so no String decode is ever
    * needed on the hot path.
    */
  def compute(s: UTF8String, bf: BloomFilter): Boolean =
    bf.mightContainBinary(s.getBytes)
}
