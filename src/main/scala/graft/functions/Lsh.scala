package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Shared ±1 hyperplane sign matrix for the multi-table LSH family,
  * md5-derived so the DuckDB oracle inlines identical constants.
  * Flattened [t][j][d] row-major. */
object LshPlanes {
  val Dim = 64
  val Bits = 11
  val Tables = 12

  /** Deterministic ±1 hyperplane signs: sign(t,j,d) = +1 iff the first
    * 32 md5 bits of the string (t·100000 + j·64 + d) are even. Table 0
    * reproduces the round-1 single-table signs. */
  def sign(t: Int, j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(String.valueOf(t * 100000 + j * 64 + d).getBytes("UTF-8"))
    val v = ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
      ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
    if (v % 2 == 0) 1.0 else -1.0
  }

  lazy val flat: Array[Double] = {
    val a = new Array[Double](Tables * Bits * Dim)
    var i = 0
    for (t <- 0 until Tables; j <- 0 until Bits; d <- 0 until Dim) {
      a(i) = sign(t, j, d); i += 1
    }
    a
  }

  /** The Tables × Bits projections of `v` onto the planes, [t][j]
    * row-major — each accumulated ascending-index from 0.0 with ±1.0
    * multiplies, bit-identical to the
    * `aggregate(zip_with(v, signs, (x, s) -> x * s), 0D, (a, p) -> a + p)`
    * fold and to the oracle's list_reduce. Null where that fold is
    * null: unless `v` has exactly [[Dim]] elements, none of them null
    * (`zip_with` pads a shorter side with nulls, and a null term nulls
    * the sum). */
  def project(v: ArrayData): Array[Double] = {
    if (v.numElements() != Dim) return null
    var d = 0
    while (d < Dim) { if (v.isNullAt(d)) return null; d += 1 }
    val s = flat
    val out = new Array[Double](Tables * Bits)
    var k = 0
    while (k < out.length) {
      var p = 0.0
      val base = k * Dim
      d = 0
      while (d < Dim) { p += v.getDouble(d) * s(base + d); d += 1 }
      out(k) = p
      k += 1
    }
    out
  }
}

/** A fused LSH kernel over one `array<double>` vector ([[LshBuckets]],
  * [[LshProjections]]): both derive from [[LshPlanes.project]], and
  * interpreted eval and the generated code both call the one
  * [[compute]], so the paths cannot disagree. A 12-table × 11-bit
  * signature as 132 separate dot-product folds makes the Catalyst tree
  * so large that per-query analysis+codegen dominates the runtime; a
  * kernel keeps the tree at one node. */
abstract class LshKernel extends UnaryExpression {
  /** The kernel's value for a non-null vector; null is SQL NULL. */
  def compute(v: ArrayData): ArrayData

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double>")
  }
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    nullSafeCodeGen(ctx, ev, v =>
      s"""
        ${ev.value} = $kernel.compute($v);
        ${ev.isNull} = ${ev.value} == null;
      """)
  }
}

/** All per-table LSH bucket ids of one vector: array<bigint> of
  * LshPlanes.Tables buckets, bit j of bucket t set iff projection
  * (t, j) is > 0 in SQL order, where NaN sorts above every number (as
  * the fold's `p > 0` and the oracle's `CASE WHEN p > 0` read it). */
case class LshBuckets(child: Expression) extends LshKernel {
  import LshPlanes._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  def compute(v: ArrayData): ArrayData = {
    val p = project(v)
    if (p == null) return null
    val out = new Array[Long](Tables)
    var k = 0
    while (k < p.length) {
      if (p(k) > 0 || java.lang.Double.isNaN(p(k))) out(k / Bits) |= 1L << (k % Bits)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All per-table projection vectors of one vector — array<array<double>>
  * of Tables × Bits raw projections, for the query side's margin-ranked
  * multiprobe. */
case class LshProjections(child: Expression) extends LshKernel {
  import LshPlanes._

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "lsh_proj"

  def compute(v: ArrayData): ArrayData = {
    val p = project(v)
    if (p == null) return null
    new GenericArrayData(Array.tabulate[Any](Tables)(t =>
      new GenericArrayData(java.util.Arrays.copyOfRange(p, t * Bits, (t + 1) * Bits))))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
