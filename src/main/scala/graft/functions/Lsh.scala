package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Shared ±1 hyperplane sign matrix for the multi-table LSH family —
  * md5-derived so the DuckDB oracle inlines identical constants (see
  * graft.operators.Similarity.lshSign). Flattened [t][j][d] row-major. */
object LshPlanes {
  val Dim = 64
  val Bits = 11
  val Tables = 12

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
}

/** All per-table LSH bucket ids of one vector in ONE fused expression —
  * returns array<bigint> of LshPlanes.Tables buckets.
  *
  * A 12-table × 11-bit signature as 132 separate dot-product folds
  * makes the Catalyst tree so large that per-query analysis+codegen
  * dominates the runtime; this expression keeps the tree at one node and
  * runs the triple loop in generated code. Projection accumulation is
  * ascending-index from 0.0 with ±1.0 multiplies — bit-identical to the
  * `aggregate(zip_with(...))` fold and to the oracle's list_reduce. */
case class LshBuckets(child: Expression) extends UnaryExpression {
  import LshPlanes._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("lsh_buckets requires array<double>")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val s = flat
    val n = math.min(v.numElements(), Dim)
    val out = new Array[Long](Tables)
    var t = 0
    while (t < Tables) {
      var b = 0L; var j = 0
      while (j < Bits) {
        var p = 0.0; var d = 0
        val base = (t * Bits + j) * Dim
        while (d < n) { p += v.getDouble(d) * s(base + d); d += 1 }
        if (p > 0) b |= (1L << j)
        j += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("lshSigns", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val t = ctx.freshName("t"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val p = ctx.freshName("p")
      val b = ctx.freshName("b"); val n = ctx.freshName("n")
      val base = ctx.freshName("base")
      s"""
        int $n = Math.min($v.numElements(), $Dim);
        long[] $out = new long[$Tables];
        for (int $t = 0; $t < $Tables; $t++) {
          long $b = 0L;
          for (int $j = 0; $j < $Bits; $j++) {
            double $p = 0.0;
            int $base = ($t * $Bits + $j) * $Dim;
            for (int $d = 0; $d < $n; $d++) { $p += $v.getDouble($d) * $sRef[$base + $d]; }
            if ($p > 0) $b |= (1L << $j);
          }
          $out[$t] = $b;
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All per-table projection vectors of one vector — array<array<double>>
  * of Tables × Bits raw projections, for the query side's margin-ranked
  * multiprobe (same fused loop as [[LshBuckets]]). */
case class LshProjections(child: Expression) extends UnaryExpression {
  import LshPlanes._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("lsh_proj requires array<double>")
  }
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "lsh_proj"

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val s = flat
    val n = math.min(v.numElements(), Dim)
    val out = new Array[Any](Tables)
    var t = 0
    while (t < Tables) {
      val pj = new Array[Double](Bits)
      var j = 0
      while (j < Bits) {
        var p = 0.0; var d = 0
        val base = (t * Bits + j) * Dim
        while (d < n) { p += v.getDouble(d) * s(base + d); d += 1 }
        pj(j) = p
        j += 1
      }
      out(t) = new GenericArrayData(pj)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sRef = ctx.addReferenceObj("lshSigns", flat, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("out")
      val pj = ctx.freshName("pj")
      val t = ctx.freshName("t"); val j = ctx.freshName("j")
      val d = ctx.freshName("d"); val p = ctx.freshName("p")
      val n = ctx.freshName("n")
      val base = ctx.freshName("base")
      s"""
        int $n = Math.min($v.numElements(), $Dim);
        Object[] $out = new Object[$Tables];
        for (int $t = 0; $t < $Tables; $t++) {
          double[] $pj = new double[$Bits];
          for (int $j = 0; $j < $Bits; $j++) {
            double $p = 0.0;
            int $base = ($t * $Bits + $j) * $Dim;
            for (int $d = 0; $d < $n; $d++) { $p += $v.getDouble($d) * $sRef[$base + $d]; }
            $pj[$j] = $p;
          }
          $out[$t] = new org.apache.spark.sql.catalyst.util.GenericArrayData($pj);
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
