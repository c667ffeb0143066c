package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native squared-L2 distance over two double arrays — one fused loop,
  * no intermediate array materialization. Replaces the
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, _+_)` fold in
  * the IVF/PQ assignment and ADC distance-table paths (the hottest
  * per-row kernels in vector search: corpus × M × Ks evaluations),
  * which Spark evaluates interpreted (higher-order functions have no
  * codegen) and which allocates the zipped array per call.
  * Accumulation is the same left-to-right fold from 0.0, so results
  * are bit-identical and the DuckDB oracle is unchanged. */
case class Dist2(left: Expression, right: Expression) extends ArrayPairKernel {
  override def prettyName: String = "dist2"

  override def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
