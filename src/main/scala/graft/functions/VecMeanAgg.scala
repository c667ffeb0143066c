package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native element-wise vector mean with 6dp rounding:
  * `vec_mean6(array<double>)` → `array<double>`.
  *
  * The declarative formulation (k-means centroid update) exploded every
  * vector into `dim` (cent_id, d, x) rows, per-dim `round(avg(x), 6)`,
  * then re-collected the array — a dim× row amplification plus TWO
  * shuffles per Lloyd iteration. This buffer keeps one running
  * double[dim] sum and one non-null count per dimension, merges
  * element-wise, and finishes each dimension as Spark SQL's
  * `round(avg(v[i]), 6)` does: null elements and null vectors are
  * skipped, a dimension with no value is null, a NaN or ±Inf mean comes
  * back unchanged, and a finite one rounds BigDecimal HALF_UP on the
  * double's decimal representation. The result equals the per-dimension
  * `array(round(avg(v[0]), 6), …)` up to the same summation-order drift
  * the 6dp rounding is there to absorb (the determinism device the
  * Lloyd oracle mirrors); a group with no non-null vector has no
  * dimension and is null. One shuffle, no amplification. */
case class VecMeanAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMeanAgg.Buf] {

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_mean6 requires array<double>, got ${t.catalogString}")
  }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_mean6"

  override def createAggregationBuffer(): VecMeanAgg.Buf = VecMeanAgg.Buf(null, null)

  override def update(buf: VecMeanAgg.Buf, input: InternalRow): VecMeanAgg.Buf = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val b = if (buf.sums == null) VecMeanAgg.Buf(new Array[Double](n), new Array[Long](n)) else buf
    // Registered as a general session function, so mixed-length input is
    // reachable — fail fast instead of silently truncating dimensions.
    if (n != b.sums.length) throw new IllegalArgumentException(
      s"vec_mean6: vector length $n != group's first vector length ${b.sums.length}")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { b.sums(i) += arr.getDouble(i); b.counts(i) += 1 }
      i += 1
    }
    b
  }

  override def merge(a: VecMeanAgg.Buf, b: VecMeanAgg.Buf): VecMeanAgg.Buf = {
    if (b.sums == null) return a
    if (a.sums == null) return b
    if (a.sums.length != b.sums.length) throw new IllegalArgumentException(
      s"vec_mean6: cannot merge buffers of length ${a.sums.length} and ${b.sums.length}")
    var i = 0
    while (i < a.sums.length) { a.sums(i) += b.sums(i); a.counts(i) += b.counts(i); i += 1 }
    a
  }

  override def eval(buf: VecMeanAgg.Buf): Any = {
    if (buf.sums == null) return null
    val out = new Array[Any](buf.sums.length)
    var i = 0
    while (i < out.length) {
      if (buf.counts(i) > 0) {
        // exactly Spark SQL round(avg, 6): a non-finite mean passes
        // through, a finite one rounds HALF_UP on the decimal repr
        val m = buf.sums(i) / buf.counts(i)
        out(i) = if (m.isNaN || m.isInfinite) m
          else BigDecimal(m).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: VecMeanAgg.Buf): Array[Byte] = {
    val n = if (buf.sums == null) -1 else buf.sums.length
    val bb = ByteBuffer.allocate(4 + 16 * math.max(n, 0))
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(buf.sums(i)).putLong(buf.counts(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecMeanAgg.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    if (n < 0) VecMeanAgg.Buf(null, null)
    else {
      val b = VecMeanAgg.Buf(new Array[Double](n), new Array[Long](n))
      var i = 0
      while (i < n) { b.sums(i) = bb.getDouble(); b.counts(i) = bb.getLong(); i += 1 }
      b
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMeanAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMeanAgg =
    copy(inputAggBufferOffset = newOffset)
}

object VecMeanAgg {
  /** Running element-wise sums and non-null counts, sized lazily from
    * the first non-null vector (both null until then). */
  case class Buf(sums: Array[Double], counts: Array[Long])
}
