package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused nearest-centroid assignment: argmin over a (small, broadcast)
  * centroid array of the squared-L2 distance to `v`, tie-broken by the
  * smaller centroid id — ONE codegen'd kernel call per corpus row.
  *
  * Replaces the `crossJoin(broadcast(cents))` → N×K row stream →
  * `groupBy(vec_id).agg(min_by(cent_id, struct(d2, cent_id)))` →
  * re-join shape used by every IVF/PQ assignment: that form
  * materializes K rows per vector, pays a corpus-scale aggregate
  * exchange to collapse them, and a second join exchange to reattach
  * the vector. Here the centroid set rides in ONCE per task as a
  * one-row broadcast array column and the argmin runs inside the scan
  * stage — zero exchanges, N rows end to end.
  *
  * Exactness: the per-cell distance is the same sequential
  * left-to-right fold as [[Dist2]] (identical doubles), and the
  * lexicographic (d2, id) minimum is the same total order as
  * `min_by(id, struct(d2, id))` over the cells that have a distance —
  * `java.lang.Double.compare` ranks NaN above every real distance, as
  * Spark's double ordering does, and the id breaks ties. Cells with a
  * null id or a ragged/null vector (or a null element in either
  * vector) are SKIPPED. That is where the two forms differ: the fold
  * form yields a NULL d2 for such a cell, and `min_by`'s struct order
  * puts that NULL first, so it would pick the degenerate cell; this
  * kernel picks the nearest well-formed one, and returns NULL when
  * none is. Uniform-dimension, null-free corpora never reach the
  * difference.
  *
  * Input: `v array<double>`, `cells array<struct<id bigint,
  * cv array<double>>>` (field names free). Output:
  * `struct<cell bigint, d2 double>`; NULL when no cell qualifies. */
case class NearestCell(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(StructType(Array(a, b)), _))
        if a.dataType == LongType &&
          (b.dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "nearest_cell requires (array<double>, array<struct<bigint, array<double>>>)")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_cell"

  override def nullSafeEval(a: Any, b: Any): Any =
    NearestCell.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cells) => {
      s"""
        ${ev.value} = graft.functions.NearestCell.compute($v, $cells);
        ${ev.isNull} = ${ev.value} == null;
      """
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object NearestCell {
  /** Static kernel (codegen delegates here): argmin by (d2, id) over
    * the well-formed cells, NaN ranked last. */
  def compute(v: ArrayData, cells: ArrayData): InternalRow = {
    val k = cells.numElements()
    val n = v.numElements()
    var bestId = 0L
    var bestD2 = 0.0
    var found = false
    var i = 0
    while (i < k) {
      val c = if (cells.isNullAt(i)) null else cells.getStruct(i, 2)
      if (c != null && !c.isNullAt(0) && !c.isNullAt(1)) {
        val cv = c.getArray(1)
        if (cv.numElements() == n) {
          var acc = 0.0
          var ok = true
          var j = 0
          while (ok && j < n) {
            if (v.isNullAt(j) || cv.isNullAt(j)) ok = false
            else {
              val d = v.getDouble(j) - cv.getDouble(j)
              acc += d * d
              j += 1
            }
          }
          if (ok) {
            val id = c.getLong(0)
            val cmp = java.lang.Double.compare(acc, bestD2)
            if (!found || cmp < 0 || (cmp == 0 && id < bestId)) {
              found = true; bestD2 = acc; bestId = id
            }
          }
        }
      }
      i += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestId, bestD2))
  }
}
