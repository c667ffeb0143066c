package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.BinaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** A native kernel over two `array<double>` columns that returns a
  * double ([[CosineSim]], [[Dist2]]). Interpreted eval
  * and the generated code both call the one [[compute]], so the two
  * paths cannot disagree. Like the `zip_with` + `aggregate` folds these
  * kernels replace, `compute` returns null on ragged lengths or a null
  * element: `zip_with` pads the shorter array with nulls, and a null
  * term nulls the running sum. */
abstract class ArrayPairKernel extends BinaryExpression {
  /** The kernel over two non-null arrays; null is SQL NULL. */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs, got " +
      s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
        java.lang.Double $r = $kernel.compute($a, $b);
        ${ev.isNull} = $r == null;
        if ($r != null) { ${ev.value} = $r.doubleValue(); }
      """)
  }
}
