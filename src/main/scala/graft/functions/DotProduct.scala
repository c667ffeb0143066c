package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Native dot product over two double arrays — one fused loop,
  * accumulating left-to-right from 0.0 exactly like the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` fold it replaces, so the
  * rewrite below is bit-exact, null on ragged lengths or a null element
  * included ([[ArrayPairKernel]]). */
case class DotProduct(left: Expression, right: Expression) extends ArrayPairKernel {
  override def prettyName: String = "dot_product"

  override def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Optimizer rule: recognizes the declarative dot-product fold
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)`
  * and replaces it with the fused native [[DotProduct]] — users write
  * idiomatic higher-order SQL, the plan runs the codegen'd loop. The
  * accumulation order is identical, so this is a pure performance
  * rewrite (no result change). */
object RewriteVectorFolds extends Rule[LogicalPlan] {

  private def isIdentity(f: Expression): Boolean = f match {
    case LambdaFunction(body, Seq(arg), _) => body.semanticEquals(arg)
    case _ => false
  }

  private def isMulOfVars(f: Expression): Boolean = f match {
    case LambdaFunction(Multiply(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      (x.exprId == a.exprId && y.exprId == b.exprId) ||
        (x.exprId == b.exprId && y.exprId == a.exprId)
    case _ => false
  }

  private def isAddOfVars(f: Expression): Boolean = f match {
    case LambdaFunction(Add(x: NamedLambdaVariable, y: NamedLambdaVariable, _),
        Seq(a: NamedLambdaVariable, b: NamedLambdaVariable), _) =>
      (x.exprId == a.exprId && y.exprId == b.exprId) ||
        (x.exprId == b.exprId && y.exprId == a.exprId)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(ZipWith(a, b, zipF), Literal(0.0, DoubleType), mergeF, finishF)
        if isMulOfVars(zipF) && isAddOfVars(mergeF) && isIdentity(finishF) &&
          (a.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) &&
          (b.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }) =>
      DotProduct(a, b)
  }
}

/** Session wiring for the graft extensions: native functions + the
  * vector-fold rewrite. `withExtensions(new GraftExtensions)` for new
  * sessions, or `GraftExtensions.install(spark)` for a live one. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => RewriteVectorFolds)
}

object GraftExtensions {
  def install(spark: SparkSession): Unit = {
    GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(RewriteVectorFolds)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteVectorFolds
    }
  }
}
