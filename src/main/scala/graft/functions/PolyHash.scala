package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 32-bit polynomial rolling hash (base 31, mod 2^32) over a
  * string's characters — the document-fingerprint kernel. Replaces the
  * `aggregate(sequence(1, length(s)), 0L, (acc, i) ->
  * (acc*31 + ascii(substring(s, i, 1))) % 4294967296)` fold, which
  * materializes an index array and runs an interpreted lambda (with a
  * substring allocation) PER CHARACTER. Iterates code points, so it is
  * bit-identical to the ascii() fold for any input; the fingerprint
  * pipeline feeds it ASCII-normalized text. */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure("poly_hash requires a string input")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(input: Any): Any =
    PolyHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.PolyHash.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PolyHash {
  /** Shared by interpreted eval and the generated code. `ascii(c)` is
    * the code point of the character, so fold code points, decoded by
    * [[CodePoints]] without allocating on well-formed input; a
    * malformed string folds the JDK decoder's code points instead, so
    * the result stays bit-identical to `codePointAt` (whose decoder
    * substitutes U+FFFD) on any input. */
  def compute(s: UTF8String): Long = {
    val n = s.numBytes
    var acc = 0L
    var i = 0
    while (i < n) {
      val c = CodePoints.at(s, i)
      if (c < 0) return fold(CodePoints.jdk(s))
      acc = (acc * 31L + (c >>> 3)) % 4294967296L
      i += (c & 7).toInt
    }
    acc
  }

  private def fold(cps: Array[Int]): Long = {
    var acc = 0L
    var i = 0
    while (i < cps.length) { acc = (acc * 31L + cps(i)) % 4294967296L; i += 1 }
    acc
  }
}
