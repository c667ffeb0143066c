package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused WINNOWING fingerprint kernel (Schleimer/Wilkerson/Aiken 2003):
  * all char k-gram hashes by a ROLLING 32-bit polynomial (base 31,
  * mod 2³², the [[PolyHash]] family hash — h(gram_{p+1}) derives from
  * h(gram_p) in O(1) via the precomputed 31^{k−1}), then the rightmost
  * minimum of each w-window by a monotonic deque — ONE O(n) pass per
  * document, zero allocations beyond the code-point buffer and the
  * result set.
  *
  * Replaces the `transform(sequence(...), p -> conv(substring(md5(
  * substring(text, p, k))...)))` + per-window `slice/reverse/
  * array_position` formulation, which runs interpreted (higher-order
  * lambdas never reach codegen) and allocates ~2 arrays per window —
  * measured minutes-per-pass at sf1.0 where this kernel takes seconds.
  * The DuckDB oracle replays the identical per-gram `(acc·31 + ascii)
  * % 2³²` fold and rightmost-argmin lambda walk, so the hash-gate
  * still proves the kernel.
  *
  * Tie/boundary semantics (bit-frozen for the oracle): gram hashes are
  * code-point folds (identical to `ascii(substr(s, q, 1))` on ANY
  * input — non-ASCII decodes like [[PolyHash]], with the malformed-
  * sequence slow path); a window's fingerprint is the hash at the
  * RIGHTMOST argmin (the deque pops `>=`, so an equal newer hash
  * evicts the older); output is distinct fingerprints in
  * first-occurrence order (order is pre-explode only — every consumer
  * aggregates). Strings shorter than k+w−1 yield an empty array. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if k >= 2 && w >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      "winnow_fps requires k >= 2 and w >= 1")
    case _ => TypeCheckResult.TypeCheckFailure(
      "winnow_fps requires a string input")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.WinnowFps.compute($s, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFps {
  private val Mask = 0xFFFFFFFFL

  /** One pass: rolling gram hashes + deque window minima + distinct. */
  def compute(s: UTF8String, k: Int, w: Int): GenericArrayData = {
    val cp = CodePoints.of(s)
    val n = cp.length
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val m = n - k + 1
    // 31^(k-1) mod 2^32 for the rolling drop term
    var pow = 1L
    var t = 0
    while (t < k - 1) { pow = (pow * 31L) & Mask; t += 1 }
    val hs = new Array[Long](m)
    var acc = 0L
    var i = 0
    while (i < k) { acc = (acc * 31L + cp(i)) & Mask; i += 1 }
    hs(0) = acc
    var p = 1
    while (p < m) {
      acc = (((acc - ((cp(p - 1) * pow) & Mask)) & Mask) * 31L + cp(p + k - 1)) & Mask
      hs(p) = acc
      p += 1
    }
    // monotonic deque of gram indices; >= pop keeps the RIGHTMOST min
    val dq = new Array[Int](m)
    var head = 0; var tail = 0 // [head, tail)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var j = 0
    while (j < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(j)) tail -= 1
      dq(tail) = j; tail += 1
      if (dq(head) <= j - w) head += 1
      if (j >= w - 1) seen.add(hs(dq(head)))
      j += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var q = 0
    while (it.hasNext) { out(q) = it.next(); q += 1 }
    new GenericArrayData(out)
  }
}
