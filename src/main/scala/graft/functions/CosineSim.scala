package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expression: fused cosine similarity over two double
  * arrays.
  *
  * One loop computes dot product and both norms — no intermediate
  * arrays, no lambda-function evaluation — replacing the
  * `zip_with`+`aggregate` fold chain in the hot vector-search path.
  * Accumulation order matches the sequential left-fold the DuckDB oracle
  * uses (`list_reduce` over element products), so results stay
  * bit-identical. Returns null when either norm is zero, and on ragged
  * lengths or a null element ([[ArrayPairKernel]]).
  */
case class CosineSim(left: Expression, right: Expression) extends ArrayPairKernel {
  override def prettyName: String = "cosine_sim"

  override def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) null else dot / d
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  // Sessions already registered — weak keys so a stopped session can be
  // collected. Guarding makes repeat calls (one per operator invocation)
  // true no-ops instead of re-registrations that WARN on every query in
  // a long-lived bench/verify session.
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Builder-time guard for kernel-shaping arguments: they must be
    * foldable integer literals (they size buffers / unroll loops inside
    * the compiled expression), and the arity must match — without this
    * check a miscalled `winnow_fps(text, some_col, 8)` dies in an opaque
    * ClassCastException/IndexOutOfBounds during analysis instead of an
    * error naming the requirement. */
  private def litInt(fn: String, exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      arity: Int, pos: Int): Int = {
    if (exprs.length != arity)
      throw new IllegalArgumentException(
        s"$fn requires exactly $arity arguments, got ${exprs.length}")
    val e = exprs(pos)
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn argument ${pos + 1} must be a foldable integer literal " +
          s"(it shapes the compiled kernel), got: ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue
      case other => throw new IllegalArgumentException(
        s"$fn argument ${pos + 1} must be an integer literal, got: $other")
    }
  }

  /** Idempotent per-session registration; after this,
    * `expr("cosine_sim(a, b)")` resolves to the native expression. */
  def register(spark: SparkSession): Unit = registered.synchronized {
    if (registered.add(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "cosine_sim", exprs => CosineSim(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "dist2", exprs => Dist2(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "nearest_cell", exprs => NearestCell(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "ngram_join", exprs => NgramJoin(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "poly_hash", exprs => PolyHash(exprs(0)), "built-in")
      // k and w must be foldable literals — they shape the kernel
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "winnow_fps", exprs => WinnowFps(exprs(0),
          litInt("winnow_fps", exprs, 3, 1),
          litInt("winnow_fps", exprs, 3, 2)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "lsh_buckets", exprs => LshBuckets(exprs(0)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "wp_stats", exprs => WpStats(exprs(0)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "greedy_seg", exprs => GreedySeg(exprs(0), exprs(1)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "lsh_proj", exprs => LshProjections(exprs(0)), "built-in")
      // aggregate: the analyzer wraps the bare AggregateFunction in an
      // AggregateExpression, as with built-in aggregates
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "simhash_agg", exprs => SimhashAgg(exprs(0)), "built-in")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "vec_mean6", exprs => VecMeanAgg(exprs(0)), "built-in")
      // k must be a foldable literal — it sizes the signature buffer
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "minhash_agg", exprs => MinhashAgg(exprs(0),
          litInt("minhash_agg", exprs, 2, 1)), "built-in")
    }
  }
}
