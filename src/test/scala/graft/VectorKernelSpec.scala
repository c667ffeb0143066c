package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.GraftFunctions

/** `cosine_sim` and `dist2` against the `zip_with` +
  * `aggregate` folds they replace, in codegen and interpreted mode, on
  * scalacheck-generated arrays: NaN, ±Inf, null elements, null arrays,
  * ragged, empty and all-zero. `zip_with` pads the shorter array with
  * nulls and a null term nulls the sum, so both kernels return null on
  * ragged input or a null element; cosine is also null on a zero norm.
  * The `vec_mean6` aggregate against its per-dimension
  * `round(avg(v[i]), 6)` form on the same kind of elements. */
class VectorKernelSpec extends SparkSpec {
  private type Vec = Seq[java.lang.Double]

  private def c(x: java.lang.Double): Gen[java.lang.Double] = Gen.const(x)
  private val element: Gen[java.lang.Double] = Gen.frequency(
    12 -> Gen.choose(-1e3, 1e3).map(Double.box),
    2 -> c(0.0), 1 -> c(-0.0), 1 -> c(Double.NaN),
    1 -> c(Double.PositiveInfinity), 1 -> c(Double.NegativeInfinity),
    1 -> c(1e200), // its square overflows to +Inf
    1 -> c(null))

  private def vec(n: Int): Gen[Vec] = Gen.frequency(
    8 -> Gen.listOfN(n, element),
    1 -> Gen.const(Seq.fill[java.lang.Double](n)(0.0)))

  private val pair: Gen[(Vec, Vec)] = for {
    n <- Gen.choose(0, 6)
    a <- vec(n)
    ragged <- Gen.frequency(6 -> false, 1 -> true)
    m <- if (ragged) Gen.choose(0, 6).suchThat(_ != n) else Gen.const(n)
    b <- vec(m)
    nullA <- Gen.frequency(30 -> false, 1 -> true)
  } yield (if (nullA) null else a, b)

  private def v(xs: java.lang.Double*): Vec = xs

  // the named degenerate cases, then a fixed-seed random sample
  private val pairs: Seq[(Vec, Vec)] = Seq(
    (v(1.0, null, 3.0), v(1.0, 2.0, 3.0)),
    (v(1.0, 2.0), v(1.0, 2.0, 3.0)),
    (v(), v()),
    (v(0.0, 0.0), v(1.0, 2.0)),
    (v(Double.NaN, 1.0), v(1.0, 1.0)),
    (v(Double.PositiveInfinity, 1.0), v(1.0, 1.0)),
    (v(1.0, 2.0), null)) ++
    Gen.listOfN(400, pair).pureApply(Gen.Parameters.default, Seed(20261019L))

  private val schema = StructType(Seq(StructField("id", IntegerType),
    StructField("a", ArrayType(DoubleType)), StructField("b", ArrayType(DoubleType))))

  private def input(): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }: _*),
    schema)

  private val kernels = Seq("cosine_sim(a, b)", "dist2(a, b)")

  private def fold(term: String) =
    s"aggregate(zip_with(a, b, (x, y) -> $term), 0.0D, (s, t) -> s + t)"
  private def norm(c: String) = s"sqrt(aggregate(transform($c, x -> x * x), 0.0D, (s, t) -> s + t))"
  private val references = Seq(
    s"CASE WHEN ${norm("a")} * ${norm("b")} = 0.0D THEN NULL " +
      s"ELSE ${fold("x * y")} / (${norm("a")} * ${norm("b")}) END",
    fold("(x - y) * (x - y)"))

  private def rows(exprs: Seq[String]): Map[Int, Seq[Option[Double]]] = {
    val df = input().select(col("id") +: exprs.map(expr): _*)
    df.collect().map { r =>
      r.getInt(0) -> exprs.indices.map(i => Option(r.get(i + 1)).map(_.asInstanceOf[Double]))
    }.toMap
  }

  private def same(x: Option[Double], y: Option[Double]): Boolean = (x, y) match {
    case (Some(p), Some(q)) => java.lang.Double.compare(p, q) == 0
    case (None, None) => true
    case _ => false
  }

  for ((mode, wholeStage) <- codegenModes)
    test(s"cosine_sim and dist2 equal their zip_with folds on degenerate arrays ($mode)") {
      GraftFunctions.register(spark)
      inCodegenMode(mode, wholeStage) {
        val native = input().select(kernels.map(expr): _*)
        val fused = PlanAudit.executedNodes(native.queryExecution.executedPlan)
          .exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(fused === (wholeStage == "true"))
        val got = rows(kernels)
        val ref = rows(references)
        assert(got.size === pairs.size)
        for ((id, want) <- ref; k <- kernels.indices)
          assert(same(got(id)(k), want(k)),
            s"${kernels(k)} on ${pairs(id)}: got ${got(id)(k)}, reference ${want(k)}")
      }
    }

  // vec_mean6: groups of 3-vectors, the named degenerate groups, then a
  // fixed-seed random sample
  private val Dim = 3
  private val group: Gen[Seq[Vec]] = for {
    n <- Gen.choose(1, 8)
    vs <- Gen.listOfN(n, Gen.frequency(10 -> vec(Dim), 1 -> Gen.const(null: Vec)))
  } yield vs
  private val groups: Seq[Seq[Vec]] = Seq(
    Seq(v(1.0, null, 2.0), v(3.0, 4.0, null)), // null elements are skipped
    Seq(v(null, null, null), v(1.0, null, 5.0)), // dimension 1 has no value
    Seq(v(Double.NaN, 1.0, 1.0), v(1.0, 1.0, 1.0)),
    Seq(v(Double.PositiveInfinity, 1.0, Double.NegativeInfinity), v(1.0, 1.0, 1.0)),
    Seq(v(Double.PositiveInfinity, 0.0, 0.0), v(Double.NegativeInfinity, 0.0, 0.0)),
    Seq(null, v(0.0000005, -0.0000005, 2.5)), // null array; 6dp midpoints
    Seq(null, null)) ++ // no vector: empty group
    Gen.listOfN(60, group).pureApply(Gen.Parameters.default, Seed(20261019L))

  private val meanSchema = StructType(Seq(StructField("k", IntegerType),
    StructField("v", ArrayType(DoubleType))))

  private def meanInput(): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(groups.zipWithIndex.flatMap { case (vs, k) => vs.map(Row(k, _)) }: _*),
    meanSchema).repartition(4) // partial buffers serialize and merge

  // a group with no non-null vector has no dimension: null, not Dim nulls
  private val meanReference =
    "CASE WHEN count(v) = 0 THEN NULL ELSE array(" +
      (0 until Dim).map(i => s"round(avg(v[$i]), 6)").mkString(", ") + ") END"

  private def means(df: DataFrame, agg: String): Map[Int, Option[Seq[Option[Double]]]] =
    df.groupBy(col("k")).agg(expr(agg)).collect().map { r =>
      r.getInt(0) -> Option(r.getSeq[java.lang.Double](1)).map(_.map(x => Option(x).map(_.doubleValue)))
    }.toMap

  test("vec_mean6 equals per-dimension round(avg, 6) on NaN, ±Inf, null elements and empty groups") {
    GraftFunctions.register(spark)
    val df = meanInput()
    val got = means(df, "vec_mean6(v)")
    val ref = means(df, meanReference)
    assert(got.size === groups.size && ref.size === groups.size)
    for ((k, want) <- ref) {
      val ok = (got(k), want) match {
        case (Some(g), Some(w)) => g.length == w.length && g.zip(w).forall { case (x, y) => same(x, y) }
        case (g, w) => g == w
      }
      assert(ok, s"group ${groups(k)}: got ${got(k)}, reference $want")
    }
    // an aggregate over no rows at all
    val none = df.filter(lit(false)).agg(expr("vec_mean6(v)"), expr(meanReference)).head()
    assert(none.isNullAt(0) && none.isNullAt(1))
  }
}
