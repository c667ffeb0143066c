package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GraftFunctions, LshPlanes}
import graft.functions.LshPlanes.{Bits, Dim, Tables}

/** `lsh_buckets` and `lsh_proj` against the
  * `aggregate(zip_with(v, signs, …))` fold per hyperplane, in codegen
  * and interpreted mode. The fold is null unless `v` has exactly `Dim`
  * non-null elements (`zip_with` pads with nulls, a null term nulls the
  * sum), and then so are both kernels; a bucket bit is the fold's
  * `p > 0`, where NaN sorts above every number. */
class LshKernelSpec extends SparkSpec {
  private type Vec = Seq[java.lang.Double]

  private def fill(n: Int)(x: Double): Vec = Seq.fill[java.lang.Double](n)(x)
  private def at(i: Int, x: java.lang.Double): Vec = fill(Dim)(0.25).updated(i, x)

  // the named degenerate vectors, then a fixed-seed random sample
  private val named: Seq[(String, Vec)] = Seq(
    "2-dim" -> Seq[java.lang.Double](1.0, -2.0),
    "63-dim" -> fill(Dim - 1)(1.0),
    "65-dim" -> fill(Dim + 1)(1.0),
    "empty" -> Seq.empty,
    "null element" -> at(10, null),
    "NaN element" -> at(3, Double.NaN),
    "+Inf element" -> at(0, Double.PositiveInfinity),
    "+Inf and -Inf" -> at(0, Double.PositiveInfinity).updated(1, Double.NegativeInfinity),
    "all zero" -> fill(Dim)(0.0),
    "null array" -> null)
  private val sample: Seq[(String, Vec)] =
    Gen.listOfN(200, Gen.listOfN(Dim, Gen.frequency(
      20 -> Gen.choose(-1.0, 1.0).map(Double.box),
      1 -> Gen.const(Double.box(0.0)))))
      .pureApply(Gen.Parameters.default, Seed(20261020L))
      .zipWithIndex.map { case (v, i) => s"random $i" -> v }
  private val vectors = named ++ sample

  private val schema = StructType(Seq(StructField("name", StringType),
    StructField("v", ArrayType(DoubleType))))

  private def input(): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(vectors.map { case (n, v) => Row(n, v) }: _*), schema)

  // P: the Tables × Bits folds, [t][j] row-major
  private val signs: Seq[Seq[Double]] =
    for (t <- 0 until Tables; j <- 0 until Bits) yield (0 until Dim).map(LshPlanes.sign(t, j, _))
  private val folds =
    "transform(signs, s -> aggregate(zip_with(v, s, (x, y) -> x * y), 0D, (a, p) -> a + p))"
  private val bucketsReference =
    s"CASE WHEN P[0] IS NULL THEN NULL ELSE transform(sequence(0, ${Tables - 1}), t -> " +
      s"aggregate(sequence(0, ${Bits - 1}), 0L, " +
      s"(b, j) -> b + shiftleft(cast(P[t * $Bits + j] > 0 AS BIGINT), j))) END"
  private val projReference =
    s"CASE WHEN P[0] IS NULL THEN NULL ELSE transform(sequence(0, ${Tables - 1}), t -> " +
      s"slice(P, t * $Bits + 1, $Bits)) END"

  private def same(x: Double, y: Double) = java.lang.Double.compare(x, y) == 0

  for ((mode, wholeStage) <- codegenModes)
    test(s"lsh_buckets and lsh_proj equal the per-plane zip_with folds on degenerate vectors ($mode)") {
      GraftFunctions.register(spark)
      inCodegenMode(mode, wholeStage) {
        val native = input().select(col("name"), expr("lsh_buckets(v)"), expr("lsh_proj(v)"))
        val fused = PlanAudit.executedNodes(native.queryExecution.executedPlan)
          .exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(fused === (wholeStage == "true"))
        val got = native.collect().map(r => r.getString(0) -> r).toMap
        val ref = input().withColumn("signs", typedLit(signs))
          .select(col("name"), expr(folds).as("P"))
          .select(col("name"), expr(bucketsReference), expr(projReference))
          .collect()
        assert(got.size === vectors.size && ref.length === vectors.size)
        for (w <- ref) {
          val name = w.getString(0)
          val g = got(name)
          assert(Option(g.getSeq[Long](1)) === Option(w.getSeq[Long](1)), s"lsh_buckets on $name")
          (Option(g.getSeq[Seq[Double]](2)), Option(w.getSeq[Seq[Double]](2))) match {
            case (Some(a), Some(b)) =>
              assert(a.flatten.length === Tables * Bits && b.flatten.length === Tables * Bits, name)
              assert(a.flatten.zip(b.flatten).forall { case (x, y) => same(x, y) },
                s"lsh_proj on $name: $a vs $b")
            case (a, b) => assert(a === b, s"lsh_proj on $name")
          }
        }
        // the degenerate shapes are null; a well-formed NaN vector is not
        for (n <- Seq("2-dim", "63-dim", "65-dim", "empty", "null element", "null array"))
          assert(got(n).isNullAt(1) && got(n).isNullAt(2), n)
        assert(!got("NaN element").isNullAt(1))
      }
    }
}
