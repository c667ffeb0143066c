package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** `nearest_cell` on degenerate input, in codegen and interpreted mode.
  * A NaN distance ranks after every real one (Spark's double order, the
  * order `min_by(id, struct(d2, id))` uses), and a cell with a null id,
  * a null or ragged vector, or a null element is skipped instead of
  * failing the task. */
class NearestCellSpec extends SparkSpec {
  private val NaN = Double.NaN
  private val Inf = Double.PositiveInfinity

  private def cell(id: java.lang.Long, cv: Seq[java.lang.Double]): Row = Row(id, cv)
  private def vec(xs: java.lang.Double*): Seq[java.lang.Double] = xs

  // (name, v, cells, expected (cell, d2); None = no cell qualifies)
  private val cases: Seq[(String, Seq[java.lang.Double], Seq[Row], Option[(Long, Double)])] = Seq(
    ("NaN distance first", vec(1.0, 1.0),
      Seq(cell(1L, vec(NaN, 0.0)), cell(2L, vec(1.0, 2.0)), cell(3L, vec(4.0, 5.0))),
      Some((2L, 1.0))),
    ("NaN before +Inf", vec(0.0, 0.0),
      Seq(cell(1L, vec(NaN, 0.0)), cell(2L, vec(Inf, 0.0))), Some((2L, Inf))),
    ("every distance NaN: smallest id", vec(NaN, 0.0),
      Seq(cell(1L, vec(0.0, 0.0)), cell(2L, vec(1.0, 1.0))), Some((1L, NaN))),
    ("tie: smaller id wins", vec(0.0, 0.0),
      Seq(cell(5L, vec(1.0, 0.0)), cell(2L, vec(0.0, 1.0))), Some((2L, 1.0))),
    ("null cv skipped", vec(0.0, 0.0),
      Seq(cell(1L, null), cell(2L, vec(3.0, 4.0))), Some((2L, 25.0))),
    ("null cell skipped", vec(0.0, 0.0),
      Seq(null, cell(2L, vec(0.0, 1.0))), Some((2L, 1.0))),
    ("null id skipped", vec(0.0, 0.0),
      Seq(cell(null, vec(0.0, 0.0)), cell(2L, vec(0.0, 1.0))), Some((2L, 1.0))),
    ("ragged cells skipped", vec(0.0, 0.0),
      Seq(cell(1L, vec(0.0)), cell(2L, vec(0.0, 0.0, 0.0)), cell(3L, vec(1.0, 1.0))),
      Some((3L, 2.0))),
    ("null element skipped", vec(0.0, 0.0),
      Seq(cell(1L, vec(null, 0.0)), cell(2L, vec(2.0, 0.0))), Some((2L, 4.0))),
    ("no cell qualifies", vec(0.0, 0.0),
      Seq(cell(1L, null), cell(2L, vec(0.0))), None))

  // the cases whose cells are all well-formed, where the kernel must
  // agree with the min_by form it replaced
  private val wellFormed = cases.take(4).map(_._1)

  private val schema = StructType(Seq(
    StructField("name", StringType),
    StructField("v", ArrayType(DoubleType)),
    StructField("cells", ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("cv", ArrayType(DoubleType))))))))

  private def input(): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(cases.map { case (n, v, cs, _) => Row(n, v, cs) }: _*),
    schema)

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def sameD2(a: Double, b: Double) = java.lang.Double.compare(a, b) == 0

  for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
    test(s"nearest_cell: NaN ranks last, null/ragged cells are skipped ($mode)") {
      GraftFunctions.register(spark)
      // ConvertToLocalRelation would evaluate the projection at planning
      // time (interpreted) — exclude it so the row path is the mode's own
      withConfs(
        "spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation") {
        val df = input().select(col("name"), expr("nearest_cell(v, cells)").as("nc"))
        val fused = PlanAudit.executedNodes(df.queryExecution.executedPlan)
          .exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(fused === (wholeStage == "true"))
        val got = df.collect().map(r => r.getString(0) -> Option(r.getStruct(1))).toMap
        cases.foreach { case (name, _, _, exp) =>
          (got(name), exp) match {
            case (Some(r), Some((id, d2))) =>
              assert(r.getLong(0) === id && sameD2(r.getDouble(1), d2), s"$name: $r")
            case (None, None) =>
            case (g, e) => fail(s"$name: got $g, expected $e")
          }
        }
        val ref = input().filter(col("name").isin(wellFormed: _*))
          .select(col("name"), col("v"), explode(col("cells")).as("c"))
          .groupBy(col("name"))
          .agg(min_by(col("c.id"),
            struct(expr("dist2(v, c.cv)"), col("c.id"))).as("ref"))
          .collect()
        assert(ref.length === wellFormed.length)
        ref.foreach { r =>
          assert(got(r.getString(0)).map(_.getLong(0)) === Some(r.getLong(1)), r.getString(0))
        }
      }
    }
}
