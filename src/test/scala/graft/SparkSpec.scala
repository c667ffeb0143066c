package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** The modes a kernel spec runs in, each with its whole-stage switch:
    * generated code only, and the interpreted row path. */
  val codegenModes: Seq[(String, String)] =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")

  /** Runs `body` in one of [[codegenModes]], restoring the session
    * confs after. ConvertToLocalRelation is excluded: it would evaluate
    * a projection over local rows at planning time (interpreted), so
    * the row path would not be the mode's own. */
  def inCodegenMode[T](mode: String, wholeStage: String)(body: => T): T = {
    val kv = Seq(
      "spark.sql.codegen.factoryMode" -> mode,
      "spark.sql.codegen.wholeStage" -> wholeStage,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
