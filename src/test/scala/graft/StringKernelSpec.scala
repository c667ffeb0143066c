package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** `poly_hash` and `winnow_fps` on malformed UTF-8, in codegen and
  * interpreted mode. Both kernels decode through one byte walk that
  * hands a malformed string to the JDK decoder (U+FFFD substitution),
  * so a kernel's value on the raw bytes equals its value on the
  * JDK-decoded string. */
class StringKernelSpec extends SparkSpec {
  import StringKernelSpec._

  for ((mode, wholeStage) <- codegenModes)
    test(s"poly_hash and winnow_fps on malformed UTF-8 equal their values on the decoded string ($mode)") {
      GraftFunctions.register(spark)
      import spark.implicits._
      inCodegenMode(mode, wholeStage) {
        val df = spliced.map { case (name, b) => (name, b, new String(b, UTF_8)) }
          .toDF("name", "bytes", "decoded")
          .select(col("name"), col("bytes"), col("bytes").cast("string").as("raw"), col("decoded"))
          .select(col("name"), col("bytes"), col("raw").cast("binary").as("raw_bytes"),
            expr("poly_hash(raw)"), expr("poly_hash(decoded)"),
            expr("winnow_fps(raw, 4, 3)"), expr("winnow_fps(decoded, 4, 3)"))
        val fused = PlanAudit.executedNodes(df.queryExecution.executedPlan)
          .exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(fused === (wholeStage == "true"))
        val rows = df.collect()
        assert(rows.length === spliced.length)
        for (r <- rows) {
          val name = r.getString(0)
          // the kernels saw the spliced bytes, not a repaired string
          assert(r.getAs[Array[Byte]](2).toSeq === r.getAs[Array[Byte]](1).toSeq, name)
          assert(r.getLong(3) === r.getLong(4), s"poly_hash on $name")
          assert(r.getSeq[Long](5) === r.getSeq[Long](6), s"winnow_fps on $name")
          assert(r.getSeq[Long](6).nonEmpty, name)
        }
      }
    }
}

object StringKernelSpec {
  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** ASCII text with one byte sequence spliced in: four malformed ones
    * the JDK decoder replaces, and one well-formed two-byte `é`. */
  val spliced: Seq[(String, Array[Byte])] = Seq(
    "overlong three-byte NUL" -> bytes(0xE0, 0x80, 0x80),
    "surrogate U+D800" -> bytes(0xED, 0xA0, 0x80),
    "overlong four-byte NUL" -> bytes(0xF0, 0x80, 0x80, 0x80),
    "above U+10FFFF" -> bytes(0xF4, 0x90, 0x80, 0x80),
    "well-formed U+00E9" -> bytes(0xC3, 0xA9)
  ).map { case (name, seq) =>
    name -> ("near dup text ".getBytes(UTF_8) ++ seq ++ " tail words".getBytes(UTF_8))
  }
}
