package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional extra args: restrict the dump to named queries (driver
    // passes exactly two args, so its full-dump contract is unchanged)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // declared at build (no per-read option exists for it): lets the
      // events loader read TIMESTAMP(NANOS) parquet without mutating conf
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        // Dump tz-naive timestamps: the session is UTC, and DuckDB's
        // oracle results are naive, so writing TIMESTAMP_NTZ makes the
        // parquet column type match the oracle exactly instead of
        // relying on the comparator to normalize isAdjustedToUTC.
        import org.apache.spark.sql.functions.col
        import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
        val cols = out.schema.fields.map { f =>
          f.dataType match {
            case TimestampType => col(f.name).cast(TimestampNTZType).as(f.name)
            case _ => col(f.name)
          }
        }
        out.select(cols.toIndexedSeq: _*).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // Release per-query persisted intermediates (the operators'
        // tracked caches) so the 60-query dump session stays flat.
        graft.operators.Ema.unpersistAll()
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
