package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated test tables.
  * Declarative reads keep filter/column pushdown available to Catalyst;
  * at cluster scale the same call reads a partitioned directory tree.
  *
  * Schema memo: Spark infers a parquet schema by reading footers in a
  * job of its own, on every `spark.read.parquet`. [[table]] keeps the
  * last inferred schema per path with what it was inferred from: the
  * leaf files (path, length, mtime) of the read's file index and the
  * session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*`
  * settings. A read whose own file index lists the same files, under the
  * same settings, takes the known schema and starts no job; any change
  * infers again and replaces the entry.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private final case class Inferred(files: Seq[(String, Long, Long)],
      conf: Map[String, String], schema: StructType)
  private val inferred = new ConcurrentHashMap[String, Inferred]()

  private def parquetConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** The leaf files the read's own file index listed. */
  private def leafFiles(df: DataFrame): Seq[(String, Long, Long)] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }.flatMap {
      case HadoopFsRelation(idx: PartitioningAwareFileIndex, _, _, _, _, _) =>
        idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case _ => Nil
    }.sorted

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val conf = parquetConf(spark)
    Option(inferred.get(path)).filter(_.conf == conf)
      .map(m => m -> spark.read.schema(m.schema).parquet(path))
      .collect { case (m, df) if leafFiles(df) == m.files => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        inferred.put(path, Inferred(leafFiles(df), conf, df.schema))
        df
      }
  }

  /** `spark.sql.legacy.parquet.nanosAsLong` has NO per-read option form
    * (ParquetOptions carries only compression/mergeSchema/rebase keys) —
    * it is consulted at schema inference, so a session that reads
    * TIMESTAMP(NANOS) parquet must carry it. Our own mains declare it at
    * session build; for sessions built elsewhere (the driver's) this
    * guard sets it AT MOST ONCE per session and never flips a value an
    * operator already observed — no repeated conf mutation per read. */
  private def ensureNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize `events.ts` to session-UTC TIMESTAMP regardless of how the
    * generator wrote it: parquet TIMESTAMP(NANOS) (Spark 4 rejects by
    * default — read as a nanosecond long and truncate to micros, the same
    * floor DuckDB applies) or TIMESTAMP_NTZ (naive micros — reinterpret in
    * the UTC session so `unix_micros`/window arithmetic resolves; values
    * are bit-identical because the session timezone is pinned to UTC). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosAsLong(spark)
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  /** events with a lower time bound applied to the RAW nanosecond column
    * so the range predicate reaches the parquet scan (row-group pruning at
    * scale); filtering after the micros conversion only pushes IsNotNull. */
  def eventsFrom(spark: SparkSession, dir: String, fromUtc: String): DataFrame = {
    ensureNanosAsLong(spark)
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        val nanos = java.time.LocalDateTime.parse(fromUtc.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L
        df.filter(col("ts") >= nanos)
          .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // Compare against an NTZ literal so the range predicate stays on
        // the raw parquet column type and pushes down to row groups.
        df.filter(col("ts") >= lit(fromUtc).cast(TimestampNTZType))
          .withColumn("ts", col("ts").cast(TimestampType))
      case _ =>
        df.filter(col("ts") >= lit(fromUtc).cast("timestamp"))
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
