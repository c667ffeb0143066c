package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The driver's data drops have changed `events.ts`'s physical parquet
  * type twice (TIMESTAMP(NANOS) → TIMESTAMP_NTZ); each change silently
  * broke every events-family query until the loader learned the variant.
  * This spec freezes the contract: whatever the generator writes,
  * `Tables.events` / `Tables.eventsFrom` deliver identical session-UTC
  * TIMESTAMP values with the time-bound predicate still applied on the
  * raw column (scan-pushable).
  */
class TablesSchemaDriftSpec extends SparkSpec {

  // one event per 5-min bar slot, sub-millisecond digits included
  private val micros = Seq(
    "2024-01-01 10:00:00.000123",
    "2024-01-01 10:05:00.999999",
    "2024-01-01 10:10:01.5",
    "2024-01-02 09:30:00.0").map(s => Timestamp.valueOf(s))

  private def writeVariant(dir: String, variant: String): Unit = {
    import spark.implicits._
    val base = micros.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, i.toLong % 3, if (i % 2 == 0) "click" else "view",
        1.0 + i, s"""{"k": $i}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = variant match {
      case "ntz" => base.withColumn("ts", col("ts").cast(TimestampNTZType))
      case "nanos_long" =>
        // what nanosAsLong reads from TIMESTAMP(NANOS): epoch nanos as long
        base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      case "timestamp" => base
    }
    out.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadedMicros(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("event_id"), expr("unix_micros(ts)"))
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("events loader yields identical UTC timestamps for all three physical variants") {
    val expected = micros.zipWithIndex.map { case (t, i) =>
      (i.toLong, t.getTime * 1000 + (t.getNanos / 1000) % 1000)
    }
    for (v <- Seq("ntz", "nanos_long", "timestamp")) {
      val dir = Files.createTempDirectory(s"drift_$v").toString
      writeVariant(dir, v)
      val got = loadedMicros(Tables.events(spark, dir))
      assert(got === expected, s"variant=$v")
      assert(Tables.events(spark, dir).schema("ts").dataType === TimestampType,
        s"variant=$v must normalize to TIMESTAMP")
    }
  }

  test("eventsFrom applies the bound identically across variants") {
    for (v <- Seq("ntz", "nanos_long", "timestamp")) {
      val dir = Files.createTempDirectory(s"driftf_$v").toString
      writeVariant(dir, v)
      val got = Tables.eventsFrom(spark, dir, "2024-01-01 10:05:00")
        .select("event_id").orderBy("event_id").collect().map(_.getLong(0)).toSeq
      assert(got === Seq(1L, 2L, 3L), s"variant=$v")
    }
  }

  /** Jobs started on this thread while `body` runs. Listener events
    * arrive in order, so once a marker job run after `body` has been
    * seen, every job `body` started has been seen too. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val seen = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.put(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "body")
      body
      sc.setJobGroup(group, "marker")
      sc.parallelize(Seq(1), 1).count()
      Iterator.continually(seen.poll(60, TimeUnit.SECONDS))
        .map(d => { assert(d != null, "marker job never seen"); d })
        .takeWhile(_ != "marker").size
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a second read of an unchanged table infers no schema: it starts no job") {
    Tables.events(spark, sf())
    assert(jobsDuring(Tables.events(spark, sf())) === 0)
    assert(jobsDuring(Tables.table(spark, sf(), "events")) === 0)
  }

  test("a table rewritten with another ts type is read with the new type") {
    val dir = Files.createTempDirectory("memo_rewrite").toString
    writeVariant(dir, "timestamp")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType === TimestampType)
    writeVariant(dir, "ntz")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType === TimestampNTZType)
    assert(loadedMicros(Tables.events(spark, dir)).size === micros.size)
  }

  test("flipping spark.sql.legacy.parquet.nanosAsLong changes the inferred type") {
    // a TIMESTAMP(NANOS) column, the physical type Spark only reads as a long
    val dir = Files.createTempDirectory("memo_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704103200000123000L))
    finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    def tsType = Try(Tables.table(spark, dir, "events").schema("ts").dataType)
    try {
      spark.conf.set(key, "true")
      assert(tsType.toOption === Some(LongType))
      spark.conf.set(key, "false")
      assert(tsType.toOption !== Some(LongType), "the schema inferred under nanosAsLong=true was reused")
      spark.conf.set(key, "true")
      assert(tsType.toOption === Some(LongType))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("parallel first reads of one table agree") {
    val dir = Files.createTempDirectory("memo_parallel").toString
    writeVariant(dir, "ntz")
    val reads = (1 to 4).map(_ => Future(Tables.table(spark, dir, "events").schema))
    val schemas = reads.map(Await.result(_, 2.minutes))
    assert(schemas.distinct.size === 1)
    assert(schemas.head === spark.read.parquet(s"$dir/events.parquet").schema)
    assert(Tables.table(spark, dir, "events").schema === schemas.head)
  }
}
