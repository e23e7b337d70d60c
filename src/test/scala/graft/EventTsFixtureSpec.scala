package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.streaming.Streaming
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Regression guard for the events-fixture timestamp physical type.
  *
  * The driver's fixture generator has shipped the `ts` column both as
  * TIMESTAMP(NANOS) (which Spark reads as long under
  * `spark.sql.legacy.parquet.nanosAsLong`) and as timestamp[us] (native
  * TimestampType). Round 7 broke because the streaming file source
  * normalized only the first shape. Both [[Tables.events]] and
  * [[Streaming.fileEventSource]] now share [[Tables.normalizeEventTs]];
  * this spec drives BOTH entry points over BOTH fixture shapes so the
  * drift can never silently recur.
  */
class EventTsFixtureSpec extends SparkTestBase {
  import spark.implicits._

  // 2024-01-01T00:00:00Z .. +3 events, microsecond-precision instants
  private val baseUs = 1704067200000000L

  private def rows = Seq(
    (1L, baseUs, 7L, "click", 1.5),
    (2L, baseUs + 90L * 1000000L, 7L, "view", 2.0),
    (3L, baseUs + 3600L * 1000000L, 8L, "click", 0.5))

  /** Write a single-file events.parquet under its own sf-style dir. */
  private def writeFixture(name: String, micros: Boolean): String = {
    val dir = tempDir(s"graft-evfix-$name")
    val df =
      if (micros)
        rows.toDF("event_id", "us", "user_id", "event_type", "value")
          .withColumn("ts", timestamp_micros(col("us")))
          .select("event_id", "ts", "user_id", "event_type", "value")
      else
        // nanos-as-long is exactly what the legacy reader produces for a
        // TIMESTAMP(NANOS) file; a plain long column named ts exercises the
        // same post-read branch
        rows.toDF("event_id", "us", "user_id", "event_type", "value")
          .withColumn("ts", col("us") * 1000L)
          .select("event_id", "ts", "user_id", "event_type", "value")
    val stage = tempDir(s"graft-evfix-stage-$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    scala.util.Using.resource(Files.list(stage)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    FileUtils.deleteDirectory(stage.toFile)
    dir.toString
  }

  private def assertNormalized(df: DataFrame): Unit = {
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select(col("event_id"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)].collect().toMap
    assert(got == rows.map(r => r._1 -> r._2).toMap)
  }

  // The synthetic nanos-as-long fixture above exercises the POST-read
  // LongType branch; the driver-generated testdata carries a genuine
  // TIMESTAMP(NANOS) physical type, so driving both entry points over it
  // covers the `spark.sql.legacy.parquet.nanosAsLong` READER config
  // end-to-end too (Spark cannot write nanos parquet itself).
  test("real TIMESTAMP(NANOS) testdata normalizes through both entry points") {
    val dir = "/root/testdata/sf0.001"
    val batch = Tables.events(spark, dir)
    assert(batch.schema("ts").dataType == TimestampType)
    val streamed = Streaming.fileEventSource(spark, dir)
    assert(streamed.schema("ts").dataType == TimestampType)
    val batchUs = batch.select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toMap
    val streamUs = Streaming.drainToBatch(streamed, "evfix_real")
      .select(col("event_id"), unix_micros(col("ts")))
      .as[(Long, Long)].collect().toMap
    assert(batchUs.nonEmpty)
    assert(streamUs == batchUs)
  }

  for ((label, micros) <- Seq(("timestamp[us]", true), ("nanos-as-long", false))) {
    test(s"Tables.events normalizes a $label fixture") {
      val dir = writeFixture(s"b$micros", micros)
      assertNormalized(Tables.events(spark, dir))
      FileUtils.deleteDirectory(new java.io.File(dir))
    }

    test(s"fileEventSource normalizes a $label fixture") {
      val dir = writeFixture(s"s$micros", micros)
      val streamed = Streaming.fileEventSource(spark, dir)
      assert(streamed.schema("ts").dataType == TimestampType)
      assertNormalized(
        Streaming.drainToBatch(streamed, s"evfix_$micros"))
      FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
