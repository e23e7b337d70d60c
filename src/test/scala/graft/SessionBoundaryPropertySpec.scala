package graft

import java.nio.file.{Files, StandardCopyOption}

import graft.streaming.Streaming
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property check for q80's one nontrivial semantic claim: Spark's
  * `session_window` windows MERGE when they touch, so an event exactly
  * `gap` after its predecessor stays in the SAME session and the batch
  * twin must use a strict `>` gaps-and-islands boundary.
  *
  * This generator caught the opposite (`>=`) formulation that every SF
  * fixture run had silently blessed: microsecond-random data never
  * produces an exact-gap spacing, so only streams that deliberately
  * cluster inter-event gaps AROUND the boundary (gap-1µs, gap exactly,
  * gap+1µs, plus small/large) distinguish the two. The streamed
  * complete-mode drain must equal the `>` batch formulation on every
  * generated stream. Raw ScalaCheck with fixed seeds, like PropertySpec.
  */
class SessionBoundaryPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val gapUs = 1800000000L // 30 minutes, q80's session gap

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // inter-event gaps biased to the boundary cases
  private val deltaGen: Gen[Long] = Gen.oneOf(
    Gen.const(gapUs - 1L), Gen.const(gapUs), Gen.const(gapUs + 1L),
    Gen.choose(1L, 60L * 1000000L),             // same-session
    Gen.choose(gapUs + 2L, 3L * gapUs))         // clear break

  private case class Stream(userId: Long, deltas: List[Long])

  private val streamGen: Gen[List[Stream]] = for {
    nUsers <- Gen.choose(3, 8)
    streams <- Gen.sequence[List[Stream], Stream]((1 to nUsers).map { u =>
      for {
        n <- Gen.choose(1, 40)
        ds <- Gen.listOfN(n, deltaGen)
      } yield Stream(u.toLong, ds)
    }.toList)
  } yield streams

  private def writeFixture(streams: List[Stream], seed: Long): String = {
    val baseUs = 1704067200000000L
    var id = 0L
    val rows = streams.flatMap { s =>
      var us = baseUs + s.userId // distinct per-user start
      s.deltas.map { d =>
        us += d; id += 1
        (id, us, s.userId, "click", (id % 7).toDouble / 2.0)
      }
    }
    val dir = Files.createTempDirectory(s"graft-sessprop-$seed")
    val stage = Files.createTempDirectory(s"graft-sessprop-stage-$seed")
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    scala.util.Using.resource(Files.list(stage)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve("events.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Streaming.rmr(stage.toString)
    dir.toString
  }

  /** The strict->-boundary batch formulation (q80's oracle shape):
    * touching session windows merge, so only a gap STRICTLY greater than
    * `gapUs` starts a new session. */
  private def batchSessions(dir: String) = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("grp",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("us")).as("start_us"),
        (max(col("us")) + gapUs).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("start_us"), col("session_end_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("start_us"))
      .collect().toSeq
  }

  test("streamed session_window == strict->-boundary gaps-and-islands on boundary-adversarial streams") {
    for (seed <- 1L to 3L) {
      val dir = writeFixture(sample(streamGen, seed), seed)
      val streamed = Streaming.drainToBatch(
        Streaming.sessionWindowRollup(
          Streaming.fileEventSource(spark, dir), gap = "30 minutes"),
        s"sessprop_$seed", outputMode = "complete")
        .select(col("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("session_end_us"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("start_us"))
        .collect().toSeq
      val batch = batchSessions(dir)
      assert(streamed.nonEmpty, s"seed $seed produced no sessions")
      assert(streamed == batch, s"seed $seed: streamed != batch")
      Streaming.rmr(dir)
    }
  }
}
