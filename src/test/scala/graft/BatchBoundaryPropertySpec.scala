package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Boundary pinning for the two BATCH time-join shapes whose declared
  * plans are REWRITES of the naive formulation — exactly the class where
  * an off-by-one hides from fixture-data oracles (microsecond-random SF
  * data never lands on a window edge, a bucket boundary, or an exact
  * ts tie):
  *
  *  - q42's banded interval join replaces the range join with an
  *    explode-to-two-buckets equi-join + exact filter. Adversarial
  *    cases: errors exactly ON a bucket boundary (`us % w == 0`, where
  *    the window's far edge coincides with a bucket edge) and context
  *    offsets clustered on both window edges — a mis-derived probe set
  *    silently drops exact-boundary matches.
  *  - q26's as-of join replaces the per-event subquery with a merged
  *    LOCF window sorted on (t, kind, okey). Adversarial cases: an
  *    order exactly AT an event's timestamp (must match — `<=`
  *    semantics come from kind 0 sorting before kind 1), duplicate
  *    (custkey, orderdate) orders (max orderkey must win), and events
  *    before any order (must drop).
  *
  * Each is compared against the naive formulation computed directly.
  * Raw ScalaCheck with fixed seeds, like the other property specs.
  */
class BatchBoundaryPropertySpec extends SparkTestBase {
  import spark.implicits._

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  private def writeParquet(df: DataFrame, dir: Path, name: String): Unit = {
    val stage = tempDir(s"graft-bbprop-$name")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    scala.util.Using.resource(Files.list(stage)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // ------------------------------------------------------------- q42 twin
  private val winUs = queries.PipelineOps.windowUs

  private val ctxOffsetGen: Gen[Long] = Gen.oneOf(
    Gen.const(winUs + 1L), Gen.const(winUs), Gen.const(winUs - 1L),
    Gen.const(1L), Gen.const(0L), Gen.const(-1L),
    Gen.choose(2L, winUs - 2L))

  // anchor phase r = us % winUs: the r == 0 case puts the window's far
  // edge exactly on a bucket boundary (the probe-set derivation's edge)
  private val phaseGen: Gen[Long] = Gen.oneOf(
    Gen.const(0L), Gen.const(1L), Gen.const(winUs - 1L),
    Gen.choose(2L, winUs - 2L))

  test("q42 banded interval join == plain range join on bucket-edge-" +
      "adversarial events") {
    for (seed <- 1L to 3L) {
      val users = sample(Gen.choose(3, 6), seed)
      var id = 0L
      val rows = (1 to users).flatMap { u =>
        val anchors = sample(Gen.listOfN(5,
          for { p <- phaseGen; offs <- Gen.listOfN(6, ctxOffsetGen) }
            yield (p, offs)), seed * 100 + u)
        anchors.zipWithIndex.flatMap { case ((phase, offs), i) =>
          // base is a multiple of winUs, so `phase` IS us % winUs
          val anchorUs = (3000L + i * 10L) * winUs + phase
          id += 1
          val err = (id, anchorUs, u.toLong, "error", (id % 5).toDouble)
          val ctx = offs.map { off =>
            id += 1
            (id, anchorUs - off, u.toLong, "click", (id % 5).toDouble)
          }
          err +: ctx
        }
      }
      val dir = tempDir(s"graft-bbprop-iv-$seed")
      writeParquet(
        rows.toDF("event_id", "us", "user_id", "event_type", "value")
          .withColumn("ts", timestamp_micros(col("us")))
          .select("event_id", "ts", "user_id", "event_type", "value"),
        dir, "events.parquet")
      val got = queries.PipelineOps.intervalJoin(spark, dir.toString)
        .collect().toSeq
      // the naive range-join twin (exactly the oracle's formulation)
      val ev = Tables.events(spark, dir.toString)
        .withColumn("us", unix_micros(col("ts")))
      val want = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id").as("eu"), col("us").as("e_us"))
        .join(ev.select(col("user_id").as("cu"), col("us").as("c_us"),
          col("value")),
          col("eu") === col("cu") &&
            col("c_us") >= col("e_us") - winUs && col("c_us") < col("e_us"),
          "left")
        .groupBy(col("event_id"))
        .agg(count(col("c_us")).as("n_prior_10m"),
          coalesce(sum(col("value").cast("decimal(18,2)")).cast("double"),
            lit(0.0)).as("value_10m"))
        .orderBy(col("event_id"))
        .collect().toSeq
      assert(want.nonEmpty)
      assert(got == want, s"seed $seed: banded != range join")
    }
  }

  // ------------------------------------------------------------- q26 twin
  test("q26 as-of LOCF window == per-event latest-order subquery on " +
      "exact-tie-adversarial data") {
    for (seed <- 1L to 3L) {
      val users = sample(Gen.choose(3, 6), seed)
      val dayUs = 86400000000L
      var oid = 0L
      var eid = 0L
      val orders = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val events = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      (1 to users).foreach { u =>
        val nDays = sample(Gen.choose(3, 8), seed * 10 + u)
        (0 until nDays).foreach { d =>
          val odateUs = (20000L + d * 3L) * dayUs
          // sometimes DUPLICATE (custkey, orderdate) orders — max okey wins
          val nDup = sample(Gen.choose(1, 3), seed * 1000 + u * 10 + d)
          (0 until nDup).foreach { _ =>
            oid += 1; orders += ((oid, u.toLong, odateUs))
          }
          // events around the order date: exactly AT it (must match this
          // order), 1 µs before (previous order or drop), 1 µs after,
          // and a clear later time
          Seq(0L, -1L, 1L, dayUs / 2).foreach { off =>
            eid += 1; events += ((eid, u.toLong, odateUs + off))
          }
        }
        // an event BEFORE the user's first order: must be dropped
        eid += 1; events += ((eid, u.toLong, 19999L * dayUs))
      }
      val dir = tempDir(s"graft-bbprop-asof-$seed")
      writeParquet(
        events.toSeq.toDF("event_id", "user_id", "us")
          .withColumn("ts", timestamp_micros(col("us")))
          .withColumn("event_type", lit("click"))
          .withColumn("value", lit(1.0))
          .select("event_id", "ts", "user_id", "event_type", "value"),
        dir, "events.parquet")
      writeParquet(
        orders.toSeq.toDF("o_orderkey", "o_custkey", "us")
          .withColumn("o_orderdate",
            to_date(timestamp_micros(col("us"))))
          .select("o_orderkey", "o_custkey", "o_orderdate"),
        dir, "orders.parquet")
      val got = queries.Relational2.asofJoin(spark, dir.toString)
        .collect().toSeq
      // naive twin: per event, the max-(odate, okey) order with odate <= ts
      val ev = Tables.events(spark, dir.toString)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
      val o = Tables.orders(spark, dir.toString)
        .select(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("ot"),
          col("o_orderkey"))
      val want = ev.join(o, Seq("user_id"))
        .filter(col("ot") <= col("t"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_id"))
            .orderBy(col("ot").desc, col("o_orderkey").desc)))
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"),
          col("o_orderkey").as("asof_orderkey"),
          col("ot").as("asof_orderdate_us"))
        .orderBy(col("event_id"))
        .collect().toSeq
      assert(want.nonEmpty)
      assert(got == want, s"seed $seed: LOCF as-of != subquery twin " +
        s"(got ${got.size}, want ${want.size})")
    }
  }
}
