package graft

import java.nio.file.{Files, Path}

import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property check for q85's boundary and state semantics: the
  * stream-stream interval join (`c_ts >= e_ts - 10 min && c_ts < e_ts`)
  * must agree with the batch self-join on inputs that fixture data never
  * produces —
  *
  *  - EXACT-BOUNDARY offsets: a context event exactly 10 minutes before
  *    an error is IN (inclusive lower bound); one exactly AT the error's
  *    timestamp is OUT (exclusive upper bound); ±1 µs around both edges
  *    distinguishes any off-by-one formulation. Microsecond-random SF
  *    data never lands on these edges, so only a generator that clusters
  *    offsets AROUND them can catch a >=/< drift (the q80 lesson).
  *  - CROSS-MICRO-BATCH state: the fixture is staged as three
  *    time-ordered files drained with maxFilesPerTrigger=1, so matches
  *    span batches (context buffered in join state before its error
  *    arrives, and vice versa) instead of all co-arriving.
  *  - LATE ARRIVAL within the watermark: some context rows are moved one
  *    file later than event-time order (late by < the 30 min watermark
  *    delay), and must still join — state eviction that ran ahead of the
  *    watermark contract would drop them.
  *
  * Raw ScalaCheck with fixed seeds, like SessionBoundaryPropertySpec.
  */
class IntervalJoinBoundaryPropertySpec extends SparkTestBase {
  import spark.implicits._

  private val winUs = 600000000L // 10 minutes, q85's join window

  private def sample[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, Seed(seed)).get

  // context offsets BEFORE an anchor error, clustered on the two edges
  private val offsetGen: Gen[Long] = Gen.oneOf(
    Gen.const(winUs + 1L),        // 1 µs outside the window: OUT
    Gen.const(winUs),             // exactly window-start: IN (inclusive)
    Gen.const(winUs - 1L),        // 1 µs inside: IN
    Gen.const(1L),                // 1 µs before the error: IN
    Gen.const(0L),                // exactly AT the error: OUT (exclusive)
    Gen.const(-1L),               // 1 µs after: OUT
    Gen.choose(2L, winUs - 2L))   // interior

  private case class Anchor(ctxOffsets: List[Long], ctxErrors: List[Boolean])

  private case class UserStream(userId: Long, anchors: List[Anchor])

  private val streamGen: Gen[List[UserStream]] = for {
    nUsers <- Gen.choose(3, 6)
    users <- Gen.sequence[List[UserStream], UserStream]((1 to nUsers).map { u =>
      for {
        nAnchors <- Gen.choose(2, 6)
        anchors <- Gen.listOfN(nAnchors, for {
          n <- Gen.choose(2, 8)
          offs <- Gen.listOfN(n, offsetGen)
          // some context rows are themselves errors (error-as-context)
          errs <- Gen.listOfN(n, Gen.prob(0.2))
        } yield Anchor(offs, errs))
      } yield UserStream(u.toLong, anchors)
    }.toList)
  } yield users

  private case class Ev(id: Long, us: Long, user: Long, typ: String,
      value: Double)

  private def genEvents(users: List[UserStream]): Seq[Ev] = {
    val baseUs = 1704067200000000L
    var id = 0L
    users.flatMap { u =>
      u.anchors.zipWithIndex.flatMap { case (a, i) =>
        // anchors 2 h apart per user so their context clusters never
        // overlap; distinct per-user phase breaks cross-user ts collisions
        val anchorUs = baseUs + i * 7200L * 1000000L + u.userId * 1000L
        id += 1
        val err = Ev(id, anchorUs, u.userId, "error", (id % 7).toDouble / 2.0)
        val ctx = a.ctxOffsets.zip(a.ctxErrors).map { case (off, isErr) =>
          id += 1
          Ev(id, anchorUs - off, u.userId, if (isErr) "error" else "click",
            (id % 7).toDouble / 2.0)
        }
        err +: ctx
      }
    }
  }

  /** Stage events as three time-ordered parquet files (distinct mtimes so
    * maxFilesPerTrigger=1 drains them as three micro-batches in order),
    * with qualifying tail rows of each earlier chunk moved one file later
    * — late arrivals inside the watermark. Returns the stream dir. */
  private def writeFixture(events: Seq[Ev], seed: Long): Path = {
    val dir = tempDir(s"graft-ivprop-$seed")
    val sorted = events.sortBy(e => (e.us, e.id))
    val chunkSize = math.max(1, (sorted.size + 2) / 3)
    val chunks = sorted.grouped(chunkSize).toList.padTo(3, Seq.empty[Ev])
      .take(3).map(_.toBuffer)
    // move late arrivals: non-error tail rows within 25 min of their
    // chunk's max (watermark delay is 30 min, so they are late but NOT
    // droppable) shift one chunk later
    for (k <- 0 until 2; if chunks(k).nonEmpty) {
      val mx = chunks(k).map(_.us).max
      val (movable, keep) = chunks(k).partition(e =>
        e.typ == "click" && e.us >= mx - 25L * 60L * 1000000L &&
          e.us < mx && e.id % 3 == 0)
      if (movable.nonEmpty) {
        chunks(k).clear(); chunks(k) ++= keep
        chunks(k + 1) ++= movable
      }
    }
    chunks.zipWithIndex.foreach { case (chunk, k) =>
      if (chunk.nonEmpty) {
        val stage = tempDir(s"graft-ivprop-stage-$seed-$k")
        chunk.toSeq.map(e => (e.id, e.us, e.user, e.typ, e.value))
          .toDF("event_id", "us", "user_id", "event_type", "value")
          .withColumn("ts", timestamp_micros(col("us")))
          .select("event_id", "ts", "user_id", "event_type", "value")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        scala.util.Using.resource(Files.list(stage)) { listing =>
          val part = listing
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = dir.resolve(f"chunk-$k%02d.parquet")
          Files.copy(part, dst)
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000L + k * 10000L))
        }
      }
    }
    dir
  }

  /** The batch twin — q85's oracle shape on the same frame ops. */
  private def batchJoin(dir: Path): Seq[(Long, Long, Long, Double)] = {
    val ev = spark.read.parquet(dir.toString)
      .withColumn("us", unix_micros(col("ts")))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("e_user"), col("us").as("e_us"))
    err.join(ev.select(col("user_id").as("c_user"), col("us").as("c_us"),
        col("value")),
        col("e_user") === col("c_user") &&
          col("c_us") >= col("e_us") - winUs && col("c_us") < col("e_us"))
      .select(col("event_id"), col("e_user"), col("c_us"), col("value"))
      .as[(Long, Long, Long, Double)].collect().toSeq.sorted
  }

  test("streamed interval join == batch self-join on boundary-adversarial " +
      "multi-batch streams with late arrivals") {
    for (seed <- 1L to 3L) {
      val events = genEvents(sample(streamGen, seed))
      val dir = writeFixture(events, seed)
      val schema = spark.read.parquet(dir.toString).schema
      val src = Tables.normalizeEventTs(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(dir.toString))
      val streamed = Streaming.drainToBatch(
          Streaming.errorContextJoin(src), s"ivprop_$seed")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("c_ts")).as("c_us"), col("value"))
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
      val batch = batchJoin(dir)
      assert(batch.nonEmpty, s"seed $seed generated no matches")
      assert(streamed == batch, s"seed $seed: streamed != batch " +
        s"(streamed ${streamed.size} rows, batch ${batch.size})")
    }
  }
}
