package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}

import graft.queries.StreamingQueries
import graft.streaming.{Stage, Streaming}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pins the drain family's one staging rule ([[Stage]]) over every stage
  * kind: the sentinel-closed events source, q86's duplicated events, q87's
  * seed season and q92's planted-corruption corpus. For each kind:
  *
  *  1. an unchanged fixture reuses its stage and runs no build (the stage
  *     dir and every file in it keep their identity and mtime);
  *  2. a rewritten fixture rebuilds, from the new rows;
  *  3. no superseded dir is left behind;
  *  4. a build that dies part-way, or that loses the rename race to
  *     another build, leaves nothing a later call would accept.
  *
  * And a deleted fixture's stages are removed by the next build.
  *
  * Plus the fingerprint's precision: a same-size rewrite whose mtime
  * differs only below the millisecond must restage q87's seed.
  */
class StageSpec extends SparkTestBase {
  import spark.implicits._

  private val baseUs = 1704067200000000L

  /** Copy the single part file of `df` to `dir/name` (a one-file fixture,
    * like the testdata tables). */
  private def writeSingleFile(df: DataFrame, dir: Path, name: String): Unit = {
    val stage = Files.createTempDirectory("graft-stagespec-write")
    df.coalesce(1).write.mode("overwrite").option("compression", "none")
      .parquet(stage.toString)
    scala.util.Using.resource(Files.list(stage)) { listing =>
      val part = listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    Streaming.rmr(stage.toString)
  }

  private def writeEvents(dir: Path, rows: Seq[(Long, Double)]): Unit =
    writeSingleFile(rows.zipWithIndex
      .map { case ((id, v), i) => (id, baseUs + i * 1000000L, 7L, "click", v) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value"),
      dir, "events.parquet")

  private def writeDocuments(dir: Path, ids: Seq[Long]): Unit =
    writeSingleFile(ids.map(id => (id, "word " * (3 + (id % 5).toInt), "en", "spec"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text"))),
      dir, "documents.parquet")

  private def column(path: String, name: String): Seq[Long] =
    spark.read.parquet(path).select(name).as[Long].collect().toSeq.sorted

  /** One stage kind: its fixture file and variant, how to write the
    * fixture from ids, the production call that stages it, and the ids a
    * stage built from `ids` must hold. */
  private case class Kind(name: String, fixture: String, variant: String,
      write: (Path, Seq[Long]) => Unit, stage: String => String,
      staged: String => Seq[Long], expected: Seq[Long] => Seq[Long])

  private val events = (dir: Path, ids: Seq[Long]) =>
    writeEvents(dir, ids.map(id => id -> id.toDouble))

  private val kinds = Seq(
    Kind("events+sentinel", "events.parquet", "events-s3", events,
      Streaming.stagedEvents(spark, _, 3), column(_, "event_id"),
      ids => (ids :+ -1L).sorted), // -1: the sentinel's event_id
    Kind("q86 events", "events.parquet", "events-dup", events,
      Streaming.stagedEvents(spark, _, 0, duplicated = true),
      column(_, "event_id"), ids => (ids ++ ids).sorted),
    Kind("q87 seed", "events.parquet", "q87-seed", events,
      StreamingQueries.q87Seed(spark, _),
      p => merge.MergeTable.read(spark, p).select("event_id").as[Long]
        .collect().toSeq.sorted,
      ids => (ids.filter(_ % 2 == 0) ++
        ids.filter(_ % 97 == 0).map(_ + 100000000L)).sorted),
    Kind("q92 corpus", "documents.parquet", "corrupt4", writeDocuments,
      StreamingQueries.blobCorpus(spark, _, 4), column(_, "media_id"),
      _.sorted))

  private val idsA = Seq(1L, 4L, 7L, 97L)
  private val idsB = Seq(2L, 3L, 14L, 194L)

  /** Identity and mtime of the stage dir and of every entry in it. */
  private def snapshot(stage: String): Map[String, (AnyRef, FileTime)] = {
    val root = Paths.get(stage)
    scala.util.Using.resource(Files.walk(root))(_.iterator.asScala.map { p =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes])
      root.relativize(p).toString -> (a.fileKey, a.lastModifiedTime)
    }.toMap)
  }

  for (k <- kinds) {
    test(s"${k.name}: unchanged fixture reuses, rewrite rebuilds") {
      val dir = Files.createTempDirectory("graft-stagespec")
      val fixture = dir.resolve(k.fixture).toString
      k.write(dir, idsA)
      val a = k.stage(dir.toString)
      assert(k.staged(a) == k.expected(idsA))
      assert(a == Stage.path(spark, fixture, k.variant).toString)
      val before = snapshot(a)
      assert(k.stage(dir.toString) == a)
      assert(snapshot(a) == before, "unchanged fixture rebuilt its stage")
      k.write(dir, idsB)
      val b = k.stage(dir.toString)
      assert(b != a, "rewritten fixture kept its stage name")
      assert(k.staged(b) == k.expected(idsB), "stale stage served")
      assert(Stage.dirsFor(fixture, k.variant) == Seq(Paths.get(b)),
        "a superseded or private dir was left behind")
      Streaming.rmr(dir.toString)
    }

    test(s"${k.name}: dying or losing build leaves nothing accepted") {
      val dir = Files.createTempDirectory("graft-stagespec")
      val fixture = dir.resolve(k.fixture).toString
      k.write(dir, idsA)
      val e = intercept[IllegalStateException] {
        Stage(spark, fixture, k.variant) { out =>
          Files.write(Files.createDirectories(Paths.get(out)).resolve("part"),
            Array[Byte](1, 2, 3))
          throw new IllegalStateException("build died")
        }
      }
      assert(e.getMessage == "build died")
      assert(Stage.dirsFor(fixture, k.variant).isEmpty,
        "a dead build left a dir behind")
      // the next call builds for real
      assert(k.staged(k.stage(dir.toString)) == k.expected(idsA))
      // rewrite, then lose the race: the kind's own staging call (another
      // build) puts the new stage in place inside ours, before our rename
      k.write(dir, idsB)
      val target = Stage.path(spark, fixture, k.variant)
      val got = Stage(spark, fixture, k.variant) { out =>
        assert(k.stage(dir.toString) == target.toString)
        Files.write(Files.createDirectories(Paths.get(out)).resolve("loser"),
          Array[Byte](1))
      }
      assert(got == target.toString)
      assert(!Files.exists(target.resolve("loser")), "the loser's build won")
      assert(k.staged(got) == k.expected(idsB))
      assert(Stage.dirsFor(fixture, k.variant) == Seq(target),
        "the losing build or the superseded stage was left behind")
      Streaming.rmr(dir.toString)
    }
  }

  test("a deleted fixture's stages are removed by the next build") {
    val gone = Files.createTempDirectory("graft-stagespec-gone")
    val fixture = gone.resolve("events.parquet").toString
    events(gone, idsA)
    Streaming.stagedEvents(spark, gone.toString, 3)
    StreamingQueries.q87Seed(spark, gone.toString)
    assert(Stage.dirsFor(fixture, "events-s3").nonEmpty)
    Streaming.rmr(gone.toString)
    val other = Files.createTempDirectory("graft-stagespec-other")
    events(other, idsB)
    Streaming.stagedEvents(spark, other.toString, 3)
    assert(Stage.dirsFor(fixture, "events-s3").isEmpty &&
      Stage.dirsFor(fixture, "q87-seed").isEmpty, "a deleted fixture's stage was kept")
    Streaming.rmr(other.toString)
  }

  test("q87 seed restages after a same-size sub-ms rewrite") {
    val dir = Files.createTempDirectory("graft-stagespec-mtime")
    val f = dir.resolve("events.parquet")
    // both stamps fall inside one millisecond, which is all Hadoop's
    // FileStatus reports
    val t0 = java.time.Instant.parse("2026-01-01T00:00:00.000100Z")
    def upsert(): Map[Long, Double] =
      StreamingQueries.streamedUpsert(spark, dir.toString)
        .select(col("event_id"), col("value")).as[(Long, Double)]
        .collect().toMap
    writeEvents(dir, Seq(1L -> 1.0, 4L -> 4.0, 97L -> 9.7))
    Files.setLastModifiedTime(f, FileTime.from(t0))
    val size = Files.size(f)
    assert(upsert() == Map(1L -> 1.0, 4L -> 4.0, 97L -> 9.7,
      100000097L -> -1.0))
    writeEvents(dir, Seq(2L -> 2.0, 3L -> 3.0, 194L -> 19.4))
    Files.setLastModifiedTime(f, FileTime.from(t0.plusNanos(200000L)))
    assert(Files.size(f) == size, "the rewrite must keep the file size")
    val mtime = Files.getLastModifiedTime(f)
    assert(mtime.toMillis == t0.toEpochMilli && mtime != FileTime.from(t0),
      s"filesystem dropped the sub-millisecond mtime: $mtime")
    assert(upsert() == Map(2L -> 2.0, 3L -> 3.0, 194L -> 19.4,
      100000194L -> -1.0), "q87 drained against the stale seed")
    Streaming.rmr(dir.toString)
  }
}
