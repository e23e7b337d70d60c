package perfbench

import java.nio.file.{Files, Path}
import java.util.Random

import org.apache.spark.sql.SparkSession

import graft.tools.PipelineMain

/** Outcome of one output check: `failures` counts failed operations. */
final case class Check(failures: Int, details: Map[String, Any])

/** One benchmark workload. `setup` generates and stages the inputs
  * (untimed, repeated for the set-up median); `prepare` resets per-run
  * state before an iteration (untimed); `iteration` is the timed call into
  * the library; `check` verifies the iteration's output (untimed). */
trait Workload {
  def name: String
  def setup(dir: Path): Map[String, Any]
  def prepare(iter: Int): Unit = ()
  def iteration(iter: Int, tr: Option[Tracer]): Unit
  def check(iter: Int, deep: Boolean): Check
  /** Input records one iteration consumes (for rows_per_s). */
  def inputRows: Long
  /** Operations (days, drains, queries) one iteration attempts. */
  def opsPerIteration: Int = 1
  /** Fewest warm iterations a run measures. */
  def minWarm: Int = 3
  /** Untimed warm-up iterations between the cold and the measured ones.
    * A count, not a time, so a slow host does not measure iterations
    * earlier on the JIT's warm-up curve. */
  def warmupIterations: Int = 3
  /** Per-layer numbers of one traced iteration. */
  def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] = Map.empty
  /** Untimed, traced-only extra measurements after a traced iteration. */
  def afterTraced(iter: Int, tr: Tracer): Unit = ()
}

object Workloads {
  final case class Size(
      seasonDays: Int, gamesPerDay: Int, shotsPerGame: Int,
      days: Int, topicRecords: Int, maxOffsets: Int,
      catchupDays: Int, catchupMaxOffsets: Int,
      mediaFiles: Int, blobsPerFile: Int, queries: Seq[String])

  val Full = Size(seasonDays = 45, gamesPerDay = 10, shotsPerGame = 170,
    days = 6, topicRecords = 180000, maxOffsets = 22500,
    catchupDays = 12, catchupMaxOffsets = 5400,
    mediaFiles = 24, blobsPerFile = 3000, queries = Nil)
  val Tiny = Size(seasonDays = 4, gamesPerDay = 3, shotsPerGame = 40,
    days = 3, topicRecords = 4000, maxOffsets = 1500,
    catchupDays = 3, catchupMaxOffsets = 150,
    mediaFiles = 4, blobsPerFile = 40,
    queries = Seq("q01_pricing_summary", "q79_streamed_rollup"))

  def apply(name: String, spark: SparkSession, seed: Long, size: Size,
      cores: Int, dataDir: Option[String]): Workload = name match {
    case "daily_upsert" => new DailyUpsert(spark, seed, size)
    case "merge_publish" => new MergePublish(spark, seed, size)
    case "catchup_run" => new CatchupRun(spark, seed, size, cores)
    case "backfill_ingest" => new BackfillIngest(spark, seed, size, cores)
    case "media_quarantine" => new MediaQuarantine(spark, seed, size)
    case "query_suite" => new QuerySuite(spark, size, dataDir.getOrElse(
      throw new IllegalArgumentException("query_suite needs --data-dir")))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val shares = Gen.Shares()
  val Topic = "shots"
  val CsvName = "shots-2025.csv"

  /** Writes `shots` to a new kafka-log topic of `partitions` partitions,
    * records round-robin over the partitions, each partition in four
    * segments (four scrapes). Returns the bytes written. */
  def stageTopic(root: Path, shots: Seq[Gen.Shot], partitions: Int): Long = {
    Gen.createTopic(root, Topic, partitions)
    val byPart = shots.zipWithIndex.groupBy(_._2 % partitions).toSeq.sortBy(_._1)
    byPart.map { case (p, xs) =>
      val vals = xs.map(_._1.json)
      vals.grouped((vals.size + 3) / 4).zipWithIndex.map { case (seg, i) =>
        Gen.appendSegment(root, Topic, p, seg, 1735689600000L + i * 3600000L)
      }.sum
    }.sum
  }

  /** Per-stage numbers every pipeline workload reports. */
  def stageLayers(spans: Seq[Tracer.Span]): Map[String, Double] =
    Seq("ingest", "merge", "quarantine", "query").flatMap { st =>
      val ss = spans.filter(_.name == s"stage.$st")
      Seq(s"stage.${st}_ms" -> ss.map(_.wallMs).sum,
        s"stage.$st.jobs" -> ss.map(_.jobs.size.toDouble).sum,
        s"stage.$st.driver_only_ms" -> ss.map(_.driverOnlyMs).sum,
        s"stage.$st.unattributed_ms" -> ss.map(_.unattributedMs).sum)
    }.toMap

  /** Streaming-source and sink numbers of the ingest stage. */
  def ingestLayers(spans: Seq[Tracer.Span]): Map[String, Double] = {
    val ss = spans.filter(_.name == "stage.ingest")
    def c(k: String): Double = ss.map(_.c(k).toDouble).sum
    Map(
      "sources.records_read" -> c("input_rows"),
      "sources.offsets_ms" -> (c("latest_offset_ms") + c("get_batch_ms")),
      "ingest.batches" -> c("batches"),
      "ingest.add_batch_ms" -> c("add_batch_ms"),
      "ingest.planning_ms" -> c("query_planning_ms"),
      "ingest.checkpoint_ms" -> (c("wal_commit_ms") + c("commit_offsets_ms")),
      "ingest.task_cpu_ms" -> c("task_cpu_ns") / 1e6,
      "ingest.rows_out" -> c("output_records"),
      "ingest.bytes_out" -> c("output_bytes"))
  }

  /** Compare a published season artifact with the expected winners:
    * clean keys with another value (`wrong`), keys absent, keys not
    * expected, keys published twice, and the row count. */
  def compareSeason(published: Vector[Vector[String]],
      expected: collection.Map[(String, String, String), Vector[String]],
      dirtyKeys: Set[(String, String, String)]): Map[String, Long] = {
    val byKey = published.groupBy(r => (r(0), r(9), r(10)))
    val dupKeys = byKey.count(_._2.size > 1)
    var wrong = 0L
    var missing = 0L
    expected.foreach { case (k, row) =>
      byKey.get(k) match {
        case Some(rs) => if (rs.head != row) wrong += 1
        case None => missing += 1
      }
    }
    val extra = byKey.keySet.count(k => !expected.contains(k) && !dirtyKeys(k))
    val dirtyMissing = dirtyKeys.count(k => !byKey.contains(k))
    Map("wrong" -> wrong, "missing" -> (missing + dirtyMissing),
      "extra" -> extra.toLong, "duplicate_keys" -> dupKeys.toLong,
      "rows_out" -> published.size.toLong)
  }

  def dirtyKeysOf(shots: Seq[Gen.Shot]): Set[(String, String, String)] =
    shots.filter(_.kind != Gen.Clean).map(_.key).toSet

  /** Check the ingest output (CSV delta) against the records drained. */
  def compareDelta(rows: Vector[Vector[String]], shots: Seq[Gen.Shot]): Map[String, Long] = {
    val malformed = rows.count(_(0) == null).toLong
    val unparseable = rows.count(r => r(0) != null && r(15) == null).toLong
    val clean = rows.filter(r => r(0) != null && r(15) != null)
    val want = shots.filter(_.kind == Gen.Clean).map(_.row)
    def norm(rs: Seq[Vector[String]]) =
      rs.map(_.map(v => if (v == null) "\u0000" else v).mkString("\u0001")).sorted
    val mismatched = if (norm(clean) == norm(want)) 0L else {
      val a = norm(clean).groupBy(identity).view.mapValues(_.size).toMap
      val b = norm(want).groupBy(identity).view.mapValues(_.size).toMap
      (a.keySet ++ b.keySet).toSeq.map(k =>
        math.abs(a.getOrElse(k, 0) - b.getOrElse(k, 0)).toLong).sum
    }
    Map("rows" -> rows.size.toLong,
      "expected_rows" -> shots.size.toLong,
      "rows_malformed_json" -> malformed,
      "expected_malformed_json" -> shots.count(_.kind == Gen.MalformedJson).toLong,
      "rows_unparseable_play" -> unparseable,
      "expected_unparseable_play" -> shots.count(_.kind == Gen.UnparseablePlay).toLong,
      "clean_rows_mismatched" -> mismatched)
  }

  def deltaOk(m: Map[String, Long]): Boolean =
    m("rows") == m("expected_rows") &&
      m("rows_malformed_json") == m("expected_malformed_json") &&
      m("rows_unparseable_play") == m("expected_unparseable_play") &&
      m("clean_rows_mismatched") == 0L

  def seasonOk(m: Map[String, Long]): Boolean =
    m("wrong") == 0L && m("missing") == 0L && m("extra") == 0L &&
      m("duplicate_keys") == 0L
}

/** Season state shared by the tgz workloads: a season of clean shots,
  * and the merge layer's numbers of one traced iteration. */
private[perfbench] trait SeasonInputs {
  def spark: SparkSession
  def seed: Long
  def size: Workloads.Size
  protected var seasonRows: Vector[Vector[String]] = Vector.empty

  /** Generates the season's clean rows; returns its last day's shots. */
  protected def genSeason(rnd: Random): Vector[Gen.Shot] = {
    val days = Gen.days(rnd, 0, size.seasonDays, size.gamesPerDay,
      size.shotsPerGame, Workloads.shares)
    seasonRows = days.flatten.filter(_.kind == Gen.Clean).map(_.row)
    days.last
  }

  /** Times the public season read on its own, after a traced iteration. */
  protected def timeSeasonRead(iter: Int, tr: Tracer, season: Path): Unit =
    tr.span("merge.season_read", iter) {
      graft.merge.Merge.readSeasonTgz(spark, season.toString).count()
    }

  /** Merge-layer numbers: the published `artifact` against the expected
    * winners, `deltaRows` as the merge read them, and the merge stage's
    * task metrics. */
  protected def mergeLayers(spans: Seq[Tracer.Span], artifact: Path, deltaRows: Double,
      expected: collection.Map[(String, String, String), Vector[String]],
      dirty: Set[(String, String, String)]): Map[String, Double] = {
    val published = Io.readTgzCsv(artifact)
    val season = seasonRows.size.toDouble
    val ss = spans.filter(_.name == "stage.merge")
    def c(k: String): Double = ss.map(_.c(k).toDouble).sum
    Map("merge.season_read_ms" ->
        spans.filter(_.name == "merge.season_read").map(_.wallMs).sum,
      "merge.season_rows" -> season,
      "merge.delta_rows" -> deltaRows,
      "merge.rows_out" -> published.size.toDouble,
      "merge.keep_ratio" -> published.size / (season + deltaRows),
      "merge.artifact_bytes" -> Files.size(artifact).toDouble,
      "merge.stale_winners" ->
        Workloads.compareSeason(published, expected, dirty)("wrong").toDouble,
      "merge.shuffle_bytes" -> c("shuffle_write_bytes"),
      "merge.spill_bytes" -> c("spill_bytes"),
      "merge.task_cpu_ms" -> c("task_cpu_ns") / 1e6)
  }
}

/** Merge/publish alone: season tgz ∪ one day's CSV delta (the day's new
  * shots, a replay of the previous day with corrected fields, and dirty
  * rows) → `PipelineMain.mergePublish` → a fresh artifact each iteration.
  * The delta holds a single scrape, so the newest scrape is the delta. */
final class MergePublish(val spark: SparkSession, val seed: Long,
    val size: Workloads.Size) extends Workload with SeasonInputs {
  import Workloads._
  val name = "merge_publish"
  private var dir: Path = _
  private var delta: Vector[Gen.Shot] = Vector.empty
  private var expected: Map[(String, String, String), Vector[String]] = Map.empty
  private val hashes = collection.mutable.Map.empty[Int, String]
  def inputRows: Long = seasonRows.size.toLong + delta.size
  private def out(iter: Int) = dir.resolve(s"publish/it$iter/shots-2025.tgz")

  def setup(d: Path): Map[String, Any] = {
    dir = d
    val rnd = new Random(seed)
    val lastDay = genSeason(rnd)
    val fresh = Gen.days(rnd, size.seasonDays, 1, size.gamesPerDay,
      size.shotsPerGame, shares).head
    delta = Gen.scrape(rnd, fresh, lastDay, shares)
    val seasonBytes = Gen.writeSeasonTgz(dir.resolve("season/shots-2025.tgz"),
      CsvName, seasonRows)
    val deltaBytes = Gen.writeCsvDir(dir.resolve("ongoing"), delta.map(_.row))
    expected = seasonRows.map(r => (r(0), r(9), r(10)) -> r).toMap ++
      delta.filter(_.kind == Gen.Clean).map(s => s.key -> s.row)
    Map("season_rows" -> seasonRows.size, "season_tgz_bytes" -> seasonBytes,
      "delta_rows" -> delta.size, "delta_csv_bytes" -> deltaBytes,
      "delta_corrected_replays" -> delta.count(s => s.kind == Gen.Clean &&
        lastDay.exists(o => o.key == s.key && o.row != s.row)),
      "delta_malformed_json" -> delta.count(_.kind == Gen.MalformedJson),
      "delta_unparseable_play" -> delta.count(_.kind == Gen.UnparseablePlay))
  }

  override def prepare(iter: Int): Unit = {
    Io.deleteTree(dir.resolve("publish"))
    Files.createDirectories(out(iter).getParent)
  }

  def iteration(iter: Int, tr: Option[Tracer]): Unit = {
    val opts = Map("season" -> dir.resolve("season/shots-2025.tgz").toString,
      "delta" -> dir.resolve("ongoing").toString,
      "publish" -> out(iter).toString, "csv-name" -> CsvName,
      "tmp" -> dir.resolve(s"publish/tmp$iter").toString)
    Run.stage(tr, "stage.merge", iter)(PipelineMain.mergePublish(spark, opts))
  }

  def check(iter: Int, deep: Boolean): Check = {
    val h = Io.sha256(out(iter))
    hashes(iter) = h
    val first = hashes.minBy(_._1)._2
    val identical = h == first
    if (!deep) Check(if (identical) 0 else 1, Map("artifact_sha256" -> h))
    else {
      val m = compareSeason(Io.readTgzCsv(out(iter)), expected, dirtyKeysOf(delta))
      Check(if (identical && seasonOk(m)) 0 else 1,
        m ++ Map("artifact_sha256" -> h, "artifact_identical" -> identical))
    }
  }

  override def afterTraced(iter: Int, tr: Tracer): Unit =
    timeSeasonRead(iter, tr, dir.resolve("season/shots-2025.tgz"))

  override def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] =
    mergeLayers(spans, out(iter), delta.size.toDouble, expected, dirtyKeysOf(delta))
}

/** `PipelineMain run` after downtime: a backlog of days in a 4-partition
  * kafka-log topic is drained by `ingest` in bounded micro-batches
  * (`--min-partitions` nproc) into a fresh delta, then `mergePublish`
  * folds that delta into the season tgz and publishes a fresh artifact.
  * The backlog's first day replays part of the season's last day, some
  * replays corrected; the later days are new shots only, so no key is
  * scraped twice inside the delta and the newest scrape must win. Each
  * iteration starts from an empty delta, checkpoint and artifact, as the
  * reference's `ongoing/` holds only the current drain. */
final class CatchupRun(val spark: SparkSession, val seed: Long,
    val size: Workloads.Size, cores: Int) extends Workload with SeasonInputs {
  import Workloads._
  val name = "catchup_run"
  // the second iteration is already within a few percent of the later ones
  override def warmupIterations: Int = 1
  private var dir: Path = _
  private var backlog: Vector[Gen.Shot] = Vector.empty
  private var expected: Map[(String, String, String), Vector[String]] = Map.empty
  private val hashes = collection.mutable.Map.empty[Int, String]
  def inputRows: Long = seasonRows.size.toLong + backlog.size
  private def tgz = dir.resolve("season/shots-2025.tgz")
  private def runDir(iter: Int) = dir.resolve(s"run$iter")
  private def delta(iter: Int) = runDir(iter).resolve("ongoing")
  private def out(iter: Int) = runDir(iter).resolve("publish/shots-2025.tgz")

  def setup(d: Path): Map[String, Any] = {
    dir = d
    val rnd = new Random(seed)
    val lastDay = genSeason(rnd)
    val fresh = Gen.days(rnd, size.seasonDays, size.catchupDays, size.gamesPerDay,
      size.shotsPerGame, shares)
    backlog = Gen.scrape(rnd, fresh.head, lastDay, shares) ++ fresh.tail.flatten
    val seasonBytes = Gen.writeSeasonTgz(tgz, CsvName, seasonRows)
    val topicBytes = stageTopic(dir.resolve("topic"), backlog, 4)
    expected = seasonRows.map(r => (r(0), r(9), r(10)) -> r).toMap ++
      backlog.filter(_.kind == Gen.Clean).map(s => s.key -> s.row)
    Map("season_rows" -> seasonRows.size, "season_tgz_bytes" -> seasonBytes,
      "backlog_days" -> fresh.size, "topic_records" -> backlog.size,
      "topic_partitions" -> 4, "topic_bytes" -> topicBytes,
      "max_offsets" -> size.catchupMaxOffsets,
      "corrected_replays" -> backlog.count(s => s.kind == Gen.Clean &&
        lastDay.exists(o => o.key == s.key && o.row != s.row)),
      "malformed_json" -> backlog.count(_.kind == Gen.MalformedJson),
      "unparseable_play" -> backlog.count(_.kind == Gen.UnparseablePlay))
  }

  override def prepare(iter: Int): Unit = {
    Io.deleteTree(runDir(iter - 1))
    Files.createDirectories(out(iter).getParent)
  }

  def iteration(iter: Int, tr: Option[Tracer]): Unit = {
    val opts = Map("servers" -> dir.resolve("topic").toString, "topic" -> Topic,
      "format" -> "kafka-log", "out" -> delta(iter).toString,
      "delta" -> delta(iter).toString,
      "checkpoint" -> runDir(iter).resolve("checkpoint").toString,
      "min-partitions" -> cores.toString,
      "max-offsets" -> size.catchupMaxOffsets.toString,
      "season" -> tgz.toString, "publish" -> out(iter).toString,
      "csv-name" -> CsvName, "tmp" -> runDir(iter).resolve("publish-tmp").toString)
    Run.stage(tr, "stage.ingest", iter)(PipelineMain.ingest(spark, opts))
    Run.stage(tr, "stage.merge", iter)(PipelineMain.mergePublish(spark, opts))
  }

  def check(iter: Int, deep: Boolean): Check = {
    val h = Io.sha256(out(iter))
    hashes(iter) = h
    val identical = h == hashes.minBy(_._1)._2
    if (!deep) {
      val n = Io.countCsvRows(delta(iter))
      Check(if (identical && n == backlog.size) 0 else 1,
        Map("artifact_sha256" -> h, "delta_rows" -> n))
    } else {
      val dm = compareDelta(Io.readCsvDir(delta(iter)), backlog)
      val sm = compareSeason(Io.readTgzCsv(out(iter)), expected, dirtyKeysOf(backlog))
      Check(if (identical && deltaOk(dm) && seasonOk(sm)) 0 else 1,
        sm ++ dm.map { case (k, v) => s"delta_$k" -> v } ++
          Map("artifact_sha256" -> h, "artifact_identical" -> identical))
    }
  }

  override def afterTraced(iter: Int, tr: Tracer): Unit = timeSeasonRead(iter, tr, tgz)

  override def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] = {
    val m = compareDelta(Io.readCsvDir(delta(iter)), backlog)
    mergeLayers(spans, out(iter), backlog.size.toDouble, expected,
      dirtyKeysOf(backlog)) ++ ingestLayers(spans) ++ Map(
      "ingest.rows_malformed_json" -> m("rows_malformed_json").toDouble,
      "ingest.rows_unparseable_play" -> m("rows_unparseable_play").toDouble)
  }
}

/** The reference's daily job: each iteration is the next day. The day's
  * scrape is staged into the 1-partition topic (untimed); the timed part
  * is `ingest` then `mergePublish` on one checkpoint, one `ongoing/`
  * delta and one season artifact, exactly as `PipelineMain run` composes
  * them. The check expects the newest scrape to win. */
final class DailyUpsert(val spark: SparkSession, val seed: Long,
    val size: Workloads.Size) extends Workload with SeasonInputs {
  import Workloads._
  val name = "daily_upsert"
  private var dir: Path = _
  private var scrapes: Vector[Vector[Gen.Shot]] = Vector.empty
  private var expected = collection.mutable.Map.empty[(String, String, String), Vector[String]]
  private var dirty = Set.empty[(String, String, String)]
  def inputRows: Long = scrapes.headOption.map(_.size.toLong).getOrElse(0L)
  private def tgz = dir.resolve("season/shots-2025.tgz")

  def setup(d: Path): Map[String, Any] = {
    dir = d
    val rnd = new Random(seed)
    var prev = genSeason(rnd)
    val fresh = Gen.days(rnd, size.seasonDays, size.days, size.gamesPerDay,
      size.shotsPerGame, shares)
    scrapes = fresh.map { f => val s = Gen.scrape(rnd, f, prev, shares); prev = f; s }
    val seasonBytes = Gen.writeSeasonTgz(tgz, CsvName, seasonRows)
    Gen.createTopic(dir.resolve("topic"), Topic, 1)
    expected = collection.mutable.Map.empty ++ seasonRows.map(r => (r(0), r(9), r(10)) -> r)
    dirty = Set.empty
    Map("season_rows" -> seasonRows.size, "season_tgz_bytes" -> seasonBytes,
      "days" -> scrapes.size, "scrape_records" -> scrapes.map(_.size),
      "shares" -> shares.toString)
  }

  /** Days beyond the generated ones replay the last scrape. */
  private def scrapeOf(iter: Int) = scrapes(iter.min(scrapes.size - 1))

  override def prepare(iter: Int): Unit = {
    val s = scrapeOf(iter)
    Gen.appendSegment(dir.resolve("topic"), Topic, 0, s.map(_.json),
      1735689600000L + iter * 86400000L)
    s.filter(_.kind == Gen.Clean).foreach(x => expected(x.key) = x.row)
    dirty ++= dirtyKeysOf(s)
  }

  def iteration(iter: Int, tr: Option[Tracer]): Unit = {
    val opts = Map("servers" -> dir.resolve("topic").toString, "topic" -> Topic,
      "format" -> "kafka-log", "out" -> dir.resolve("ongoing").toString,
      "delta" -> dir.resolve("ongoing").toString,
      "checkpoint" -> dir.resolve("checkpoint").toString,
      "season" -> tgz.toString, "csv-name" -> CsvName,
      "tmp" -> dir.resolve("publish-tmp").toString)
    Run.stage(tr, "stage.ingest", iter)(PipelineMain.ingest(spark, opts))
    Run.stage(tr, "stage.merge", iter)(PipelineMain.mergePublish(spark, opts))
  }

  def check(iter: Int, deep: Boolean): Check = {
    val m = compareSeason(Io.readTgzCsv(tgz), expected, dirty)
    Check(if (seasonOk(m)) 0 else 1, m ++ Map("stale_winners" -> m("wrong"),
      "delta_rows" -> Io.readCsvDir(dir.resolve("ongoing")).size))
  }

  override def afterTraced(iter: Int, tr: Tracer): Unit = timeSeasonRead(iter, tr, tgz)

  override def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] =
    mergeLayers(spans, tgz, Io.readCsvDir(dir.resolve("ongoing")).size.toDouble,
      expected, dirty) ++ ingestLayers(spans)
}

/** Catch-up ingest: a deep 4-partition topic drained by
  * `PipelineMain.ingest` in bounded micro-batches, no merge. Each
  * iteration drains the whole topic into a fresh delta and checkpoint. */
final class BackfillIngest(spark: SparkSession, seed: Long,
    size: Workloads.Size, cores: Int) extends Workload {
  import Workloads._
  val name = "backfill_ingest"
  private var dir: Path = _
  private var shots: Vector[Gen.Shot] = Vector.empty
  def inputRows: Long = shots.size.toLong
  private def outDir(iter: Int) = dir.resolve(s"ongoing$iter")

  def setup(d: Path): Map[String, Any] = {
    dir = d
    val rnd = new Random(seed)
    val perDay = 10 * 100
    val nDays = (size.topicRecords + perDay - 1) / perDay
    shots = Gen.days(rnd, 0, nDays, 10, 100, shares).flatten.take(size.topicRecords)
    val bytes = stageTopic(dir.resolve("topic"), shots, 4)
    Map("topic_records" -> shots.size, "topic_partitions" -> 4,
      "topic_bytes" -> bytes, "max_offsets" -> size.maxOffsets,
      "malformed_json" -> shots.count(_.kind == Gen.MalformedJson),
      "unparseable_play" -> shots.count(_.kind == Gen.UnparseablePlay))
  }

  override def prepare(iter: Int): Unit = {
    Io.deleteTree(outDir(iter - 1))
    Io.deleteTree(dir.resolve(s"checkpoint${iter - 1}"))
  }

  def iteration(iter: Int, tr: Option[Tracer]): Unit = {
    val opts = Map("servers" -> dir.resolve("topic").toString, "topic" -> Topic,
      "format" -> "kafka-log", "out" -> outDir(iter).toString,
      "checkpoint" -> dir.resolve(s"checkpoint$iter").toString,
      "min-partitions" -> cores.toString,
      "max-offsets" -> size.maxOffsets.toString)
    Run.stage(tr, "stage.ingest", iter)(PipelineMain.ingest(spark, opts))
  }

  def check(iter: Int, deep: Boolean): Check =
    if (!deep) {
      val n = Io.countCsvRows(outDir(iter))
      Check(if (n == shots.size) 0 else 1, Map("rows" -> n))
    } else {
      val m = compareDelta(Io.readCsvDir(outDir(iter)), shots)
      Check(if (deltaOk(m)) 0 else 1, m)
    }

  override def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] = {
    val m = compareDelta(Io.readCsvDir(outDir(iter)), shots)
    ingestLayers(spans) ++ Map(
      "ingest.rows_malformed_json" -> m("rows_malformed_json").toDouble,
      "ingest.rows_unparseable_play" -> m("rows_unparseable_play").toDouble)
  }
}

/** The media upsert backend, as a daily media drop: each iteration
  * stages the next blob file (untimed) and re-runs
  * `PipelineMain.quarantine` on the same checkpoint and tables, which
  * drains just that file as one micro-batch through decode and the
  * quarantine route into the bucketed MergeTable main and quarantine
  * tables. The first (cold) iteration creates the tables; later ones
  * upsert into existing buckets. */
final class MediaQuarantine(spark: SparkSession, seed: Long,
    size: Workloads.Size) extends Workload {
  val name = "media_quarantine"
  // iteration times fall steeply for the first six files (decode and
  // route still compiling), then by a few percent over the next ten
  override def warmupIterations: Int = 7
  private var dir: Path = _
  private var files: Vector[Vector[Gen.Blob]] = Vector.empty
  private var drained = 0
  // the expected tables after the first `expectedFiles` files
  private var expectedFiles = 0
  private var expected = (Map.empty[Long, Long], Map.empty[Long, String])
  private var before: Map[String, Long] = Map.empty
  private def fileOf(iter: Int) = files(iter % files.size)
  def inputRows: Long = files.map(_.size.toLong).sum / files.size.max(1)
  private def t = dir.resolve("tables")

  def setup(d: Path): Map[String, Any] = {
    dir = d
    files = Gen.mediaFiles(new Random(seed), size.mediaFiles, size.blobsPerFile,
      idSpace = size.blobsPerFile * 2)
    val bytes = Gen.writeBlobFile(dir.resolve("blobs"), 0, files.head)
    drained = 0
    expectedFiles = 0
    expected = (Map.empty, Map.empty)
    Map("blob_files" -> files.size, "blobs_per_file" -> size.blobsPerFile,
      "first_file_bytes" -> bytes,
      "truncated_share" -> files.flatten.count(!_.ok).toDouble / files.flatten.size)
  }

  override def prepare(iter: Int): Unit = {
    if (iter > 0) Gen.writeBlobFile(dir.resolve("blobs"), iter, fileOf(iter))
    before = Io.treeFiles(t)
  }

  def iteration(iter: Int, tr: Option[Tracer]): Unit = {
    val opts = Map("blobs" -> dir.resolve("blobs").toString,
      "main" -> t.resolve("main").toString, "quar" -> t.resolve("quarantine").toString,
      "checkpoint" -> t.resolve("checkpoint").toString,
      "tmp" -> t.resolve("tmp").toString)
    Run.stage(tr, "stage.quarantine", iter)(PipelineMain.quarantine(spark, opts))
    drained = iter + 1
  }

  private def readTable(p: Path): Vector[org.apache.spark.sql.Row] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) Vector.empty else {
      val buckets = Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.startsWith("__bucket=")).map(_.toString).toVector
      if (buckets.isEmpty) Vector.empty
      else spark.read.parquet(buckets: _*).collect().toVector
    }
  }

  private def observed(): (Map[Long, Long], Map[Long, String]) = {
    val main = readTable(t.resolve("main")).map(r =>
      r.getAs[Long]("media_id") -> r.getAs[Long]("n_bytes"))
    val quar = readTable(t.resolve("quarantine")).map(r =>
      r.getAs[Long]("media_id") -> r.getAs[String]("status"))
    (main.toMap, quar.toMap)
  }

  /** Rows of a bucketed table, summed from its parquet footers. */
  private def footerRows(p: Path): Long =
    Io.treeFiles(p).keys.toSeq
      .filter(k => k.startsWith("__bucket=") && k.endsWith(".parquet"))
      .map(k => Io.parquetRows(p.resolve(k))).sum

  def check(iter: Int, deep: Boolean): Check = {
    while (expectedFiles < drained) {
      expected = Gen.expectedAfter(expected, fileOf(expectedFiles))
      expectedFiles += 1
    }
    val (wantMain, wantQuar) = expected
    if (!deep) {
      // between the deep checks, the tables' row counts from the footers;
      // a Spark read of both tables per iteration would cost more than a
      // third of the measured time
      val (m, q) = (footerRows(t.resolve("main")), footerRows(t.resolve("quarantine")))
      Check(if (m == wantMain.size && q == wantQuar.size) 0 else 1,
        Map("files_drained" -> drained, "main_rows" -> m,
          "expected_main_keys" -> wantMain.size, "quarantine_rows" -> q,
          "expected_quarantine_rows" -> wantQuar.size))
    } else {
      val (main, quar) = observed()
      val ok = main == wantMain && quar == wantQuar
      Check(if (ok) 0 else 1, Map("files_drained" -> drained,
        "main_keys" -> main.size, "expected_main_keys" -> wantMain.size,
        "main_wrong" -> (main.toSet diff wantMain.toSet).size,
        "quarantine_rows" -> quar.size, "expected_quarantine_rows" -> wantQuar.size,
        "quarantine_wrong" -> (quar.toSet diff wantQuar.toSet).size))
    }
  }

  override def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] = {
    def bucketFiles(m: Map[String, Long]) = m.filter { case (k, _) =>
      k.startsWith("main/__bucket=") || k.startsWith("quarantine/__bucket=") }
    val after = bucketFiles(Io.treeFiles(t))
    val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
    val bucketsRewritten = changed.keys.map(k => k.split('/').take(2).mkString("/")).toSet.size
    val batch = fileOf(iter).groupBy(_.id).values.map(bs => bs.find(!_.ok).getOrElse(bs.head))
    val (_, quar) = observed()
    val ss = spans.filter(_.name == "stage.quarantine")
    def c(k: String): Double = ss.map(_.c(k).toDouble).sum
    Map("mergetable.buckets_rewritten" -> bucketsRewritten.toDouble,
      "mergetable.bytes_written" -> changed.values.sum.toDouble,
      "mergetable.files" -> after.size.toDouble,
      "multimodal.blobs_in" -> fileOf(iter).size.toDouble,
      "multimodal.blobs_ok" -> batch.count(_.ok).toDouble,
      "multimodal.blobs_quarantined" -> batch.count(!_.ok).toDouble,
      "multimodal.blobs_resolved" -> quar.count(_._2 == "resolved").toDouble,
      "quarantine.batches" -> c("batches"),
      "quarantine.add_batch_ms" -> c("add_batch_ms"),
      "quarantine.checkpoint_ms" -> (c("wal_commit_ms") + c("commit_offsets_ms")),
      "quarantine.task_cpu_ms" -> c("task_cpu_ns") / 1e6)
  }
}

/** Every entry of `SparkEntry.queries` into the noop sink, over a
  * testdata directory (TESTDATA.md tables). Each iteration is one pass. */
final class QuerySuite(spark: SparkSession, size: Workloads.Size,
    dataDir: String) extends Workload {
  val name = "query_suite"
  private val modules: Seq[(String, Iterable[String])] = {
    import graft.queries._
    Seq("Relational" -> Relational.queries.keys, "PlayParse" -> PlayParse.queries.keys,
      "TextOps" -> TextOps.queries.keys, "VectorOps" -> VectorOps.queries.keys,
      "EventOps" -> EventOps.queries.keys, "MultimodalOps" -> MultimodalOps.queries.keys,
      "Relational2" -> Relational2.queries.keys, "Profiling" -> Profiling.queries.keys,
      "PipelineOps" -> PipelineOps.queries.keys, "ClusterOps" -> ClusterOps.queries.keys,
      "PrivacyOps" -> PrivacyOps.queries.keys, "LayoutOps" -> LayoutOps.queries.keys,
      "ScaleQueries" -> ScaleQueries.queries.keys,
      "KafkaLogQueries" -> KafkaLogQueries.queries.keys,
      "StreamingQueries" -> StreamingQueries.queries.keys)
  }
  private val moduleOf: Map[String, String] =
    modules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
  private val names: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    if (size.queries.isEmpty) all else all.filter(size.queries.contains)
  }
  private var failed = Set.empty[String]
  def inputRows: Long = names.size.toLong
  override def opsPerIteration: Int = names.size
  // one pass is minutes long at the smallest testdata scale: no separate
  // warm-up phase
  override def minWarm: Int = 1
  override def warmupIterations: Int = 0
  override def prepare(iter: Int): Unit = failed = Set.empty

  def setup(d: Path): Map[String, Any] =
    Map("data_dir" -> dataDir, "queries" -> names.size)

  def iteration(iter: Int, tr: Option[Tracer]): Unit = names.foreach { n =>
    val f = graft.SparkEntry.queries(n)
    try Run.stage(tr, s"query.$n", iter) {
      f(spark, dataDir).write.format("noop").mode("overwrite").save()
    } catch { case scala.util.control.NonFatal(e) =>
      failed += n
      System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
    }
  }

  /** One untimed pass that writes each result to parquet for the DuckDB
    * oracle compare, which the runner does after the JVM exits. */
  def dumpForOracle(out: Path): Unit = {
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, dataDir).coalesce(1)
        .write.mode("overwrite").parquet(out.resolve(n).toString)
      catch { case scala.util.control.NonFatal(e) => failed += n }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(out.resolve("oracle_sql.json"), Io.json(oracle))
  }

  def check(iter: Int, deep: Boolean): Check =
    Check(failed.size, Map("failed_queries" -> failed.toSeq.sorted))

  override def layers(iter: Int, spans: Seq[Tracer.Span], tr: Tracer): Map[String, Double] = {
    val qs = spans.filter(_.name.startsWith("query."))
    def c(k: String): Double = qs.map(_.c(k).toDouble).sum
    val streaming = qs.filter(s => moduleOf.get(s.name.stripPrefix("query."))
      .contains("StreamingQueries"))
    def sc(k: String): Double = streaming.map(_.c(k).toDouble).sum
    def speak(k: String): Double = streaming.map(_.c(k).toDouble).foldLeft(0.0)(_ max _)
    val perModule = qs.groupBy(s => moduleOf.getOrElse(s.name.stripPrefix("query."), "other"))
      .map { case (m, ss) => s"queries.$m.wall_ms" -> ss.map(_.wallMs).sum }
    Map("stage.query_ms" -> qs.map(_.wallMs).sum,
      "stage.query.jobs" -> qs.map(_.jobs.size.toDouble).sum,
      "stage.query.driver_only_ms" -> qs.map(_.driverOnlyMs).sum,
      "stage.query.unattributed_ms" -> qs.map(_.unattributedMs).sum,
      "queries.planning_ms" -> c("planning_ms"),
      "queries.exec_ms" -> c("exec_ns") / 1e6,
      "queries.task_cpu_ms" -> c("task_cpu_ns") / 1e6,
      "queries.scan_bytes" -> c("input_bytes"),
      "queries.shuffle_bytes" -> c("shuffle_write_bytes"),
      "queries.spill_bytes" -> c("spill_bytes"),
      "streaming.batches" -> sc("batches"),
      "streaming.add_batch_ms" -> sc("add_batch_ms"),
      "streaming.checkpoint_ms" -> (sc("wal_commit_ms") + sc("commit_offsets_ms")),
      "streaming.state_rows_peak" -> speak("state_rows_peak"),
      "streaming.state_mem_bytes_peak" -> speak("state_mem_bytes_peak"),
      "streaming.state_commit_ms" -> sc("state_commit_ms")) ++ perModule
  }
}
