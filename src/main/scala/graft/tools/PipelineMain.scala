package graft.tools

import graft.ingest.Ingest
import graft.merge.Merge
import graft.obs.Obs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The deployable two-stage pipeline CLI — entry-point parity with the
  * reference's two spark-submit scripts (`scripts/spark_processing.py:
  * 266-285` runs the ingest job, `scripts/spark_merge_dfs.py:131-160`
  * runs the merge/publish job; the DAG invokes them in sequence,
  * `dags/kafka_stream_dag.py:69-77`). Same division of labor here:
  *
  *  - `ingest`: topic → envelope transform → headered CSV delta, as a
  *    checkpointed AvailableNow drain (restart-safe where the reference
  *    destroyed the topic for progress tracking);
  *  - `merge`: season tgz ∪ delta CSV → deterministic upsert → republish
  *    the tgz artifact (sorted by the dedup keys so identical data
  *    publishes identical bytes — what lets a restarted pipeline prove
  *    convergence);
  *  - `run`: both stages, one command.
  *
  * Usage (the master comes from spark-submit's `--master` or
  * `-Dspark.master`; with neither, [[graft.GraftSession]] runs the local
  * harness, `local[SPARK_GRAFT_CPUS or nproc]`):
  * {{{
  *   PipelineMain ingest --servers <brokers|kafka-log root> --topic shots \
  *     --out /data/ongoing --checkpoint /data/ckpt \
  *     [--format kafka|kafka-log] [--min-partitions N] [--max-offsets N]
  *   PipelineMain merge --season /data/shots-2025.tgz --delta /data/ongoing \
  *     [--publish <out tgz, default = --season>] [--csv-name shots-2025.csv]
  *   PipelineMain run  <all of the above>
  * }}}
  *
  * The stages are public methods so tests (PipelineE2ESpec) drive the
  * SAME code the command line runs, not parallel plumbing. Each stage
  * first installs the fork-free `file:` filesystem in the session's
  * Hadoop conf ([[graft.fs.ForkFree]]), so a session its caller built
  * writes checkpoints, sink logs and outputs without a child process
  * per file operation.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    val cmd = args.head
    val (flags, stage) = commands.getOrElse(cmd,
      throw new IllegalArgumentException(s"unknown command '$cmd'\n$usage"))
    val opts = parseOpts(args.tail)
    // every stage ignores keys it does not read, so a misspelled flag
    // would silently change what runs (a mistyped --publish republishes
    // over --season in place): reject it before any session exists
    val unread = opts.keySet -- flags
    if (unread.nonEmpty) throw new IllegalArgumentException(
      s"$cmd does not read ${unread.toSeq.sorted.map("--" + _).mkString(", ")}" +
        s"\n$usage")
    stage(graft.GraftSession("graft-pipeline"), opts)
  }

  private val ingestFlags = Set("servers", "topic", "out", "checkpoint",
    "format", "min-partitions", "max-offsets", "typed")
  private val mergeFlags = Set("season", "delta", "publish", "csv-name", "tmp")

  /** Each command's flag set and stage; `run` reads both stages' flags. */
  private val commands: Map[String,
      (Set[String], (SparkSession, Map[String, String]) => Unit)] = Map(
    "ingest" -> (ingestFlags -> ingest _),
    "merge" -> (mergeFlags -> mergePublish _),
    "run" -> ((ingestFlags ++ mergeFlags) ->
      ((spark, opts) => { ingest(spark, opts); mergePublish(spark, opts) })),
    "quarantine" -> (Set("blobs", "main", "quar", "checkpoint", "buckets",
      "table-bytes", "retire-horizon", "tmp", "crash-after-batch") ->
      quarantine _))

  val usage: String =
    """usage: PipelineMain <ingest|merge|run|quarantine> [--key value ...]
      |  ingest: --servers --topic --out --checkpoint
      |          [--format kafka|kafka-log] [--min-partitions] [--max-offsets]
      |          [--typed true]
      |  merge:  --season --delta [--publish] [--csv-name] [--tmp]
      |  quarantine: --blobs --main --quar --checkpoint
      |          [--buckets N (default: existing table's _meta, else
      |           MergeTable.suggestBuckets(--table-bytes, default 0))]
      |          [--table-bytes N] [--retire-horizon N] [--tmp dir]
      |          [--crash-after-batch N (fault-injection seam)]""".stripMargin

  private[graft] def parseOpts(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"dangling flag in ${args.mkString(" ")}\n$usage")
    args.grouped(2).map { pair =>
      require(pair(0).startsWith("--"), s"expected --flag, got '${pair(0)}'\n$usage")
      pair(0).stripPrefix("--") -> pair(1)
    }.toMap
  }

  private def req(opts: Map[String, String], k: String): String =
    opts.getOrElse(k, throw new IllegalArgumentException(
      s"missing required --$k\n$usage"))

  /** Stage 1: drain the topic through the envelope transform into the
    * headered `ongoing/` CSV delta (spark_processing.py's job). The
    * checkpoint makes re-runs drain only unseen offsets — an empty
    * incremental drain leaves the delta as-is.
    *
    * `--typed true` is the gated capability-add of SURVEY §1.2: it
    * APPENDS the typed twin columns ([[Ingest.typedLayer]] — q94's
    * oracle-gated semantics) after the parse chain. Default OFF: the
    * legacy all-string artifact (the reference's net schema,
    * `scripts/spark_processing.py:78-133`) stays the default output,
    * and the typed layer never touches the legacy columns, so flag-off
    * output is identical to pre-flag output (PipelineE2ESpec pins
    * both).
    */
  def ingest(spark: SparkSession, opts: Map[String, String]): Unit = {
    graft.fs.ForkFree.install(spark.sparkContext.hadoopConfiguration)
    val transformed = Ingest.transform(Ingest.kafkaStreamSource(spark,
      servers = req(opts, "servers"),
      topic = req(opts, "topic"),
      minPartitions = opts.getOrElse("min-partitions", "0").toInt,
      maxOffsetsPerTrigger = opts.getOrElse("max-offsets", "0").toLong,
      format = opts.getOrElse("format", "kafka")))
    val out = if (opts.get("typed").exists(_.toBoolean))
      Ingest.typedLayer(transformed) else transformed
    Ingest.streamToCsv(out, req(opts, "out"), req(opts, "checkpoint"))
  }

  /** Stage 2: season tgz ∪ delta CSV → [[Merge.mergeDeterministic]] →
    * republish (spark_merge_dfs.py's job). A missing season (after
    * recovering one stranded by a killed publish) bootstraps from the
    * delta alone (day-0 run), under the same winner rule. Rows are
    * sorted by the dedup keys before packaging so the artifact is
    * byte-reproducible.
    */
  def mergePublish(spark: SparkSession, opts: Map[String, String]): Unit = {
    graft.fs.ForkFree.install(spark.sparkContext.hadoopConfiguration)
    val seasonTgz = req(opts, "season")
    val deltaDir = req(opts, "delta")
    // "publish", not "out": `run` shares one opts map across both
    // stages and --out is the ingest stage's CSV delta dir
    val outTgz = opts.getOrElse("publish", seasonTgz)
    val csvName = opts.getOrElse("csv-name",
      new org.apache.hadoop.fs.Path(outTgz).getName.stripSuffix(".tgz") + ".csv")
    val tmpDir = opts.getOrElse("tmp", outTgz + ".publish-tmp")
    val delta = Obs.scope("delta_read")(Merge.readCsv(spark, deltaDir))
    val seasonPath = new org.apache.hadoop.fs.Path(seasonTgz)
    val fs = seasonPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a run killed mid-publish can leave the season only at `.old`;
    // unrecovered, it would read as day 0 and publish the delta alone
    graft.merge.Swap.recover(fs, seasonPath)
    // day 0 merges into an empty season: the delta's own duplicate keys
    // meet the same winner rule as on every later day
    val season = if (fs.exists(seasonPath)) {
      Obs.scope("season_read")(Merge.readSeasonTgz(spark, seasonTgz))
    } else delta.limit(0)
    Merge.publishTgz(Merge.mergeDeterministic(season, delta)
      .orderBy(Merge.dedupKeys.map(col): _*), tmpDir, outTgz, csvName)
  }

  /** Stage 3 (the engine extension beyond the reference's two jobs): the
    * corruption-tolerant media ingest — [[graft.multimodal.Multimodal
    * .quarantineDrain]], a checkpointed AvailableNow drain of a blob
    * parquet dir through the decode and the quarantine route: ok rows upsert the maintained bucketed meta
    * table, corrupt rows land in the keyed quarantine table, and a blob
    * re-arriving clean resolves its quarantine row. Re-running the
    * command drains only unseen files (restart = catch-up), and a run
    * killed mid-drain replays its uncommitted batch idempotently —
    * exactly the q92/q93 semantics, CLI-shaped.
    *
    * `--retire-horizon N` additionally ages out `resolved` tombstones
    * older than N batches behind the checkpoint's LAST COMMITTED batch
    * (quarantine size then tracks active corruption, not history). The
    * anchor is read from the checkpoint's commits log, not from batches
    * drained in THIS invocation — a pure-retention run against a
    * caught-up source (zero new batches) still retires on the true
    * horizon instead of silently no-oping.
    *
    * `--crash-after-batch N` is a fault-injection seam for restart
    * drills (PipelineE2ESpec uses it): the drain throws AFTER batch N's
    * route is applied but BEFORE its checkpoint commit — the adversarial
    * exactly-once window.
    */
  def quarantine(spark: SparkSession, opts: Map[String, String]): Unit = {
    graft.fs.ForkFree.install(spark.sparkContext.hadoopConfiguration)
    import graft.multimodal.Multimodal
    val blobs = req(opts, "blobs")
    val mainT = req(opts, "main")
    val quarT = req(opts, "quar")
    val cp = req(opts, "checkpoint")
    // --buckets: explicit N wins; otherwise an EXISTING main table's
    // `_meta` layout, else the sizing rule over --table-bytes
    // ([[graft.merge.MergeTable.bucketsFor]]). --table-bytes estimates
    // the EVENTUAL meta-table size, not the blob bytes — meta rows are
    // ~100 B/blob. With no estimate the rule's floor (16) applies:
    // media-meta/quarantine tables are MB-GB scale, the regime the 100×
    // matrix confirmed 16 for.
    val nBuckets = opts.get("buckets").map(_.toInt).getOrElse(
      graft.merge.MergeTable.bucketsFor(spark, mainT,
        opts.get("table-bytes").map(_.toLong).getOrElse(0L)))
    val tmp = opts.getOrElse("tmp", mainT + ".quarantine-tmp")
    val crashAfter = opts.get("crash-after-batch").map(_.toLong)
    Multimodal.quarantineDrain(spark, blobs, mainT, quarT, nBuckets, cp,
      scratch = s"$tmp/scratch", afterBatch = id =>
        if (crashAfter.contains(id))
          throw new RuntimeException(s"injected crash after batch $id route"))
    opts.get("retire-horizon").map(_.toLong).foreach { horizon =>
      val anchor = lastCommittedBatch(spark, cp)
      if (anchor >= 0)
        Multimodal.quarantineRetire(spark, quarT,
          retireBefore = anchor - horizon + 1)
      else System.err.println(
        "PipelineMain quarantine: --retire-horizon skipped — no committed " +
          "batches in the checkpoint, so there is no batch horizon to age " +
          "against yet")
    }
  }

  /** Last committed batch id in a streaming checkpoint's commits log, or
    * -1 when nothing has ever committed. This is the durable form of
    * "how far has this pipeline progressed": batches drained in the
    * current invocation are a subset of it (a caught-up source drains
    * zero), and a batch that routed but crashed before its commit is
    * deliberately NOT counted — retirement must never assume effects
    * newer than what a replay is still allowed to rewrite. The commit
    * log is one file per batch named by its id (Spark's HDFSMetadataLog
    * layout — public on-disk contract of the checkpoint dir).
    */
  private[graft] def lastCommittedBatch(spark: SparkSession,
      checkpoint: String): Long = {
    val dir = new org.apache.hadoop.fs.Path(checkpoint, "commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return -1L
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.nonEmpty && n.forall(_.isDigit))
      .foldLeft(-1L)((m, n) => math.max(m, n.toLong))
  }
}
