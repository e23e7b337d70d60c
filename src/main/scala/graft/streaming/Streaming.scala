package graft.streaming

import java.sql.Timestamp

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (BASELINE.json `spark_approach`;
  * SURVEY.md §2.9): the reference drains a Kafka topic as a batch and
  * destroys it for progress tracking — here the same drain-and-stop
  * semantics are Trigger.AvailableNow + checkpointed offsets, plus the
  * event-time operators the reference lacks (watermarks, windows,
  * streaming dedup, custom state).
  *
  * Every transform takes a DataFrame so the identical code runs over
  * `readStream` (production) and a batch frame (tests/oracle twins).
  */
object Streaming {
  /** Typed event row for stateful ops. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long, total_value: Double)

  /** Value accumulates as exact CENTS (the monetary columns carry ≤2
    * decimal digits — same rationale as [[graft.queries.Exact]]): a
    * double running sum would be order-dependent and drift from the
    * oracle's decimal sum in the last ulp. */
  case class SessionState(startUs: Long, endUs: Long, n: Long, cents: Long)

  /** File-based streaming source over the events schema — the
    * broker-free twin of the Kafka source (same frame shape downstream).
    *
    * TEST/FIXTURE ONLY: the file source needs a directory, so the
    * single-file fixture is staged into one through [[Stage]], the drain
    * family's one staging rule (built once per fixture content, then
    * reused by every call and every JVM). Real deployments point
    * `readStream.parquet` at the data's own directory (or use
    * [[graft.ingest.Ingest.kafkaStreamSource]]).
    */
  def fileEventSource(spark: SparkSession, dir: String): DataFrame =
    fileEventSource(spark, dir, sentinelHorizonHours = 0)

  /** Sentinel rows carry this user_id; consumers of a sentinel-closed
    * drain filter it out (negative ids never occur in real data). */
  val SentinelUserId: Long = -1L

  /** [[fileEventSource]] with an optional CLOSING SENTINEL: when
    * `sentinelHorizonHours > 0`, one extra event is staged whose event
    * time lies that many hours past the fixture's max. A bounded
    * AvailableNow drain then ends with its watermark PAST every real
    * window/session/timeout (watermark = sentinel − watermark delay), so
    * APPEND-mode sinks emit the complete result and stateful timeouts
    * all fire — the scale-safe alternative to a complete-mode drain,
    * whose memory sink materializes the whole result on the driver and
    * whose state store retains every window forever. The sentinel's own
    * row (user_id = [[SentinelUserId]], event_type "__sentinel") stays
    * unemitted in state or is filtered by the consumer.
    *
    * The horizon must exceed watermark delay + any session gap (1 h +
    * 30 min here); 3 h is the safe default for this schema's operators.
    */
  def fileEventSource(spark: SparkSession, dir: String,
      sentinelHorizonHours: Int): DataFrame =
    eventStream(spark, stagedEvents(spark, dir, sentinelHorizonHours))

  /** [[fileEventSource]] staging the fixture TWICE (two files, distinct
    * names, ordered mtimes): every event arrives as a duplicate pair —
    * the adversarial input for the streaming dedup gate (q86). Its own
    * stage variant, so the single-copy flavors never see the extra file.
    */
  def fileEventSourceDuplicated(spark: SparkSession, dir: String): DataFrame =
    eventStream(spark, stagedEvents(spark, dir, 0, duplicated = true))

  /** The staged events dir of one source flavor. Each flavor is its own
    * [[Stage]] variant: a sentinel file must never leak a far-future
    * event into the plain stream. */
  private[graft] def stagedEvents(spark: SparkSession, dir: String,
      sentinelHorizonHours: Int, duplicated: Boolean = false): String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Paths.get(dir, "events.parquet")
    val variant = if (duplicated) "events-dup" else s"events-s$sentinelHorizonHours"
    Stage(spark, src.toString, variant) { out =>
      val staged = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(out))
      val dst = staged.resolve("events.parquet")
      java.nio.file.Files.copy(src, dst)
      if (duplicated)
        java.nio.file.Files.copy(src, staged.resolve("events-replay.parquet"))
      if (sentinelHorizonHours > 0)
        stageSentinel(spark, spark.read.parquet(dst.toString), staged,
          sentinelHorizonHours)
    }
  }

  private def eventStream(spark: SparkSession, staged: String): DataFrame =
    graft.Tables.normalizeEventTs(spark.readStream
      .schema(Stage.schema(spark, s"$staged/events.parquet")).parquet(staged))

  /** Write the sentinel row next to the staged fixture, in the fixture's
    * OWN raw ts shape (TIMESTAMP or legacy nanos-long — the sentinel must
    * ride the same normalization branch as the real rows). Local-fs only,
    * like the staging itself (TEST/FIXTURE ONLY per [[fileEventSource]]).
    */
  private def stageSentinel(spark: SparkSession, raw: DataFrame,
      staged: java.nio.file.Path, horizonHours: Int): Unit = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    import scala.jdk.CollectionConverters._
    val maxUs = graft.Tables.normalizeEventTs(raw)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val sentUs = maxUs + horizonHours * 3600L * 1000000L
    val tsValue: Any = raw.schema("ts").dataType match {
      case LongType => java.lang.Long.valueOf(sentUs * 1000L) // legacy nanos
      case TimestampNTZType => java.time.LocalDateTime.ofEpochSecond(
        sentUs / 1000000L, ((sentUs % 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
      case _ => java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        sentUs / 1000000L, (sentUs % 1000000L) * 1000L))
    }
    val values: Array[Any] = raw.schema.fields.map(_.name).map {
      case "event_id" => java.lang.Long.valueOf(-1L): Any
      case "ts" => tsValue
      case "user_id" => java.lang.Long.valueOf(SentinelUserId): Any
      case "event_type" => "__sentinel": Any
      case "value" => java.lang.Double.valueOf(0.0): Any
      case _ => null
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(values: _*)),
      raw.schema)
    // the write goes through a tmp dir: the stage holds one sentinel file
    val tmpOut = staged.resolve("_sentinel_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
    val part = java.nio.file.Files.list(tmpOut).iterator().asScala
      .find { p => val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet") }
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no part file in $tmpOut"))
    java.nio.file.Files.move(part, staged.resolve("zz-sentinel.parquet"))
    FileUtils.deleteDirectory(tmpOut.toFile)
  }

  /** D2: streaming dedup — exactly-one-row-per-key across micro-batches,
    * state bounded by the watermark.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked tumbling or sliding window rollup — the streaming twin
    * of EventOps.hourlyRollup (slide == window) and q49's sliding rollup
    * (slide < window; each event lands in window/slide overlapping
    * windows). Same expressions, append-mode safe.
    */
  def windowedRollup(events: DataFrame, watermark: String = "1 hour",
      windowDur: String = "1 hour", slide: String = ""): DataFrame = {
    val win = if (slide.isEmpty) window(col("ts"), windowDur)
      else window(col("ts"), windowDur, slide)
    events.withWatermark("ts", watermark)
      .groupBy(win, col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("total_value"))
  }

  /** Event-time session windows via the built-in session_window (30-minute
    * gap) — state-store backed, watermark-bounded.
    */
  def sessionWindowRollup(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"), col("total_value"))

  /** Event time in epoch micros. Timestamp.getTime is millis; keep the
    * full microsecond precision the column carries (the batch twin uses
    * unix_micros). */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def sessionOut(userId: Long, s: SessionState): SessionOut =
    SessionOut(userId, s.startUs, s.endUs, s.n, s.cents / 100.0)

  /** Event time (ms) at which `s` closes if no later event arrives. */
  private def deadlineMs(s: SessionState, gapMinutes: Int): Long =
    s.endUs / 1000L + gapMinutes * 60L * 1000L

  /** The session fold q83 and q89 share: one user's micro-batch, in
    * (event time, event_id) order, folded into the open session (null
    * when there is none). A gap STRICTLY greater than `gapMinutes` closes
    * the open session; values accumulate as exact cents. Returns the
    * sessions the batch closed, oldest first, and the session left open.
    * Each state API keeps its own timeout or timer handling around it.
    */
  private[streaming] def foldSessions(userId: Long, open: SessionState,
      rows: Iterator[Event], gapMinutes: Int): (List[SessionOut], SessionState) = {
    val gapUs = gapMinutes * 60L * 1000000L
    def cents(v: Double): Long = math.round(v * 100.0)
    var closed = List.empty[SessionOut]
    var cur = open
    rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
      val us = micros(e.ts)
      cur = cur match {
        case null => SessionState(us, us, 1, cents(e.value))
        case s if us - s.endUs > gapUs =>
          closed ::= sessionOut(userId, s)
          SessionState(us, us, 1, cents(e.value))
        case s => SessionState(s.startUs, math.max(s.endUs, us), s.n + 1,
          s.cents + cents(e.value))
      }
    }
    (closed.reverse, cur)
  }

  /** Custom stateful sessionization with flatMapGroupsWithState — the
    * escape hatch for session semantics session_window can't express
    * (here: emit a session when 30 min of event-time silence passes,
    * tracked per user with explicit state + event-time timeout).
    */
  def statefulSessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import org.apache.spark.sql.Encoders
    implicit val stateEnc: org.apache.spark.sql.Encoder[SessionState] =
      Encoders.product[SessionState]
    implicit val outEnc: org.apache.spark.sql.Encoder[SessionOut] =
      Encoders.product[SessionOut]
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(sessionOut(userId, s))
          } else {
            val (closed, cur) =
              foldSessions(userId, state.getOption.orNull, rows, gapMinutes)
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(deadlineMs(cur, gapMinutes))
            }
            closed.iterator
          }
      }
  }

  /** Sessionization through the `transformWithState` API — Spark 4's
    * successor to flatMapGroupsWithState (named state variables, explicit
    * event-time timers, TTL support) and the API new state-heavy
    * pipelines should target. Semantics are IDENTICAL to
    * [[statefulSessionize]] — both run [[foldSessions]], and the final
    * session is flushed when the watermark passes last-event + gap — so
    * both share q83's oracle shape. REQUIRES the RocksDB state-store
    * provider ([[withRocksDBState]]): transformWithState refuses the
    * default heap-backed store.
    */
  class SessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInputRows(userId: Long, rows: Iterator[Event],
        timers: TimerValues): Iterator[SessionOut] = {
      val (closed, cur) = foldSessions(userId,
        if (state.exists()) state.get() else null, rows, gapMinutes)
      if (cur != null) {
        state.update(cur)
        // registerTimer ADDS a timer (unlike fMGWS's setTimeoutTimestamp,
        // which replaces); drop any stale deadline before arming the
        // current one so superseded timers can't accumulate
        getHandle.listTimers().toSeq.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(deadlineMs(cur, gapMinutes))
      }
      closed.iterator
    }

    override def handleExpiredTimer(userId: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!state.exists()) Iterator.empty
      else {
        val s = state.get()
        // belt-and-braces: only the CURRENT deadline may flush — a stale
        // timer racing a just-extended session must not emit it early
        if (deadlineMs(s, gapMinutes) <= expired.getExpiryTimeInMs) {
          state.clear()
          Iterator.single(sessionOut(userId, s))
        } else Iterator.empty
      }
    }
  }

  /** [[statefulSessionize]]'s semantics through [[SessionProcessor]] /
    * `transformWithState`. Run drains under [[withRocksDBState]]. */
  def twsSessionize(events: Dataset[Event],
      gapMinutes: Int = 30): Dataset[SessionOut] = {
    import org.apache.spark.sql.Encoders
    implicit val outEnc: org.apache.spark.sql.Encoder[SessionOut] =
      Encoders.product[SessionOut]
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(new SessionProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Stream-stream interval self-join: each error event joined to the
    * same user's events in the preceding `windowMinutes` of event time —
    * the streaming twin of PipelineOps.intervalJoin's matched set. Both
    * sides carry watermarks and the join condition bounds event time on
    * both ends, so Spark can size the state store and evict rows once
    * the watermark passes (an unbounded-time stream join would hold
    * state forever — the condition IS the state bound).
    */
  def errorContextJoin(events: DataFrame, windowMinutes: Int = 10,
      watermark: String = "30 minutes"): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      .withWatermark("e_ts", watermark)
    val ctx = events
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value"))
      .withWatermark("c_ts", watermark)
    errors.join(ctx,
      col("e_user") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("c_ts") < col("e_ts"))
      .select(col("event_id"), col("e_user").as("user_id"),
        col("c_ts"), col("value"))
  }

  /** Streaming upsert sink: the reference's merge job (season ∪ delta →
    * one row per key) as a foreachBatch sink, i.e. continuous ingestion
    * straight into the maintained dataset instead of a separate batch
    * merge pass. Every micro-batch is a partition-pruned MERGE via
    * [[graft.merge.MergeTable]]: the season lives as hash-bucketed
    * partition dirs and each micro-batch rewrites only the buckets its
    * keys touch, so per-batch cost is O(delta + affected partitions)
    * instead of O(season). This is the plain-parquet form of a
    * Delta/Iceberg MERGE INTO (no such jars exist in this environment);
    * swapping in a transactional format later changes only the storage
    * call, not this sink. Exactly-once end-to-end: the checkpoint replays
    * unacked batches and the merge is idempotent by key.
    *
    * The bucket count is read once, when the sink starts
    * ([[graft.merge.MergeTable.bucketsFor]] with no size estimate): an
    * existing season keeps its `_meta` layout, a new one gets the sizing
    * rule's floor (16). The sink is the season's only writer, so a
    * season created by its first batch keeps that count.
    */
  def upsertSink(delta: DataFrame, seasonPath: String, checkpoint: String,
      keys: Seq[String] = graft.merge.Merge.dedupKeys): Unit = {
    import graft.merge.MergeTable
    val nBuckets = MergeTable.bucketsFor(delta.sparkSession, seasonPath,
      estimatedTableBytes = 0L)
    val q = delta.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        MergeTable.merge(batch.toDF(), seasonPath, keys, nBuckets)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming duplicate clustering: documents arrive on a stream and the
    * maintained dataset is their cluster MEMBERSHIP — the streaming twin
    * of q58's batch clustering, in the "updating datasets" form: each
    * micro-batch folds the new docs into the existing clustering without
    * ever re-pairing the old corpus against itself.
    *
    * Per micro-batch (all equi-joins — never O(N²), never ∝ corpus²):
    *  1. LSH-index the new docs ([[graft.queries.TextOps.bandKeyTable]])
    *     and probe the accumulated band-key index — candidate pairs that
    *     touch at least one new doc, cost ∝ |new| × bucket hit rate;
    *  2. exact-jaccard verify candidates (only pair-involved docs are
    *     shingled), threshold → new edges;
    *  3. relabel ONLY the components those edges touch
    *     ([[graft.queries.ClusterOps.touchedRelabel]]);
    *  4. upsert the changed membership rows through the partition-pruned
    *     [[graft.merge.MergeTable]] MERGE — per-batch write cost
    *     ∝ affected buckets, not ∝ corpus.
    *
    * State layout under `statePath`: `docs/batch=<id>` and
    * `bandkeys/batch=<id>` (append-only, batch-addressed so a replayed
    * micro-batch OVERWRITES its own partition instead of duplicating it)
    * plus `members/` (a MergeTable). Exactly-once end-to-end: the
    * checkpoint replays unacked batches, batch-addressed appends are
    * self-repairing, and the membership merge is idempotent per key.
    *
    * State is BOUNDED: once `compactEvery` completed prior-batch
    * partitions accumulate, they fold into a single `base` segment
    * (swapped in through [[graft.merge.Swap]]), so the per-batch listing
    * + union-plan width stays ≤ base + compactEvery + 1 dirs forever
    * instead of growing one dir per micro-batch. See [[clusterBatch]] for the fold contract.
    */
  def clusterSink(newDocs: DataFrame, statePath: String, checkpoint: String,
      threshold: Double = graft.queries.ClusterOps.clusterJaccard,
      nBuckets: Int = 16, compactEvery: Int = 8): Unit = {
    val q = newDocs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        clusterBatch(batch.toDF(), id, statePath, threshold, nBuckets,
          compactEvery)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Current membership maintained by [[clusterSink]]: one
    * (doc_id, cluster_id) row per ingested doc. */
  def clusterMembership(spark: SparkSession, statePath: String): DataFrame =
    graft.merge.MergeTable.read(spark, s"$statePath/members")

  /** One micro-batch of [[clusterSink]] (single writer, like every state
    * mutation here; micro-batches are sequential by construction).
    *
    * State growth is bounded by folding: after this batch commits, any
    * `compactEvery` completed PRIOR batch partitions fold into
    * `<dir>/base` ([[maybeFold]]) and their `batch=` dirs are deleted, so
    * [[stateSegments]] always lists ≤ 1 base + compactEvery + 1 dirs.
    * The current batch's partition is never folded — a replayed batch id
    * must still be able to overwrite it ([[foldedUpto]] is therefore
    * always < the replayable id, keeping the repair contract intact).
    */
  private[graft] def clusterBatch(batch: DataFrame, batchId: Long,
      statePath: String, threshold: Double, nBuckets: Int,
      compactEvery: Int = 8): Unit = {
    import graft.queries.{ClusterOps, TextOps}
    val spark = batch.sparkSession
    val docsDir = s"$statePath/docs"
    val bkDir = s"$statePath/bandkeys"
    val membersDir = s"$statePath/members"
    val deltaDir = s"$statePath/members_delta"
    val fresh = batch.select(col("doc_id"), col("text"))
      .dropDuplicates(Seq("doc_id")).persist()
    val newBK = TextOps.bandKeyTable(fresh).persist()
    try {
      if (fresh.isEmpty) return
      val fs = new org.apache.hadoop.fs.Path(statePath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // writer-side crash recovery for a fold that died mid-swap
      recoverFold(fs, docsDir)
      recoverFold(fs, bkDir)
      val thisDelta = new org.apache.hadoop.fs.Path(s"$deltaDir/batch=$batchId")
      // Fingerprint of THIS batch's content: the replay fast path below
      // must only reuse a durable delta that was computed from the same
      // rows. Batch ids restart at 0 when a checkpoint is reset against
      // retained state — without the content check, a stale delta from
      // the previous stream incarnation would silently merge in place of
      // the new batch's data.
      def fingerprint(df: DataFrame): String = {
        val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(doc_id, text))"))
          .head()
        r.getLong(0) + ":" + (if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      val batchFp = fingerprint(fresh)
      // Incarnation guard: a checkpoint RESET against retained state makes
      // batch ids restart at 0 with different content. Proceeding would
      // overwrite (or shadow, if already folded into base) the previous
      // incarnation's docs/band keys while their membership rows persist
      // in members/ — later duplicates of those docs could never link to
      // them. Fail with the remedy instead. A matching fingerprint is a
      // genuine replay of this same batch and proceeds. A COMPLETE
      // partition with no stamp is ambiguous — crash in the write→stamp
      // window (replay, safe) or state written before stamping existed
      // (different incarnation, the exact orphaning this guard prevents) —
      // so recompute the fingerprint from the partition's own rows and
      // decide; the read costs one batch-sized scan in a case that occurs
      // at most once per crash/upgrade. Only a torn partition (no
      // _SUCCESS) proceeds unchecked: the overwrite below repairs it.
      val docPart = new org.apache.hadoop.fs.Path(s"$docsDir/batch=$batchId")
      val docStamp = new org.apache.hadoop.fs.Path(docPart, "_fingerprint")
      def incarnationError() = throw new IllegalStateException(
        s"clusterSink: batch $batchId already holds state from a different " +
          s"stream incarnation under $statePath (checkpoint reset against " +
          "retained state). Either restore the original checkpoint or " +
          "start from an empty statePath.")
      if (batchId <= foldedUpto(fs, docsDir)) incarnationError()
      val stamped = graft.merge.Swap.readText(fs, docStamp).orElse(
        if (!fs.exists(new org.apache.hadoop.fs.Path(docPart, "_SUCCESS"))) None
        else Some(fingerprint(spark.read.parquet(docPart.toString))))
      if (stamped.exists(_ != batchFp)) incarnationError()
      val fpFile = new org.apache.hadoop.fs.Path(thisDelta, "_fingerprint")
      // Replay fast path: this batch already durably CHOSE its membership
      // delta (crash after the delta write, possibly mid-way through the
      // members merge) — merge the SAME rows verbatim. Recomputing from
      // the now half-merged members table would choose a smaller delta
      // (a doc the crashed attempt already relabeled no longer looks
      // "touched", so its old cluster mates never get relabeled) and the
      // clustering would diverge from batch truth permanently.
      val deltaReady = fs.exists(new org.apache.hadoop.fs.Path(thisDelta, "_SUCCESS")) &&
        graft.merge.Swap.readText(fs, fpFile).contains(batchFp)
      if (!deltaReady) {
        val bkPrior = stateSegments(fs, bkDir, batchId)._1
        val allBK = if (bkPrior.isEmpty) newBK else newBK.unionByName(
          spark.read.parquet(bkPrior: _*)
            .select(col("doc_id"), col("band_idx"), col("band_hash")))
        // candidate pairs touching >= 1 new doc: probe new index rows
        // against the accumulated index
        val cand = newBK
          .select(col("band_idx"), col("band_hash"), col("doc_id").as("doc_x"))
          .join(allBK.select(col("band_idx"), col("band_hash"),
            col("doc_id").as("doc_y")), Seq("band_idx", "band_hash"))
          .filter(col("doc_x") =!= col("doc_y"))
          .select(least(col("doc_x"), col("doc_y")).as("doc_a"),
            greatest(col("doc_x"), col("doc_y")).as("doc_b"))
          .distinct()
        val docsPrior = stateSegments(fs, docsDir, batchId)._1
        val allDocs = if (docsPrior.isEmpty) fresh else fresh.unionByName(
          spark.read.parquet(docsPrior: _*)
            .select(col("doc_id"), col("text")))
        // materialize the verified edges once: the relabel consumes them
        // several times (endpoint roots, the CC edge set, the final outer
        // join) and each un-cached consumption would re-run the whole
        // LSH probe + shingle verify pipeline
        val newEdges = TextOps.verifyPairs(allDocs, cand)
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
          .persist()
        val oldMembers =
          if (fs.exists(new org.apache.hadoop.fs.Path(membersDir)))
            graft.merge.MergeTable.read(spark, membersDir)
          else spark.range(0)
            .select(col("id").as("doc_id"), col("id").as("cluster_id"))
        val relabel = ClusterOps.touchedRelabel(oldMembers, newEdges)
        // fresh docs with no edge at all enter as their own singleton row,
        // so the members table stays total over everything ingested
        val freshSingletons = fresh.select(col("doc_id"))
          .join(relabel, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("doc_id").as("cluster_id"))
        // Durably choose the delta BEFORE touching the members table (the
        // write is also the one materialization — the MERGE consumes the
        // delta three times and must not re-execute the relabel pipeline).
        // The batch-addressed dir makes a replayed choice overwrite itself.
        // The fingerprint is written LAST: a crash between the two writes
        // leaves the delta unstamped, so the replay recomputes it (safe —
        // the members table is untouched until the merge below).
        try {
          relabel.unionByName(freshSingletons)
            .write.mode("overwrite").parquet(thisDelta.toString)
        } finally {
          newEdges.unpersist()
          graft.ops.ConnectedComponents.release(relabel)
        }
        graft.merge.Swap.writeText(fs, fpFile, batchFp)
      }
      // shared commit tail (normal path and replay fast path): merge the
      // durable delta, record the batch's corpus + index partitions
      // (content-stamped for the incarnation guard), drop deltas no
      // replay can need, then fold accumulated prior partitions into base
      graft.merge.MergeTable.merge(
        spark.read.parquet(thisDelta.toString), membersDir,
        Seq("doc_id"), nBuckets)
      fresh.write.mode("overwrite").parquet(s"$docsDir/batch=$batchId")
      graft.merge.Swap.writeText(fs, docStamp, batchFp)
      newBK.write.mode("overwrite").parquet(s"$bkDir/batch=$batchId")
      // the checkpoint replays at most the latest unacknowledged batch,
      // so older deltas can never be needed again
      dropBatches(fs, new org.apache.hadoop.fs.Path(deltaDir), batchId)
      maybeFold(spark, fs, docsDir, batchId, compactEvery)
      maybeFold(spark, fs, bkDir, batchId, compactEvery)
    } finally {
      fresh.unpersist()
      newBK.unpersist()
    }
  }

  /** Base-segment dir name and its fold watermark file. The watermark
    * records the highest batch id folded into base; it is written INTO
    * `base.next` before the swap, so a visible base always carries it. */
  private val BaseDir = "base"
  private val FoldedUpto = "_folded_upto"

  /** Highest batch id folded into `dir`'s base segment, -1 when no base
    * exists. A base without its watermark is impossible by construction
    * (written pre-swap) — fail loudly rather than risk double-reading
    * folded batches. */
  private def foldedUpto(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Long = {
    val base = new org.apache.hadoop.fs.Path(dir, BaseDir)
    if (!fs.exists(base)) -1L
    else graft.merge.Swap.readText(fs, new org.apache.hadoop.fs.Path(base, FoldedUpto))
      .map(_.trim.toLong)
      .getOrElse(throw new IllegalStateException(
        s"clusterSink: base segment $base has no $FoldedUpto watermark"))
  }

  /** The `batch=<id>` dirs of `p` with their ids. */
  private def batchDirs(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, Long)] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch="))
      .flatMap(d => scala.util.Try(d.getName.stripPrefix("batch=").toLong)
        .toOption.map(d -> _))

  /** Delete the `batch=<id>` dirs of `p` with `id < upTo`. */
  private def dropBatches(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, upTo: Long): Unit =
    batchDirs(fs, p).foreach { case (d, id) => if (id < upTo) fs.delete(d, true) }

  /** Readable accumulated-state segments of one state dir (the base, if
    * present, and every COMPLETED prior-batch partition not yet folded
    * into it), plus those partitions with their ids, oldest first.
    * `batch=<this id>` is excluded (may be a crashed partial write — the
    * commit-tail overwrite repairs it), `_SUCCESS` gates out torn dirs,
    * and the fold watermark excludes dirs whose content already lives in
    * base (a fold crash between swap and dir deletion must not
    * double-count them).
    */
  private def stateSegments(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, batchId: Long)
      : (Seq[String], Seq[(org.apache.hadoop.fs.Path, Long)]) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val wm = foldedUpto(fs, dir)
    val priors = batchDirs(fs, p).filter { case (d, id) => id > wm &&
      id < batchId && fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")) }
      .sortBy(_._2)
    (((if (wm >= 0) Seq(new org.apache.hadoop.fs.Path(p, BaseDir)) else Nil) ++
      priors.map(_._1)).map(_.toString), priors)
  }

  /** Fold completed prior-batch partitions into the base segment once
    * `every` of them accumulate — the state-growth bound: without it the
    * per-batch listing and union-plan width grow by one dir per
    * micro-batch forever (round-5 verdict's one unbounded-growth path).
    * `base.next` replaces `base` through [[graft.merge.Swap]] (a complete
    * copy of the folded content exists on disk at every instant;
    * [[recoverFold]] repairs a crashed swap), files sized to ~128 MB like
    * compact.
    *
    * Cost: each fold rewrites base, so amortized per-batch fold cost is
    * O(corpus / every). At deployment scale, size `every` to trade
    * listing width against rewrite amplification, or layer size-tiered
    * segments on top — the watermark contract (everything ≤ wm lives in
    * base, everything > wm in its own dir) already supports either.
    */
  private def maybeFold(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dir: String, batchId: Long,
      every: Int): Unit = {
    if (every <= 0) return
    val (srcs, foldable) = stateSegments(fs, dir, batchId)
    if (foldable.size < every) return
    val next = new org.apache.hadoop.fs.Path(dir, BaseDir + ".next")
    val bytes = srcs.map(s =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(s)).getLength).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / (128L << 20)).toInt)
    spark.read.parquet(srcs: _*)
      .repartition(nFiles)
      .write.parquet(next.toString) // recoverFold dropped any stale partial
    // watermark BEFORE the swap: a visible base must always name what it
    // contains, or a crash here would double-read folded dirs
    graft.merge.Swap.writeText(fs, new org.apache.hadoop.fs.Path(next, FoldedUpto),
      foldable.map(_._2).max.toString)
    graft.merge.Swap.replace(fs, new org.apache.hadoop.fs.Path(dir, BaseDir), next)
    foldable.foreach { case (d, _) => fs.delete(d, true) }
  }

  /** Repair a fold that crashed mid-swap (writer-side,
    * [[graft.merge.Swap.recover]]): restore a base stranded in `.old`,
    * drop stale `.next` partials and completed-swap backups, and GC batch
    * dirs at or below the watermark (folded into base but not yet deleted
    * — the watermark filter already excludes them from reads; this
    * reclaims the space).
    */
  private def recoverFold(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    graft.merge.Swap.recover(fs, new org.apache.hadoop.fs.Path(p, BaseDir))
    fs.delete(new org.apache.hadoop.fs.Path(p, BaseDir + ".next"), true)
    dropBatches(fs, p, foldedUpto(fs, dir) + 1)
  }

  /** Drain a streaming frame through a parquet FILE sink (append mode)
    * and read the result back — the scale-safe drain: executors write
    * partitioned output directly, the driver never materializes a row,
    * and state stays bounded by the watermark. Pair with a
    * sentinel-closed source ([[fileEventSource]] with a horizon) so the
    * final watermark emits every real window/session before the
    * AvailableNow drain stops. `outDir`/`checkpoint` are recreated fresh
    * each call: a drain is a full recomputation, not a resume.
    */
  def drainToFile(streamed: DataFrame, outDir: String,
      checkpoint: String): DataFrame = {
    FileUtils.deleteDirectory(new java.io.File(outDir))
    FileUtils.deleteDirectory(new java.io.File(checkpoint))
    val q = streamed.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    streamed.sparkSession.read.parquet(outDir)
  }

  /** The RocksDB state-store provider bundled with the Spark 4
    * distribution (`rocksdbjni` ships in its jars). The default
    * `HDFSBackedStateStoreProvider` keeps EVERY state row on the JVM
    * heap of its executor — fine for bounded local state, a hard
    * ceiling at 100 TB where session state for millions of users, dedup
    * fingerprints for billions of keys, or a stream-stream join's
    * buffered rows must outgrow executor heap. RocksDB keeps the
    * working set in native memory + local SSD, so state capacity scales
    * with executor disk instead of heap, and changelog checkpointing
    * uploads per-batch deltas instead of full snapshots — the
    * deployment shape for every stateful query in this library
    * (q79/q80/q83–q86, `upsertSink` upstream aggs).
    */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with streaming state backed by RocksDB + changelog
    * checkpointing, restoring the previous provider after. The provider
    * is captured when a stream STARTS, so scoping it around a drain is
    * safe (same contract as the shuffle-partition scoping in
    * `StreamingQueries.withDrainPartitions`); streams already running
    * keep the provider they started with.
    */
  def withRocksDBState[A](spark: SparkSession)(body: => A): A =
    graft.GraftSession.withConf(spark,
      "spark.sql.streaming.stateStore.providerClass" -> RocksDBProvider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")(body)

  /** Drain a streaming frame to an in-memory table and return the result —
    * AvailableNow semantics, used by tests and local verification.
    *
    * TEST/VERIFICATION ONLY: the memory sink materializes the drained
    * result ON THE DRIVER (and complete mode re-materializes the whole
    * result each drain), so peak driver memory is bounded only by the
    * result size — fine for fixture/bench scale, wrong for production
    * drains. Production paths use [[drainToFile]] / [[upsertSink]] /
    * [[clusterSink]].
    */
  def drainToBatch(streamed: DataFrame, name: String,
      outputMode: String = "append"): DataFrame = {
    val q = streamed.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    streamed.sparkSession.table(name)
  }
}
