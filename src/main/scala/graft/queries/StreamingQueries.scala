package graft.queries

import graft.multimodal.Multimodal
import graft.streaming.{Stage, Streaming}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q79: the Structured Streaming surface (SURVEY.md §2.9) under the
  * DuckDB oracle gate — the streaming twin of what q78 did for the Kafka
  * source contract.
  *
  * The events fixture is read through the REAL streaming entry points:
  * `Streaming.fileEventSource` (readStream.parquet over the staged
  * fixture, shared ts normalization) → `Streaming.windowedRollup` (the
  * production watermarked window aggregate) → a `Trigger.AvailableNow`
  * drain — the reference's drain-everything-then-stop semantics
  * (`scripts/spark_processing.py:53-59` reads the whole topic as a batch;
  * here the same bounded-drain shape runs as a genuine streaming query
  * with checkpointed progress). The oracle states the identical rollup
  * over the parquet directly (q18's SQL), so a hash-match proves the
  * stream path — source staging, micro-batching, event-time windowing,
  * state store, drain — is lossless and duplicate-free, not just
  * spec-covered.
  */
object StreamingQueries {
  /** Stable per-(query, dir) drain dir under java.io.tmpdir, holding each
    * query's output/checkpoint dirs: a re-drain REPLACES the previous
    * drain's dirs instead of accumulating new ones per call (Bench alone
    * drains each streaming query 3×). Queries run one at a time within a
    * session, so name reuse never races a live query.
    */
  private def drainDir(q: String, dir: String): String =
    java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-drain-${q}_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString)
      .toString

  /** Scope `spark.sql.shuffle.partitions` to 8 around a drain. The
    * stateful agg creates one state-store instance per shuffle partition,
    * each with its own checkpoint dir, snapshot and commit files — at
    * local bench scale that per-partition constant dominates the drain
    * (measured 2.7 s → 1.3 s on q79). 8 partitions is still a
    * distributed plan (state scales out by repartitioning the checkpoint
    * at deployment); the conf is captured at stream START, so scoping it
    * around start() is safe, and it is restored before any other query
    * plans.
    */
  private[graft] def withDrainPartitions[A](spark: SparkSession)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    // AQE off for the drain's foreachBatch jobs too (streaming plans
    // disable it themselves): every per-batch job here is a BOUNDED
    // merge/stage over one micro-batch, where AQE's per-stage
    // re-planning is pure latency (~0.2 s × jobs × batches — measured
    // 9.5 → 7.6 s on the q93 shape, BUILD_NOTES R16)
    // and its payoffs (skew joins, coalescing huge shuffles) cannot
    // apply. Deployment code (PipelineMain) inherits the session conf
    // unchanged.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  /** q79: hourly event-type rollup computed BY THE STREAMING ENGINE.
    * Append output mode through a parquet file sink, like q80/q83/q84:
    * each window emits exactly once when the watermark passes its end
    * and its state evicts (complete mode — the pre-round-10 shape —
    * would re-materialize every window on the driver each drain and
    * retain all window state). The closing sentinel pushes the bounded
    * AvailableNow drain's final watermark past every real window, so
    * append mode still yields exactly the batch q18 result; the
    * sentinel's own "__sentinel" windows end past the watermark, stay
    * unemitted, and are filtered on the drained output besides.
    */
  def streamedHourlyRollup(spark: SparkSession, dir: String): DataFrame = {
    val rolled = Streaming.windowedRollup(
      Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3))
    val base = drainDir("q79", dir)
    withDrainPartitions(spark) {
      Streaming.drainToFile(rolled, s"$base/out", s"$base/cp")
        .filter(col("event_type") =!= lit("__sentinel"))
        .orderBy(col("hour"), col("event_type"))
    }
  }

  /** Same statement as q18's oracle — the two entries must never drift,
    * so the SQL is shared, not copied. */
  val streamedHourlyRollupSql: String = EventOps.hourlyRollupSql

  /** q80: the session-window STATE path under the oracle gate — q79
    * covers the tumbling-window state store; this covers the
    * merging-session store (`session_window` sessions grow and MERGE as
    * micro-batches arrive, a different state-store code path).
    *
    * APPEND output mode through a parquet FILE sink (round-9 verdict:
    * the previous complete-mode memory-sink drain materialized every
    * merged session on the driver and retained all session state
    * forever — unbounded with users×activity). Append mode emits a
    * session exactly once, when the watermark passes its end, and the
    * state store evicts it — state is bounded by the watermark, the
    * sink writes from executors, the driver holds nothing. The closing
    * sentinel ([[Streaming.fileEventSource]] with a 3 h horizon) pushes
    * the drain's final watermark past every real session so the bounded
    * AvailableNow drain still yields the COMPLETE result the oracle
    * states; the sentinel's own pseudo-session stays unemitted in state
    * and is filtered out pre-sink besides.
    *
    * Output in q19's epoch-micros shape with `session_end_us =
    * max(us) + gap` (the window end), not q19's last-event `end_us`.
    * Boundary semantics: session_window windows MERGE when they touch —
    * an event exactly `gap` after its predecessor lands on the previous
    * window's end and joins it — so a new session starts only when the
    * inter-event gap is STRICTLY greater than `gap`, the same `>`
    * boundary as q19's gaps-and-islands. (A `>=` oracle passes on every
    * SF fixture — microsecond-random data never produces an exact-gap
    * spacing — but SessionBoundaryPropertySpec's boundary-adversarial
    * generator distinguishes the two and pins the merge behavior.)
    */
  def streamedSessionRollup(spark: SparkSession, dir: String): DataFrame = {
    val rolled = Streaming.sessionWindowRollup(
      Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3),
        gap = "30 minutes")
    val base = drainDir("q80", dir)
    withDrainPartitions(spark) {
      // The sentinel filter runs on the drained BATCH output, not inside
      // the stream: a pre-sink filter on the grouping key is pushed down
      // below the watermark node by Catalyst, which would exclude the
      // sentinel from the event-time stats and stall the closing
      // watermark at real-max − delay (observed: the last sessions were
      // withheld). Post-drain it is purely defensive anyway — the
      // sentinel's own session ends past the final watermark and is
      // never emitted.
      Streaming.drainToFile(rolled, s"$base/out", s"$base/cp")
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .select(col("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("session_end_us"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("start_us"))
    }
  }

  /** q83: the CUSTOM-STATE session path (flatMapGroupsWithState +
    * event-time timeout) under the oracle gate — q80 gates the built-in
    * session_window store; this gates the hand-rolled state machine
    * ([[Streaming.statefulSessionize]]): explicit per-user state,
    * in-batch closure on strict-> gaps, timeout-driven emission of each
    * user's final session. Same closing-sentinel + append-mode file-sink
    * drain as q80: the sentinel advances the watermark past every real
    * timeout so all final sessions emit, and its own group's state is
    * simply never emitted (its timeout lies past the final watermark)
    * and is filtered on the drained output besides.
    *
    * The oracle is q19's strict-> gaps-and-islands with end = LAST EVENT
    * time (statefulSessionize reports the session's own extent; q80's
    * session_window reports end + gap) and the value summed exactly
    * (state accumulates cents — see [[Streaming.SessionState]]).
    */
  def streamedStatefulSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Streaming.Event]
    val sess = Streaming.statefulSessionize(src).toDF()
    val base = drainDir("q83", dir)
    withDrainPartitions(spark) {
      Streaming.drainToFile(sess, s"$base/out", s"$base/cp")
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .orderBy(col("user_id"), col("start_us"))
    }
  }

  val streamedStatefulSessionsSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
      |  FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |                 THEN 1 ELSE 0 END AS is_new
      |  FROM ev
      |), sess AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
      |  FROM flagged
      |)
      |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, grp
      |ORDER BY user_id, start_us""".stripMargin

  /** q89: q83's session semantics through the `transformWithState` API
    * (Spark 4's successor to flatMapGroupsWithState: named state
    * variables, explicit event-time timers — [[Streaming
    * .SessionProcessor]]), drained under the RocksDB state store the API
    * requires ([[Streaming.withRocksDBState]]). Identical oracle to q83
    * — the two state APIs must produce the same sessions — so a green
    * row here gates the NEW state API end-to-end: named ValueState,
    * timer registration/expiry, append emission, RocksDB changelog
    * checkpointing.
    */
  def streamedTwsSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Streaming.Event]
    val sess = Streaming.twsSessionize(src).toDF()
    val base = drainDir("q89", dir)
    withDrainPartitions(spark) {
      Streaming.withRocksDBState(spark) {
        Streaming.drainToFile(sess, s"$base/out", s"$base/cp")
      }
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .orderBy(col("user_id"), col("start_us"))
    }
  }

  /** q84: the SLIDING-window streaming aggregate under the oracle gate —
    * q79 gates slide == window (tumbling); this gates slide < window
    * (each event lands in window/slide = 4 overlapping windows, a
    * different state fan-out in the same store). Same closing-sentinel +
    * append-mode file-sink drain: every real window's end precedes the
    * sentinel-advanced watermark, so the bounded drain emits the
    * complete q49 result with bounded state; the sentinel's own
    * "__sentinel" windows end past the watermark, stay in state, and
    * are filtered on the drained output besides.
    */
  def streamedSlidingRollup(spark: SparkSession, dir: String): DataFrame = {
    val rolled = Streaming.windowedRollup(
      Streaming.fileEventSource(spark, dir, sentinelHorizonHours = 3),
      slide = "15 minutes")
    val base = drainDir("q84", dir)
    withDrainPartitions(spark) {
      Streaming.drainToFile(rolled, s"$base/out", s"$base/cp")
        .filter(col("event_type") =!= lit("__sentinel"))
        .select(unix_micros(col("hour")).as("window_start_us"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("window_start_us"), col("event_type"))
    }
  }

  /** Same statement as q49's oracle — shared, not copied. */
  val streamedSlidingRollupSql: String = EventOps.slidingRollupSql

  val streamedSessionRollupSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
      |      (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
      |  FROM events
      |), flagged AS (
      |  -- strict > : touching session windows merge, so an exact-gap
      |  -- spacing stays in the same session (see the Scaladoc note)
      |  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
      |                 THEN 1 ELSE 0 END AS is_new
      |  FROM ev
      |), sess AS (
      |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS grp
      |  FROM flagged
      |)
      |SELECT user_id, min(us) AS start_us,
      |  max(us) + 1800000000 AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, grp
      |ORDER BY user_id, start_us""".stripMargin

  /** q85: the STREAM-STREAM interval join under the oracle gate — each
    * error event inner-joined to the same user's events in the preceding
    * 10 minutes of event time, both sides streaming with watermarks and
    * a two-ended time bound (the condition IS the state bound: Spark
    * sizes and evicts the join state from it). Inner-join rows emit in
    * the micro-batch that matches them — no watermark gate on emission,
    * only on state cleanup — so no closing sentinel is needed; the
    * bounded drain emits the complete matched set, which the oracle
    * states as the equivalent batch self-join.
    */
  def streamedIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val joined = Streaming.errorContextJoin(
      Streaming.fileEventSource(spark, dir))
    val base = drainDir("q85", dir)
    withDrainPartitions(spark) {
      Streaming.drainToFile(joined, s"$base/out", s"$base/cp")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("c_ts")).as("ctx_us"), col("value"))
        .orderBy(col("event_id"), col("ctx_us"), col("value"))
    }
  }

  val streamedIntervalJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events
      |), err AS (
      |  SELECT event_id, user_id, us AS e_us FROM ev
      |  WHERE event_type = 'error'
      |)
      |SELECT err.event_id, err.user_id, c.us AS ctx_us, c.value
      |FROM err JOIN ev c ON c.user_id = err.user_id
      |  AND c.us >= err.e_us - 600000000 AND c.us < err.e_us
      |ORDER BY err.event_id, ctx_us, c.value""".stripMargin

  /** q86: STREAMING DEDUP (dropDuplicatesWithinWatermark) under the
    * oracle gate, on an adversarial input: the fixture staged twice
    * ([[Streaming.fileEventSourceDuplicated]]), so every event arrives
    * as a duplicate pair and the deduped drain must reproduce the
    * single-copy events table exactly — the oracle is a plain SELECT of
    * the fixture. Dedup emits each first-seen key immediately (append
    * mode, no watermark gate on emission; the watermark only bounds how
    * long a key's fingerprint is retained), so no closing sentinel is
    * needed.
    */
  def streamedDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Streaming.dedupWithinWatermark(
      Streaming.fileEventSourceDuplicated(spark, dir), Seq("event_id"))
    val base = drainDir("q86", dir)
    withDrainPartitions(spark) {
      Streaming.drainToFile(deduped, s"$base/out", s"$base/cp")
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id"))
    }
  }

  val streamedDedupSql: String =
    """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |  user_id, event_type, value, props
      |FROM events ORDER BY event_id""".stripMargin

  /** q87: the streaming UPSERT SINK under the oracle gate — the
    * reference's signature "updating datasets" operation as continuous
    * ingestion ([[Streaming.upsertSink]] → the partition-pruned
    * [[graft.merge.MergeTable]] MERGE, 16 buckets: the seed season's
    * `_meta` layout, which the sink adopts), not just spec-covered. The
    * season is seeded with three oracle-distinguishable row classes
    * before the drain:
    *
    *  - STALE overlaps (every even event_id, value := −1): delta must
    *    WIN — a surviving −1 means season-wins or no-op merge;
    *  - SEED-ONLY rows (event_id % 97 == 0, offset +100 M, value −1):
    *    must SURVIVE untouched — their loss means the sink overwrote
    *    the season instead of merging;
    *  - DELTA-ONLY rows (every odd event_id): must INSERT.
    *
    * The streamed delta is the full events fixture; the oracle states
    * the exact post-merge table (events ∪ offset seed-only rows). The
    * sink's exactly-once contract (checkpointed AvailableNow +
    * idempotent per-key merge) is what makes re-drains reproducible.
    *
    * The seed season is test fixture, not the operation under test
    * (its Spark build was about half of q87's recorded time), so it is
    * staged once per events-fixture content through
    * the drain family's one staging rule ([[Stage]]) and
    * file-copied into each call's fresh season: every call still drains
    * against its own season and checkpoint, a full recomputation, never
    * a resume.
    */
  def streamedUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = drainDir("q87", dir)
    // fresh season + checkpoint: each call is a full recomputation, and
    // a leftover checkpoint would make the new drain a no-op resume
    Streaming.rmr(base)
    val season = s"$base/season"
    copyTree(q87Seed(spark, dir), season)
    val delta = Streaming.fileEventSource(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
    withDrainPartitions(spark) {
      Streaming.upsertSink(delta, season, s"$base/cp",
        keys = Seq("event_id"))
    }
    graft.merge.MergeTable.read(spark, season).orderBy(col("event_id"))
  }

  /** q87's staged seed season: stale overlaps and offset seed-only rows,
    * as a 16-bucket MergeTable. */
  private[graft] def q87Seed(spark: SparkSession, dir: String): String =
    Stage(spark, s"$dir/events.parquet", "q87-seed") { out =>
      val ev = graft.Tables.events(spark, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"),
          col("user_id"), col("event_type"), col("value"))
      val stale = ev.filter(col("event_id") % 2 === 0)
        .withColumn("value", lit(-1.0))
      val seedOnly = ev.filter(col("event_id") % 97 === 0)
        .withColumn("event_id", col("event_id") + lit(100000000L))
        .withColumn("value", lit(-1.0))
      graft.merge.MergeTable.write(stale.unionByName(seedOnly), out,
        keys = Seq("event_id"), nBuckets = 16)
    }

  /** q92/q93's media corpus, staged through the same rule once per
    * documents-fixture content, range-partitioned into `nFiles` files: the
    * planted corruption ([[Multimodal.plantCorruption]]), or with `repair`
    * pristine blobs for exactly the corrupt keys. */
  private[graft] def blobCorpus(spark: SparkSession, dir: String, nFiles: Int,
      repair: Boolean = false): String =
    Stage(spark, s"$dir/documents.parquet",
        (if (repair) "repair" else "corrupt") + nFiles) { out =>
      val blobs = Multimodal.documentBlobs(spark, dir)
      (if (repair) blobs.filter(r => Multimodal.plantedCorrupt(r.media_id))
       else Multimodal.plantCorruption(blobs))
        .toDF().repartitionByRange(nFiles, col("media_id")).write.parquet(out)
    }

  private def copyTree(from: String, to: String): Unit = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      // REPLACE: q93's repair-wave copy lands in a src dir that already
      // holds the corruption wave's `_SUCCESS`/`._SUCCESS.crc` (the
      // part files themselves never collide — distinct per-build UUIDs)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  val streamedUpsertSql: String =
    """WITH ev AS (
      |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    user_id, event_type, value
      |  FROM events
      |)
      |SELECT event_id, us, user_id, event_type, value FROM ev
      |UNION ALL
      |SELECT event_id + 100000000, us, user_id, event_type,
      |  CAST(-1.0 AS DOUBLE) AS value
      |FROM ev WHERE event_id % 97 = 0
      |ORDER BY event_id""".stripMargin

  /** q92: the STREAMING form of q91's quarantine loop — the shape a
    * production "updating datasets" pipeline actually runs: media
    * batches (with corruption riding along, same planted `media_id % 7`
    * rule as q90/q91) arrive as a stream, and EVERY micro-batch routes
    * through the same [[Multimodal.quarantineRoute]] the batch loop
    * uses — the lazy decode plan materialized exactly once by the
    * route's normalization stage, ok rows upsert the maintained
    * bucketed MergeTable, error rows land in the keyed quarantine table,
    * all inside [[Multimodal.quarantineDrain]], the checkpointed
    * AvailableNow drain `PipelineMain quarantine` runs.
    *
    * The corpus is staged ([[blobCorpus]]) as four range-partitioned
    * files and drained one file per trigger, so the state the oracle checks is
    * the CUMULATIVE product of four independent routed micro-batches —
    * a hash match proves the incremental path converges to exactly the
    * batch cycle-1 state (no row lost, duplicated, or double-routed
    * across batch boundaries; checkpoint + key-idempotent merges give
    * exactly-once effects). Per-batch cost is O(batch + touched
    * buckets), never O(table) — q87's proportionality argument carries
    * over unchanged, with the 100× per-batch curve recorded in
    * BENCH_100X_r14.json for the batch route.
    */
  def streamedQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val base = drainDir("q92", dir)
    Streaming.rmr(base)
    val mainT = s"$base/media_meta"
    val quarT = s"$base/quarantine"
    // the stage never changes under its name, so the drain lists it as is
    withDrainPartitions(spark) {
      Multimodal.quarantineDrain(spark, blobCorpus(spark, dir, 4), mainT,
        quarT, nBuckets = 16, s"$base/cp", s"$base/scratch")
    }
    MultimodalOps.quarantineSnapshot(spark, mainT, quarT, 1)
      .drop("cycle").orderBy(col("media_type"))
  }

  val streamedQuarantineSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
      |    length(text) AS len,
      |    (doc_id % 7 = 0) AS corrupt
      |  FROM documents
      |)
      |SELECT media_type,
      |  COUNT(*) FILTER (NOT corrupt) AS main_rows,
      |  CAST(SUM(CASE WHEN NOT corrupt THEN
      |    CASE media_type WHEN 'image' THEN 32 + (len % 300)
      |         WHEN 'audio' THEN 8000 + (len % 577)
      |         ELSE 64 + (len % 577) END END) AS BIGINT) AS main_sum_width,
      |  COUNT(*) FILTER (corrupt) AS quar_active,
      |  CAST(0 AS BIGINT) AS quar_resolved
      |FROM m
      |GROUP BY media_type
      |ORDER BY media_type""".stripMargin

  /** q93: the STREAMED repair cycle — the one branch q92 leaves
    * oracle-unexercised (its oracle has `quar_resolved = 0` by
    * construction: every key appears in exactly one micro-batch and no
    * repaired blob ever arrives later). Here repairs DO arrive later,
    * across micro-batch AND query-restart boundaries — the production
    * shape: corruption lands day 1, the re-upload lands day N, and the
    * pipeline that quarantined the key is long stopped when its repair
    * flows through.
    *
    * Two waves on ONE checkpoint, each a [[Multimodal.quarantineDrain]]
    * over the staged corpora ([[blobCorpus]]) copied into one source dir:
    *  1. the full corpus with the planted `media_id % 7` corruption,
    *     3 files → an AvailableNow drain routes 3 micro-batches
    *     (batches 0–2): ok rows build the maintained table, corrupt
    *     keys land `quarantined`;
    *  2. pristine replacement blobs for EXACTLY the corrupt keys,
    *     2 more files appended to the same source dir → a second
    *     AvailableNow drain on the same checkpoint picks up only the
    *     unseen files (batches 3–4), re-decodes them clean, upserts
    *     them into the maintained table, and flips their quarantine
    *     rows to `resolved` via the bucket-pruned semi-join.
    *
    * File counts are the smallest that keep the semantics multi-batch
    * on BOTH sides of the restart (corrupt keys spread across several
    * quarantining batches; resolutions spread across several repair
    * batches) — each extra micro-batch is ~1.2 s of pure drain
    * constant at bench scale, pure overhead against what the oracle
    * can distinguish.
    *
    * The oracle predicts the final state of BOTH tables from the `% 7`
    * rule alone — maintained table complete (every key, full width sum)
    * and quarantine fully `resolved` (nonzero `quar_resolved`, exactly
    * the corrupt count per media type): q91's cycle-2 semantics, proven
    * across batch boundaries and a stop/restart. A crash planted INSIDE
    * a repair batch (after route, before checkpoint commit) is the
    * companion spec in StreamingQueriesSpec — replayed resolution must
    * be idempotent.
    */
  def streamedRepair(spark: SparkSession, dir: String): DataFrame = {
    val base = drainDir("q93", dir)
    Streaming.rmr(base)
    val mainT = s"$base/media_meta"
    val quarT = s"$base/quarantine"
    val src = s"$base/src"
    def drain(): Unit = withDrainPartitions(spark) {
      Multimodal.quarantineDrain(spark, src, mainT, quarT, nBuckets = 16,
        s"$base/cp", s"$base/scratch")
    }
    copyTree(blobCorpus(spark, dir, 3), src)
    drain() // corruption wave: batches 0–2
    // the repair wave arrives AFTER the first drain stopped — copied in
    // as new files (the repair stage's part names never collide with
    // the corruption wave's), picked up by the restarted query from the
    // same checkpoint (seen-files log skips the corruption wave's files)
    copyTree(blobCorpus(spark, dir, 2, repair = true), src)
    drain() // repair wave: batches 3–4 resolve across the restart
    MultimodalOps.quarantineSnapshot(spark, mainT, quarT, 1)
      .drop("cycle").orderBy(col("media_type"))
  }

  val streamedRepairSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
      |    length(text) AS len,
      |    (doc_id % 7 = 0) AS corrupt
      |  FROM documents
      |)
      |SELECT media_type,
      |  COUNT(*) AS main_rows,
      |  CAST(SUM(CASE media_type WHEN 'image' THEN 32 + (len % 300)
      |       WHEN 'audio' THEN 8000 + (len % 577)
      |       ELSE 64 + (len % 577) END) AS BIGINT) AS main_sum_width,
      |  CAST(0 AS BIGINT) AS quar_active,
      |  COUNT(*) FILTER (corrupt) AS quar_resolved
      |FROM m
      |GROUP BY media_type
      |ORDER BY media_type""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q93_streamed_repair" -> (streamedRepair _),
    "q92_streamed_quarantine" -> (streamedQuarantine _),
    "q79_streamed_rollup" -> (streamedHourlyRollup _),
    "q80_streamed_sessions" -> (streamedSessionRollup _),
    "q83_streamed_stateful_sessions" -> (streamedStatefulSessions _),
    "q84_streamed_sliding_rollup" -> (streamedSlidingRollup _),
    "q85_streamed_interval_join" -> (streamedIntervalJoin _),
    "q86_streamed_dedup" -> (streamedDedup _),
    "q87_streamed_upsert" -> (streamedUpsert _),
    "q89_streamed_tws_sessions" -> (streamedTwsSessions _))

  val oracle: Map[String, String] = Map(
    "q93_streamed_repair" -> streamedRepairSql,
    "q92_streamed_quarantine" -> streamedQuarantineSql,
    "q79_streamed_rollup" -> streamedHourlyRollupSql,
    "q80_streamed_sessions" -> streamedSessionRollupSql,
    "q83_streamed_stateful_sessions" -> streamedStatefulSessionsSql,
    "q84_streamed_sliding_rollup" -> streamedSlidingRollupSql,
    "q85_streamed_interval_join" -> streamedIntervalJoinSql,
    "q86_streamed_dedup" -> streamedDedupSql,
    "q87_streamed_upsert" -> streamedUpsertSql,
    "q89_streamed_tws_sessions" -> streamedStatefulSessionsSql)
}
