package graft

/** q79's contract: the STREAMING engine's windowed rollup (file stream →
  * watermarked window agg → AvailableNow drain) produces exactly the
  * batch q18 result — the same parity the driver's oracle gate checks at
  * sf0.01, kept here as a fast in-suite regression net.
  */
class StreamingQueriesSpec extends SparkTestBase {

  test("q79 streamed rollup equals the batch q18 rollup") {
    val streamed = queries.StreamingQueries.streamedHourlyRollup(spark, sf)
      .collect().toSeq
    val batch = queries.EventOps.hourlyRollup(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q80 streamed sessions match the batch gaps-and-islands sessions") {
    // same strict-> boundary and end = max+gap shape as q80's oracle SQL
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val batch = Tables.events(spark, sf)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800000000L, 1)
          .otherwise(0))
      .withColumn("grp",
        sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("us")).as("start_us"),
        (max(col("us")) + 1800000000L).as("session_end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("start_us"), col("session_end_us"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("start_us"))
      .collect().toSeq
    val streamed = queries.StreamingQueries.streamedSessionRollup(spark, sf)
      .collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("q79 restores the session's shuffle-partition conf after the drain") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    queries.StreamingQueries.streamedHourlyRollup(spark, sf).collect()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("q92 crash-resume: a micro-batch that routed but did not commit " +
      "replays through the quarantine route to the exact same state") {
    // The adversarial exactly-once case: foreachBatch APPLIES its merges,
    // then the query dies before the checkpoint commit. On restart the
    // batch replays — the route runs twice for the same data — and
    // key-level idempotent merges must converge to the single-route
    // state, with no row lost, duplicated, or double-quarantined.
    import spark.implicits._
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
    val wav = Multimodal.AudioCodec.encode(nSamples = 77,
      sampleRateHz = 8200, seed = 3)
    val mp4 = Multimodal.VideoCodec.encode(640, 360, nFrames = 19, seed = 4)
    val rows = (1L to 9L).map { id =>
      val (t, c) = (id % 3).toInt match {
        case 0 => ("video", mp4)
        case 1 => ("image", png)
        case _ => ("audio", wav)
      }
      val blob = if (id % 4 == 0) c.take(5) else c // ids 4, 8 corrupt
      Multimodal.MediaRow(id, t, blob)
    }
    val base = tempDir("graft-q92spec-").toString
    try {
      val mainT = s"$base/main"; val quarT = s"$base/quar"
      rows.toDS().toDF().repartitionByRange(3, col("media_id"))
        .write.parquet(s"$base/src")
      val schema = spark.read.parquet(s"$base/src").schema
      val attempts = new java.util.concurrent.atomic.AtomicInteger
      val crashed = new java.util.concurrent.atomic.AtomicBoolean
      def drain(): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            attempts.incrementAndGet()
            val stage = s"$base/dec$id"
            Multimodal.decodeMetaTotal(b.as[Multimodal.MediaRow]).toDF()
              .write.mode("overwrite").parquet(stage)
            Multimodal.quarantineRoute(spark.read.parquet(stage),
              mainT, quarT, nBuckets = 4, scratch = s"$base/sc$id")
            // die AFTER the route, BEFORE the checkpoint commit
            if (id == 1 && crashed.compareAndSet(false, true))
              throw new RuntimeException("planted crash after route")
          }
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drain()
      }
      drain() // resume from the checkpoint
      assert(attempts.get >= 4,
        "the crashed batch must have been routed twice (replay)")
      val mainIds = graft.merge.MergeTable.read(spark, mainT)
        .select("media_id").collect().map(_.getLong(0)).toSeq
      assert(mainIds.sorted == (1L to 9L).filterNot(_ % 4 == 0),
        "post-resume main table must hold each ok key exactly once")
      val quar = graft.merge.MergeTable.read(spark, quarT)
        .select("media_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(quar.sorted == Seq(4L -> "quarantined", 8L -> "quarantined"),
        "post-resume quarantine must hold each corrupt key exactly once")
    } finally scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base)))
  }

  test("q93 crash inside a REPAIR batch: a resolution that routed but " +
      "did not commit replays to the exact same resolved state") {
    // The round-14 verdict's headline gap: q92 proves replayed
    // QUARANTINING is idempotent; this proves replayed RESOLUTION is —
    // the repair batch applies its merges (main upsert + resolved
    // tombstone), dies before the checkpoint commit, and the replay
    // finds the key already 'resolved' (not 'quarantined'), so the
    // semi-join resolves nothing and the state is byte-stable.
    import spark.implicits._
    import graft.multimodal.Multimodal
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
    val wav = Multimodal.AudioCodec.encode(nSamples = 77,
      sampleRateHz = 8200, seed = 3)
    val mp4 = Multimodal.VideoCodec.encode(640, 360, nFrames = 19, seed = 4)
    def pristine(id: Long): Multimodal.MediaRow = {
      val (t, c) = (id % 3).toInt match {
        case 0 => ("video", mp4)
        case 1 => ("image", png)
        case _ => ("audio", wav)
      }
      Multimodal.MediaRow(id, t, c)
    }
    val wave1 = (1L to 9L).map { id =>
      val r = pristine(id)
      if (id % 4 == 0) r.copy(content = r.content.take(5)) else r // 4, 8
    }
    val base = tempDir("graft-q93spec-").toString
    try {
      val mainT = s"$base/main"; val quarT = s"$base/quar"
      wave1.toDS().toDF().repartitionByRange(3, col("media_id"))
        .write.parquet(s"$base/src")
      val schema = spark.read.parquet(s"$base/src").schema
      val routed = new java.util.concurrent.atomic.AtomicInteger
      val crashed = new java.util.concurrent.atomic.AtomicBoolean
      def drain(crashOnRepair: Boolean): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
          .writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            routed.incrementAndGet()
            val stage = s"$base/dec$id"
            Multimodal.decodeMetaTotal(b.as[Multimodal.MediaRow]).toDF()
              .write.mode("overwrite").parquet(stage)
            Multimodal.quarantineRoute(spark.read.parquet(stage),
              mainT, quarT, nBuckets = 4, scratch = s"$base/sc$id",
              seq = id)
            // batches 0-2 are the corruption wave; the first repair
            // batch is id 3 — die AFTER its route, BEFORE its commit
            if (crashOnRepair && id >= 3 &&
                crashed.compareAndSet(false, true))
              throw new RuntimeException("planted crash in repair batch")
          }
          .option("checkpointLocation", s"$base/cp")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      drain(crashOnRepair = false) // corruption wave commits cleanly
      // repairs arrive later: pristine blobs for exactly the corrupt keys
      Seq(pristine(4L), pristine(8L)).toDS().toDF()
        .repartitionByRange(2, col("media_id"))
        .write.mode("append").parquet(s"$base/src")
      val routedBefore = routed.get
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        drain(crashOnRepair = true)
      }
      assert(crashed.get, "crash injection never fired")
      drain(crashOnRepair = false) // resume: replay the crashed repair
      assert(routed.get - routedBefore >= 3,
        "the crashed repair batch must have been routed twice (replay)")
      val mainIds = graft.merge.MergeTable.read(spark, mainT)
        .select("media_id").collect().map(_.getLong(0)).toSeq
      assert(mainIds.sorted == (1L to 9L),
        "post-resume maintained table must be complete, each key once")
      val quar = graft.merge.MergeTable.read(spark, quarT)
        .select("media_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
      assert(quar.sorted == Seq(4L -> "resolved", 8L -> "resolved"),
        "replayed resolution must leave exactly one resolved row per key")
    } finally scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base)))
  }
}
