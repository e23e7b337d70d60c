package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}

import graft.merge.MergeTable
import graft.multimodal.Multimodal
import graft.obs.{Obs, Recorder}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerCounts
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Pins how `graft.obs` files events: by what each event carries, on the
  * thread that caused it, and not at all when no recorder is attached. */
class ObsSpec extends SparkTestBase {
  import spark.implicits._

  test("the route's overlapping chains file their jobs under their own scopes") {
    val base = tempDir("graft-obsspec-route").toString
    val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
    def batch(ids: Seq[Long], corrupt: Set[Long], p: String) = {
      Multimodal.decodeMetaTotal(ids.map(id => Multimodal.MediaRow(id, "image",
        if (corrupt(id)) png.take(5) else png)).toDS()).toDF().write.parquet(p)
      spark.read.parquet(p)
    }
    val (mainT, quarT) = (s"$base/main", s"$base/quar")
    Multimodal.quarantineRoute(batch(1L to 12L, Set(4L, 8L, 12L), s"$base/d1"),
      mainT, quarT, 4, s"$base/s1", seq = 1L)
    // both chains wait for each other at their start, so they overlap
    val bothStarted = new CyclicBarrier(2)
    val corrupt2 = Set(8L, 12L, 16L)
    val (_, layers) = Obs.record(spark) {
      Multimodal.quarantineRoute(batch(1L to 16L, corrupt2, s"$base/d2"),
        mainT, quarT, 4, s"$base/s2", seq = 2L,
        crashSeam = _ => bothStarted.await(60, TimeUnit.SECONDS))
    }
    assert(layers.keySet == Set("norm_stage", "main_merge", "main_merge.stage_write",
      "main_merge.swap", "qdelta_stage", "quar_merge", "quar_merge.stage_write",
      "quar_merge.swap", "cleanup"))
    // a staged rewrite writes every row of the buckets its delta touches:
    // counted under the wrong chain, a table's rows would not add up
    val bucket = MergeTable.bucketColumn(Seq("media_id"), 4)
    def rowsIn(table: String, keys: Seq[Long]): Long = {
      val touched = keys.toDF("media_id").select(bucket).distinct().as[Int].collect()
      MergeTable.read(spark, table).filter(bucket.isin(touched: _*)).count()
    }
    assert(layers("main_merge.stage_write")("output_records") ==
      rowsIn(mainT, (1L to 16L).filterNot(corrupt2)))
    assert(layers("quar_merge.stage_write")("output_records") ==
      rowsIn(quarT, corrupt2.toSeq :+ 4L)) // 4: resolved
    FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("a drain's progress counts in the scope that started it, after it closed") {
    val base = tempDir("graft-obsspec-drain").toString
    spark.range(0, 100).select((col("id") % 7).as("k")).repartition(2)
      .write.parquet(s"$base/src")
    // holds every progress event until the scope has closed; it was added
    // first, so the recorder's listener sees each event after it
    val closed = new CountDownLatch(1)
    val holder = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        closed.await(60, TimeUnit.SECONDS)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(holder)
    val (progress, layers) = try Obs.record(spark) {
      val q = Obs.scope("drain") {
        val q = spark.readStream.schema("k long").option("maxFilesPerTrigger", "1")
          .parquet(s"$base/src").groupBy("k").count()
          .writeStream.outputMode("update").format("noop")
          .option("checkpointLocation", s"$base/cp").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      closed.countDown()
      Obs.scope("after")(spark.range(3).count())
      q.recentProgress
    } finally spark.streams.removeListener(holder)
    assert(progress.length == 2)
    assert(layers("drain")("batches") == progress.length)
    assert(layers("drain")("state_rows_peak") == 7L)
    assert(layers("drain")("input_rows") == 100L)
    assert(!layers("after").contains("batches"))
    assert(layers("after")("exec_ns") > 0L, "the count's SQL execution was not filed")
    FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("with no recorder a scope registers nothing and sets no property") {
    val before = ListenerCounts(spark)
    Obs.scope("x") {
      assert(spark.sparkContext.getLocalProperty(Obs.ScopeKey) == null)
      assert(ListenerCounts(spark) == before)
      spark.range(3).count()
    }
    assert(ListenerCounts(spark) == before)
  }

  test("attaching twice registers each listener once") {
    val (bus, streams, executions) = ListenerCounts(spark)
    val r = new Recorder(spark)
    r.attach().attach()
    assert(ListenerCounts(spark) == ((bus + 1, streams + 1, executions)))
    r.detach()
    assert(ListenerCounts(spark) == ((bus, streams, executions)))
  }
}
