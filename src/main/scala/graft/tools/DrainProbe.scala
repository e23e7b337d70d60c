package graft.tools

import graft.GraftSession
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Per-stage attribution for the streaming-drain constant (r15 verdict
  * item 1: the 13 drain queries q79–q93 were ~37 s of the 92 s bench,
  * with a "~1.2 s per micro-batch" overhead class nobody had split into
  * its parts). Replicates q93's exact shape — the most drain-heavy
  * query: two AvailableNow drains on one checkpoint, 3 corruption + 2
  * repair micro-batches, full quarantine route per batch — and
  * attributes every second three ways:
  *
  *  1. WALL segments (nanoTime): fixture prep, each drain's
  *     start()→awaitTermination() span, final snapshot.
  *  2. The ENGINE's own per-trigger breakdown
  *     (StreamingQueryProgress.durationMs): addBatch (our foreachBatch
  *     body), walCommit + commitOffsets (checkpoint fsyncs), latestOffset
  *     + getBatch (source listing), queryPlanning, vs triggerExecution
  *     total — what the drain spends OUTSIDE the route.
  *  3. The route's own phase seam ([[graft.multimodal.Multimodal
  *     .quarantineRoute]] `probe`): norm_stage (decode + normalization
  *     shuffle + parquet stage), main_merge, qdelta_stage (resolved-side
  *     semi-join + stage), quar_merge, cleanup — what the route spends
  *     INSIDE addBatch.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.tools.DrainProbe [repeats]"
  * (session per [[graft.GraftSession]]; each drain is
  * [[graft.multimodal.Multimodal.quarantineDrain]] under the same
  * `StreamingQueries.withDrainPartitions` scope as the declared drains,
  * with tables sized by `MergeTable.bucketsFor`, like the CLI's). A
  * bucket-count drill runs as `PipelineMain quarantine --buckets N`.
  * Prints one JSON line per run; the BUILD_NOTES R16 attribution table
  * is transcribed from this output.
  */
object DrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = args.headOption.map(_.toInt).getOrElse(1)
    val spark = GraftSession("graft-drain-probe")

    (1 to repeats).foreach { run =>
      val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
      val probe: (String, Long) => Unit =
        (ph, ns) => phases.synchronized { phases(ph) += ns / 1e9 }
      val durations = mutable.Map[String, Double]().withDefaultValue(0.0)
      var nTriggers = 0
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          durations.synchronized {
            nTriggers += 1
            e.progress.durationMs.forEach((k, v) => durations(k) += v / 1000.0)
          }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)

      def sec(body: => Any): Double = GraftSession.cost(body).wallSec

      val base = java.nio.file.Files
        .createTempDirectory("graft-drainprobe-").toString
      val mainT = s"$base/media_meta"
      val quarT = s"$base/quarantine"
      val src = s"$base/src"
      val blobs = Multimodal.documentBlobs(spark, sfDir)
      val fixtureSec = sec {
        Multimodal.plantCorruption(blobs).toDF()
          .repartitionByRange(3, col("media_id")).write.parquet(src)
      }
      val nBuckets = graft.merge.MergeTable.bucketsFor(spark, mainT, 0L)
      def drain(): Double =
        graft.queries.StreamingQueries.withDrainPartitions(spark)(sec {
          Multimodal.quarantineDrain(spark, src, mainT, quarT, nBuckets,
            s"$base/cp", s"$base/scratch", probe = probe)
        })
      val drain1Sec = drain()
      val repairSec = sec {
        blobs.filter(r => Multimodal.plantedCorrupt(r.media_id)).toDF()
          .repartitionByRange(2, col("media_id"))
          .write.mode("append").parquet(src)
      }
      val drain2Sec = drain()
      val snapSec = sec {
        // q93's snapshot equivalent: one aggregate over each table
        graft.merge.MergeTable.read(spark, mainT)
          .groupBy("media_type").count().collect()
        graft.merge.MergeTable.read(spark, quarT)
          .groupBy("media_type", "status").count().collect()
      }
      // progress events arrive asynchronously: let late ones land
      // before removing the listener (a missing final event skews one
      // trigger's share, never the wall segments)
      GraftSession.awaitListenerQuiet(() =>
        durations.synchronized { (nTriggers, durations.values.sum) })
      spark.streams.removeListener(listener)
      val total = fixtureSec + drain1Sec + repairSec + drain2Sec + snapSec
      def m(map: mutable.Map[String, Double]): String = map.toSeq.sortBy(-_._2)
        .map { case (k, v) => f""""$k":$v%.2f""" }.mkString(",")
      val trig = durations("triggerExecution")
      val add = durations("addBatch")
      println(f"""{"probe":"drain","run":$run,"sf":"$sfDir","total":$total%.2f,""" +
        f""""fixture":$fixtureSec%.2f,"drain1":$drain1Sec%.2f,""" +
        f""""repair_fixture":$repairSec%.2f,"drain2":$drain2Sec%.2f,""" +
        f""""snapshot":$snapSec%.2f,"n_triggers":$nTriggers,""" +
        f""""outside_triggers":${drain1Sec + drain2Sec - trig}%.2f,""" +
        f""""outside_addBatch":${trig - add}%.2f,""" +
        f""""route_unattributed":${add - phases.values.sum}%.2f,""" +
        s""""durationMs":{${m(durations)}},"route":{${m(phases)}}}""")
      scala.util.Try(org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(base)))
    }
    spark.stop()
  }
}
