package graft

import java.util.concurrent.atomic.AtomicReference

import graft.merge.MergeTable
import graft.multimodal.Multimodal
import graft.obs.Codegen
import graft.sources.KafkaLog
import graft.streaming.Streaming
import graft.tools.PipelineMain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/** Spark caches each generated class by (context class loader, code).
  * A stream runs in a clone of its caller's session, and with artifact
  * isolation on, each clone's tasks run under an executor class loader of
  * their own, so every run of a stream used to compile all of its classes
  * again. `Streaming.drain` starts every graft stream with isolation off
  * unless the caller set it; these cases count Janino compiles
  * ([[graft.obs.Codegen]]) around a pipeline stage that this JVM has run
  * before. */
class CodegenReuseSpec extends SparkTestBase {
  import spark.implicits._

  private val Isolation = "spark.sql.artifact.isolation.enabled"

  private def envelopeJson(i: Int): String =
    s"""{"game_id":"g$i","year":"2025","month":"01","day":"15",""" +
      s""""winner":"Cleveland","loser":"Boston","x":"10","y":"20",""" +
      s""""play":"1st Q, 10:0${i % 10}.0 remaining<br>Player$i made 2-pointer """ +
      s"""from $i ft<br>Cleveland leads ${2 * i}-0"}"""

  /** Janino compiles while `body` runs. */
  private def compiles(body: => Unit): Codegen.Count = {
    val c0 = Codegen.now
    body
    Codegen.now - c0
  }

  test("a second ingest and a second quarantine on new input compile no class") {
    val dir = tempDir("graft-codegen").toString
    val log = s"$dir/log"
    KafkaLog.createTopic(log, "shots", 2)
    def produce(day: Int): Unit = for (p <- 0 until 2) KafkaLog.produce(log, "shots", p,
      (0 until 3).map(j => 12 * day + 6 * p + j).map(i =>
        KafkaLog.Record(s"k$i", envelopeJson(i), 1700000000000L + i)))
    def ingest(): Unit = PipelineMain.ingest(spark, PipelineMain.parseOpts(Array(
      "--servers", log, "--topic", "shots", "--format", KafkaLog.Format,
      "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt", "--max-offsets", "4")))
    // one blob file per micro-batch: ids 1-6, a different third corrupt
    // in each file, so from the second file on the route also resolves
    val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
    def blobFile(k: Int): Unit = (1L to 6L).map { id =>
      Multimodal.MediaRow(id, "image", if ((id + k) % 3 == 0) png.take(5) else png)
    }.toDS().coalesce(1).write.mode("append").parquet(s"$dir/blobs")
    def quarantine(): Unit = PipelineMain.quarantine(spark, PipelineMain.parseOpts(Array(
      "--blobs", s"$dir/blobs", "--main", s"$dir/meta", "--quar", s"$dir/quar",
      "--checkpoint", s"$dir/qckpt", "--buckets", "4", "--tmp", s"$dir/qtmp")))

    produce(0)
    ingest()
    produce(1)
    val secondIngest = compiles(ingest())
    assert(spark.read.option("header", "true").csv(s"$dir/ongoing").count() == 12)

    Seq(0, 1).foreach(blobFile)
    quarantine()
    Seq(2, 3).foreach(blobFile)
    val secondQuarantine = compiles(quarantine())
    assert(MergeTable.read(spark, s"$dir/meta").count() == 6)
    assert(MergeTable.read(spark, s"$dir/quar").filter(col("status") === "quarantined")
      .count() == 2)

    assert((secondIngest.compiles, secondQuarantine.compiles) == ((0L, 0L)),
      s"the second ingest compiled ${secondIngest.compiles} classes in " +
        s"${secondIngest.ms} ms, the second quarantine ${secondQuarantine.compiles} " +
        s"in ${secondQuarantine.ms} ms")
    assert(!spark.conf.getAll.contains(Isolation))
  }

  test("a caller's explicit spark.sql.artifact.isolation.enabled is kept") {
    val dir = tempDir("graft-codegen-iso").toString
    (1 to 20).map(i => (i % 4, i)).toDF("k", "v").write.parquet(s"$dir/src")
    val seen = new AtomicReference[String]
    var runs = 0
    // one drain: the stream's own session records its setting and runs
    // one aggregation job
    def drain(): Unit = {
      runs += 1
      Streaming.drain(spark, spark.readStream.schema("k INT, v INT").parquet(s"$dir/src")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          seen.set(b.sparkSession.conf.get(Isolation))
          b.groupBy("k").sum("v").collect()
          ()
        }
        .option("checkpointLocation", s"$dir/ckpt$runs")
        .trigger(Trigger.AvailableNow()))
    }

    drain()
    assert(seen.get == "false")
    assert(compiles(drain()).compiles == 0)
    assert(!spark.conf.getAll.contains(Isolation), "the scoped setting was not restored")

    GraftSession.withConf(spark, Isolation -> "true") {
      drain()
      assert(seen.get == "true")
      assert(spark.conf.get(Isolation) == "true")
      // and it does what the rule avoids: a fresh executor class loader
      // per run, so the same job compiles again
      assert(compiles(drain()).compiles > 0)
      assert(spark.conf.get(Isolation) == "true")
    }
  }
}
