package graft

import graft.ingest.Ingest
import graft.merge.{Merge, MergeTable}
import graft.multimodal.Multimodal
import graft.sources.KafkaLog
import graft.tools.PipelineMain
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions.col

/** The three pipeline stages start no `chmod` or `readlink` process.
  * Hadoop's stock local filesystem forks one of those for nearly every
  * create, mkdirs, rename and link lookup when the native library is
  * absent (hundreds on these small fixtures); `graft.fs.ForkFree` does the
  * same file operations through `java.nio.file`. Process starts are read
  * from an in-process JFR recording around the stages. */
class ForkFreePipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def envelopeJson(i: Int): String =
    s"""{"game_id":"g$i","year":"2025","month":"01","day":"15",""" +
      s""""winner":"Cleveland","loser":"Boston","x":"10","y":"20",""" +
      s""""play":"1st Q, 10:0${i % 10}.0 remaining<br>Player$i made 2-pointer """ +
      s"""from $i ft<br>Cleveland leads ${2 * i}-0"}"""

  test("ingest, mergePublish and quarantine start no chmod or readlink process") {
    val dir = tempDir("graft-forkfree").toString
    // set-up, outside the recording: a 2-partition topic of two segments
    // each, the season artifact, and one blob wave with corrupt rows
    val root = s"$dir/log"
    KafkaLog.createTopic(root, "shots", 2)
    for (wave <- 0 until 2; p <- 0 until 2) KafkaLog.produce(root, "shots", p,
      (0 until 3).map(j => 12 * wave + 6 * p + j).map(i =>
        KafkaLog.Record(s"k$i", envelopeJson(i), 1700000000000L + i)))
    val season = s"$dir/shots-2025.tgz"
    Merge.publishTgz(Ingest.transform(Seq(("z0", envelopeJson(99))).toDF("key", "value")),
      s"$dir/t0", season, "shots-2025.csv")
    val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
    (1L to 6L).map { id =>
      Multimodal.MediaRow(id, "image", if (id % 3 == 0) png.take(5) else png)
    }.toDS().toDF().repartitionByRange(2, col("media_id")).write.parquet(s"$dir/blobs")

    val fileFs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fileFs.isInstanceOf[graft.fs.ForkFreeLocalFileSystem],
      s"this JVM's cached file: FileSystem is ${fileFs.getClass.getName}: " +
        "a file: FileSystem was created before the session installed graft.fs")

    val started = ProcessStarts.during {
      PipelineMain.ingest(spark, PipelineMain.parseOpts(Array(
        "--servers", root, "--topic", "shots", "--format", KafkaLog.Format,
        "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt",
        "--max-offsets", "4")))
      PipelineMain.mergePublish(spark, PipelineMain.parseOpts(Array(
        "--season", season, "--delta", s"$dir/ongoing",
        "--csv-name", "shots-2025.csv", "--tmp", s"$dir/tpub")))
      PipelineMain.quarantine(spark, PipelineMain.parseOpts(Array(
        "--blobs", s"$dir/blobs", "--main", s"$dir/meta", "--quar", s"$dir/quar",
        "--checkpoint", s"$dir/qckpt", "--buckets", "4", "--tmp", s"$dir/qtmp")))
    }
    // the stages did their work: 12 drained rows plus the season's one,
    // and the blob wave split 4 ok / 2 quarantined
    assert(Merge.readSeasonTgz(spark, season).count() == 13)
    assert(MergeTable.read(spark, s"$dir/meta").count() == 4)
    assert(MergeTable.read(spark, s"$dir/quar").count() == 2)
    val fileOps = started.filter(c => Set("chmod", "readlink")(ProcessStarts.program(c)))
    assert(fileOps.isEmpty, s"${fileOps.size} of ${started.size} process starts " +
      s"were file operations, e.g. ${fileOps.take(3).mkString("; ")}")
  }

  test("the stages start no chmod or readlink after a stock file: FileSystem was cached first") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val root = new java.net.URI("file:///")
    try {
      // what a writer on a fresh Configuration leaves in the JVM's cache
      // before any graft stage runs (perfbench's media_quarantine set-up)
      FileSystem.get(root, hadoop).close()
      val stale = FileSystem.get(root, new Configuration())
      assert(!stale.isInstanceOf[graft.fs.ForkFreeLocalFileSystem])
      val dir = tempDir("graft-forkfree-stale").toString
      val log = s"$dir/log"
      KafkaLog.createTopic(log, "shots", 2)
      for (p <- 0 until 2) KafkaLog.produce(log, "shots", p,
        (0 until 3).map(j => 6 * p + j).map(i =>
          KafkaLog.Record(s"k$i", envelopeJson(i), 1700000000000L + i)))
      val season = s"$dir/shots-2025.tgz"
      Merge.publishTgz(Ingest.transform(Seq(("z0", envelopeJson(99))).toDF("key", "value")),
        s"$dir/t0", season, "shots-2025.csv")
      val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
      (1L to 6L).map { id =>
        Multimodal.MediaRow(id, "image", if (id % 3 == 0) png.take(5) else png)
      }.toDS().toDF().repartitionByRange(2, col("media_id")).write.parquet(s"$dir/blobs")
      assert(FileSystem.get(root, hadoop) eq stale)

      val started = ProcessStarts.during {
        PipelineMain.ingest(spark, PipelineMain.parseOpts(Array(
          "--servers", log, "--topic", "shots", "--format", KafkaLog.Format,
          "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt",
          "--max-offsets", "4")))
        PipelineMain.mergePublish(spark, PipelineMain.parseOpts(Array(
          "--season", season, "--delta", s"$dir/ongoing",
          "--csv-name", "shots-2025.csv", "--tmp", s"$dir/tpub")))
        PipelineMain.quarantine(spark, PipelineMain.parseOpts(Array(
          "--blobs", s"$dir/blobs", "--main", s"$dir/meta", "--quar", s"$dir/quar",
          "--checkpoint", s"$dir/qckpt", "--buckets", "4", "--tmp", s"$dir/qtmp")))
      }
      assert(Merge.readSeasonTgz(spark, season).count() == 7)
      assert(MergeTable.read(spark, s"$dir/meta").count() == 4)
      assert(MergeTable.read(spark, s"$dir/quar").count() == 2)
      val fileOps = started.filter(c => Set("chmod", "readlink")(ProcessStarts.program(c)))
      assert(fileOps.isEmpty, s"${fileOps.size} of ${started.size} process starts " +
        s"were file operations, e.g. ${fileOps.take(3).mkString("; ")}")
    } finally {
      val cached = FileSystem.get(root, hadoop)
      if (!cached.isInstanceOf[graft.fs.ForkFreeLocalFileSystem]) cached.close()
    }
    assert(FileSystem.get(root, hadoop)
      .isInstanceOf[graft.fs.ForkFreeLocalFileSystem])
  }
}
