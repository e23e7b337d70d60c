package graft

import graft.streaming.Streaming
import org.apache.spark.sql.functions._

/** The stateful drains under the RocksDB state-store provider — the
  * 100 TB deployment shape ([[Streaming.RocksDBProvider]]): the default
  * HDFS-backed store holds every state row on executor heap, RocksDB
  * scales state with local disk. These tests prove (a) each stateful
  * operator class produces IDENTICAL results under both providers, and
  * (b) the RocksDB provider actually engaged (its checkpoint artifacts
  * — `.changelog`/`.zip` uploads — exist where the HDFS store writes
  * `.delta` files), so the scoping helper cannot silently no-op.
  */
class RocksDBStateSpec extends SparkTestBase {

  private def tmp(): String =
    tempDir("graft-rocksdb").toString

  private def stateFiles(cp: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(cp, "state")
    if (!java.nio.file.Files.exists(root)) Seq.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .map(_.getFileName.toString).toSeq
  }

  private def assertRocksArtifacts(cp: String): Unit = {
    val files = stateFiles(cp)
    assert(files.exists(f => f.endsWith(".changelog") || f.endsWith(".zip")),
      s"no RocksDB changelog/snapshot artifacts under $cp/state: $files")
    assert(!files.exists(_.endsWith(".delta")),
      s"HDFS-backed .delta files under $cp/state — provider did not engage")
  }

  test("merging session_window drain: RocksDB == default provider, " +
      "changelog artifacts present") {
    val dir = tmp()
    def drain(sub: String) =
      Streaming.drainToFile(
        Streaming.sessionWindowRollup(
          Streaming.fileEventSource(spark, sf, sentinelHorizonHours = 3)),
        s"$dir/$sub/out", s"$dir/$sub/cp")
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), col("n_events"),
          col("total_value"))
        .orderBy("user_id", "start_us")
        .collect().toSeq
    val default = drain("hdfs")
    val rocks = Streaming.withRocksDBState(spark) { drain("rocks") }
    assert(rocks.nonEmpty)
    assert(rocks == default)
    assertRocksArtifacts(s"$dir/rocks/cp")
  }

  test("flatMapGroupsWithState drain: RocksDB == default provider") {
    import spark.implicits._
    val dir = tmp()
    def drain(sub: String) = {
      val src = Streaming.fileEventSource(spark, sf, sentinelHorizonHours = 3)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[Streaming.Event]
      Streaming.drainToFile(Streaming.statefulSessionize(src).toDF(),
        s"$dir/$sub/out", s"$dir/$sub/cp")
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .orderBy("user_id", "start_us")
        .collect().toSeq
    }
    val default = drain("hdfs")
    val rocks = Streaming.withRocksDBState(spark) { drain("rocks") }
    assert(rocks.nonEmpty)
    assert(rocks == default)
    assertRocksArtifacts(s"$dir/rocks/cp")
  }

  test("streaming dedup drain: RocksDB == default provider") {
    val dir = tmp()
    def drain(sub: String) =
      Streaming.drainToFile(
        Streaming.dedupWithinWatermark(
          Streaming.fileEventSourceDuplicated(spark, sf), Seq("event_id")),
        s"$dir/$sub/out", s"$dir/$sub/cp")
        .orderBy("event_id")
        .collect().toSeq
    val default = drain("hdfs")
    val rocks = Streaming.withRocksDBState(spark) { drain("rocks") }
    assert(rocks.nonEmpty)
    assert(rocks == default)
    assertRocksArtifacts(s"$dir/rocks/cp")
  }

  test("transformWithState sessionizer == flatMapGroupsWithState " +
      "sessionizer (q89's API parity claim)") {
    import spark.implicits._
    val dir = tmp()
    def src = Streaming.fileEventSource(spark, sf, sentinelHorizonHours = 3)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Streaming.Event]
    val viaFmgws = Streaming.drainToFile(
        Streaming.statefulSessionize(src).toDF(),
        s"$dir/fmgws/out", s"$dir/fmgws/cp")
      .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
      .orderBy("user_id", "start_us").collect().toSeq
    val viaTws = Streaming.withRocksDBState(spark) {
      Streaming.drainToFile(
          Streaming.twsSessionize(src).toDF(),
          s"$dir/tws/out", s"$dir/tws/cp")
        .filter(col("user_id") =!= lit(Streaming.SentinelUserId))
        .orderBy("user_id", "start_us").collect().toSeq
    }
    assert(viaTws.nonEmpty)
    assert(viaTws == viaFmgws)
    assertRocksArtifacts(s"$dir/tws/cp")
  }

  test("provider conf is restored after the scope, even on failure") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    intercept[RuntimeException] {
      Streaming.withRocksDBState(spark) {
        assert(spark.conf.get(key) == Streaming.RocksDBProvider)
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.getOption(key) == before)
  }
}
