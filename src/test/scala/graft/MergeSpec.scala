package graft

import java.nio.file.Files

import graft.merge.Merge
import org.apache.spark.sql.functions._

/** Merge/upsert semantics (reference spark_merge_dfs.py:82-83) + the
  * tgz artifact round-trip (S3/S5).
  */
class MergeSpec extends SparkTestBase {
  import spark.implicits._

  private def season = Seq(
    ("g1", "11:30.0", "1", "old1"),
    ("g1", "10:00.0", "1", "old2"),
    ("g2", "5:00.0", "2", "old3")
  ).toDF("game_id", "time_remaining", "quarter", "payload")

  // overlaps on (g1, 11:30.0, 1); adds a new row and a new column
  private def delta = Seq(
    ("g1", "11:30.0", "1", "new1", "extra1"),
    ("g3", "2:00.0", "4", "new2", "extra2")
  ).toDF("game_id", "time_remaining", "quarter", "payload", "batch_tag")

  test("mergeDeterministic: delta wins on key collision; idempotent") {
    val m = Merge.mergeDeterministic(season, delta)
    // union-by-name null-fill + one row per key
    assert(m.columns.toSet == Set("game_id", "time_remaining", "quarter",
      "payload", "batch_tag"))
    assert(m.count() == 4)
    assert(m.groupBy("game_id", "time_remaining", "quarter").count()
      .filter(col("count") > 1).count() == 0)
    // season-only rows got a null batch_tag
    assert(m.filter(col("game_id") === "g2" && col("batch_tag").isNull).count() == 1)
    assert(m.filter(col("game_id") === "g1" && col("time_remaining") === "11:30.0")
      .select("payload").as[String].collect().toSeq == Seq("new1"))
    // re-merging the same delta changes nothing
    val m2 = Merge.mergeDeterministic(m, delta)
    assert(m2.exceptAll(m).count() == 0 && m.exceptAll(m2).count() == 0)
  }

  test("mergeDeterministic tolerates unorderable (map) payload columns") {
    import org.apache.spark.sql.functions.map
    val s = season.withColumn("props", map(lit("k"), col("payload")))
    val d = delta.withColumn("props", map(lit("k"), col("payload")))
    val m = Merge.mergeDeterministic(s, d)
    assert(m.count() == 4) // analysis succeeds; one row per key
  }

  test("tgz publish → readSeasonTgz round-trip") {
    val dir = tempDir("graft-tgz").toString
    val df = Merge.mergeDeterministic(season, delta)
    Merge.publishTgz(df, s"$dir/tmp", s"$dir/shots-2025.tgz", "shots-2025.csv")
    val back = Merge.readSeasonTgz(spark, s"$dir/shots-2025.tgz")
    assert(back.columns.sorted.toSeq == df.columns.sorted.toSeq)
    assert(back.count() == df.count())
    // all-string round trip (header=true, no inferSchema), like the reference
    assert(back.schema.fields.forall(_.dataType.typeName == "string"))
  }

  /** A gzipped tar of `members` (name → bytes), in order. */
  private def writeTgz(path: String, members: (String, Array[Byte])*): Unit = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val tar = new TarArchiveOutputStream(new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path)))
    try members.foreach { case (name, bytes) =>
      val e = new TarArchiveEntry(name)
      e.setSize(bytes.length.toLong)
      tar.putArchiveEntry(e)
      tar.write(bytes)
      tar.closeArchiveEntry()
    } finally tar.close()
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
      .sortBy(_.mkString("\u0000"))

  test("readSeasonTgz contract: malformed UTF-8 reads back U+FFFD, AppleDouble " +
      "members are skipped, CRLF parses as LF") {
    val dir = tempDir("graft-tgz-read").toString
    val csv = "game_id,time_remaining,quarter,player\ng1,11:30.0,1,Jok\nG2,5:00.0,2,Ab\n"
    val utf8 = csv.getBytes("UTF-8")
    // "Ab" becomes "A<0xFF>b": a byte that is never valid UTF-8
    val i = csv.lastIndexOf("Ab") + 1
    val malformed = utf8.take(i) ++ Array(0xFF.toByte) ++ utf8.drop(i)
    writeTgz(s"$dir/bad.tgz", "season/shots.csv" -> malformed)
    val bad = Merge.readSeasonTgz(spark, s"$dir/bad.tgz")
    assert(bad.filter(col("game_id") === "G2").select("player").as[String]
      .collect().toSeq == Seq("A\uFFFDb"))
    // a macOS AppleDouble `._` companion ahead of the real member, with a
    // .csv name of its own, must not be taken as the season
    writeTgz(s"$dir/mac.tgz",
      "season/._shots.csv" -> Array[Byte](0, 5, 22, 7, 0, 2, 0, 0),
      "season/shots.csv" -> utf8)
    val mac = Merge.readSeasonTgz(spark, s"$dir/mac.tgz")
    assert(mac.columns.toSeq == Seq("game_id", "time_remaining", "quarter", "player"))
    assert(rows(mac) == Seq(Seq("G2", "5:00.0", "2", "Ab"), Seq("g1", "11:30.0", "1", "Jok")))
    writeTgz(s"$dir/crlf.tgz", "shots.csv" -> csv.replace("\n", "\r\n").getBytes("UTF-8"))
    val crlf = Merge.readSeasonTgz(spark, s"$dir/crlf.tgz")
    assert(crlf.columns.toSeq == mac.columns.toSeq)
    assert(rows(crlf) == rows(mac))
  }

  test("readSeasonTgz keeps file order across blocks and ranges: CRLF " +
      "endings, a line longer than a block") {
    val dir = tempDir("graft-tgz-blocks").toString
    val long = "x" * (600 << 10)
    val want = (1 to 20000).map(i => Seq(s"g$i", f"$i%05d", s"${i % 4}",
      if (i == 7000) long else s"p$i"))
    val csv = ("game_id,time_remaining,quarter,payload" +: want.map(_.mkString(",")))
      .mkString("", "\r\n", "\r\n")
    writeTgz(s"$dir/big.tgz", "big.csv" -> csv.getBytes("UTF-8"))
    val back = Merge.readSeasonTgz(spark, s"$dir/big.tgz")
    assert(back.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(back.collect().map(_.toSeq.map(_.toString)).toSeq == want)
  }

  test("readSeasonTgz contract: a tgz with no .csv member fails with " +
      "FileNotFoundException") {
    val dir = tempDir("graft-tgz-nocsv").toString
    writeTgz(s"$dir/none.tgz", "README.txt" -> "no season here\n".getBytes("UTF-8"),
      "._shots.csv" -> Array[Byte](0, 5, 22, 7))
    val err = intercept[Exception] {
      Merge.readSeasonTgz(spark, s"$dir/none.tgz").count()
    }
    // thrown where the member is searched for: directly on the driver,
    // or as the cause of the failed Spark job on an executor
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => e.isInstanceOf[java.io.FileNotFoundException] &&
      e.getMessage.contains("no .csv member")), chain.mkString("\n"))
  }

  test("publishTgz is byte-identical to publishing the coalesce(1) frame, " +
      "for 1, 4 and 0 partitions and a header-only result") {
    val dir = tempDir("graft-tgz-bytes").toString
    var n = 0
    def publish(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
      n += 1
      Merge.publishTgz(df, s"$dir/tmp$n", s"$dir/out$n.tgz", "shots-2025.csv")
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/out$n.tgz"))
    }
    val merged = Merge.mergeDeterministic(season, delta)
      .orderBy(Merge.dedupKeys.map(col): _*)
    val wide = (1 to 500).map(i => (s"g${i % 7}", f"$i%05d", s"${i % 4}", s"p,$i"))
      .toDF("game_id", "time_remaining", "quarter", "payload")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      season.schema)
    assert(empty.rdd.getNumPartitions == 0)
    // range-partitioned and sorted within partitions: a fixed row order,
    // so the bytes of two publishes of the frame can be compared
    val ranged = wide.repartitionByRange(4, col("time_remaining"))
      .sortWithinPartitions("time_remaining")
    val frames = Seq(
      "1 partition" -> merged.coalesce(1),
      "4 partitions" -> ranged,
      "4 partitions, first empty" -> ranged.filter(col("time_remaining") > "00200"),
      "0 partitions" -> empty,
      "header only" -> season.filter(lit(false)).repartition(4))
    frames.foreach { case (what, df) =>
      assert(publish(df).sameElements(publish(df.coalesce(1))), what)
    }
    // the artifact still carries every row once, in the frame's order
    publish(ranged)
    val back = Merge.readSeasonTgz(spark, s"$dir/out$n.tgz")
    assert(back.select("time_remaining").as[String].collect().toSeq ==
      (1 to 500).map(i => f"$i%05d"))
    assert(back.filter(col("payload") === "p,17").count() == 1)
  }

  test("an empty day-0 publish is one header-only member, gzip and tar " +
      "headers fixed") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val dir = tempDir("graft-tgz-day0").toString
    // day 0 with an empty delta: mergePublish's bootstrap frame
    val delta0 = season.filter(lit(false))
    Merge.publishTgz(delta0.dropDuplicates(Merge.dedupKeys)
      .orderBy(Merge.dedupKeys.map(col): _*), s"$dir/tmp", s"$dir/day0.tgz", "shots-2025.csv")
    val header = season.columns.mkString(",") + "\n"
    val want = new java.io.ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(new java.util.zip.GZIPOutputStream(want))
    val e = new TarArchiveEntry("shots-2025.csv")
    e.setSize(header.length.toLong)
    e.setModTime(0L)
    tar.putArchiveEntry(e)
    tar.write(header.getBytes("UTF-8"))
    tar.closeArchiveEntry()
    tar.close()
    assert(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/day0.tgz"))
      .sameElements(want.toByteArray))
  }

  test("readSeasonTgz opens the literal path: `_` and `.` names and a `[x]` " +
      "directory read back the season's rows") {
    val dir = tempDir("graft-tgz-names").toString
    Merge.publishTgz(Merge.mergeDeterministic(season, delta)
      .orderBy(Merge.dedupKeys.map(col): _*), s"$dir/tmp", s"$dir/season.tgz", "season.csv")
    val want = rows(Merge.readSeasonTgz(spark, s"$dir/season.tgz"))
    assert(want.size == 4)
    val src = java.nio.file.Paths.get(s"$dir/season.tgz")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/a[x]"))
    Seq("_season.tgz", ".season.tgz", "a[x]/season.tgz").foreach { name =>
      Files.copy(src, java.nio.file.Paths.get(s"$dir/$name"))
      assert(rows(Merge.readSeasonTgz(spark, s"$dir/$name")) == want, name)
    }
  }

  test("day 0 picks the winner rule's variant of a duplicated key, whatever " +
      "the delta's file order") {
    import graft.tools.PipelineMain
    val dir = tempDir("graft-day0-winner").toString
    val header = "game_id,time_remaining,quarter,payload\n"
    val variants = Seq("g1,11:30.0,1,b\ng2,5:00.0,2,x\n", "g1,11:30.0,1,a\ng3,2:00.0,4,y\n")
    def publish(order: Seq[String], name: String): Array[Byte] = {
      Files.createDirectories(java.nio.file.Paths.get(s"$dir/$name"))
      order.zipWithIndex.foreach { case (rowsCsv, i) =>
        Files.write(java.nio.file.Paths.get(s"$dir/$name/part-$i.csv"),
          (header + rowsCsv).getBytes("UTF-8"))
      }
      PipelineMain.mergePublish(spark, PipelineMain.parseOpts(Array(
        "--season", s"$dir/$name.tgz", "--delta", s"$dir/$name",
        "--csv-name", "shots-2025.csv")))
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$name.tgz"))
    }
    val forward = publish(variants, "forward")
    assert(forward.sameElements(publish(variants.reverse, "reverse")))
    // the rule: no season row on day 0, so the smallest remaining columns win
    assert(rows(Merge.readSeasonTgz(spark, s"$dir/forward.tgz")) == Seq(
      Seq("g1", "11:30.0", "1", "a"), Seq("g2", "5:00.0", "2", "x"),
      Seq("g3", "2:00.0", "4", "y")))
  }

  /** Completed stages that ran an RDD named `name` while `body` ran. */
  private def stagesRunning(name: String)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val marker = s"listener-marker-${System.nanoTime()}"
    val count = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val names = e.stageInfo.rddInfos.map(_.name)
        if (names.contains(name)) count.incrementAndGet()
        if (names.contains(marker)) seen.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the bus delivers in order: once the marker's stage is seen, so
      // are all of body's
      sc.parallelize(Seq(1), 1).setName(marker).count()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
    count.get
  }

  /** Spark jobs `body` starts. */
  private def jobsStarted(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"listener-marker-${System.nanoTime()}"
    val count = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.exists(_.rddInfos.exists(_.name == marker))) seen.countDown()
        else count.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.parallelize(Seq(1), 1).setName(marker).count()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
    count.get
  }

  test("readCsv reads the header of a part file the sink log lists, without " +
      "a Spark job, and names columns as header inference does") {
    val dir = tempDir("graft-readcsv").toString
    delta.write.parquet(s"$dir/src")
    graft.ingest.Ingest.streamToCsv(
      spark.readStream.schema(delta.schema).parquet(s"$dir/src"),
      s"$dir/streamed", s"$dir/ckpt")
    // a part no log entry lists (a torn batch's leftover), first by name
    Files.writeString(java.nio.file.Paths.get(s"$dir/streamed/a-torn.csv"), "x,y\n1,2\n")
    delta.coalesce(1).write.option("header", "true").csv(s"$dir/batch")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/odd"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/odd/part-0.csv"),
      "\n\"g,id\",a,a,,b\n1,2,3,4,5\n")
    for (d <- Seq("streamed", "batch", "odd")) {
      assert(jobsStarted(Merge.readCsv(spark, s"$dir/$d")) == 0, d)
      val read = Merge.readCsv(spark, s"$dir/$d")
      val inferred = spark.read.option("header", "true").csv(s"$dir/$d")
      assert(read.schema == inferred.schema, d)
      assert(read.collect().toSet == inferred.collect().toSet, d)
    }
    assert(Merge.readCsv(spark, s"$dir/streamed").columns.toSeq == delta.columns.toSeq)
    assert(Merge.readCsv(spark, s"$dir/odd").columns.toSeq ==
      Seq("g,id", "a1", "a2", "_c3", "b"))
    // an empty dir is still read the inferring way: Spark cannot name its columns
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/empty"))
    intercept[org.apache.spark.sql.AnalysisException](Merge.readCsv(spark, s"$dir/empty"))
  }

  test("mergePublish decodes the season member once: one completed stage " +
      "runs the decode RDD") {
    import graft.tools.PipelineMain
    val dir = tempDir("graft-decode-once").toString
    val wide = (1 to 2000).map(i => (s"g${i % 7}", f"$i%05d", s"${i % 4}", s"p$i"))
      .toDF("game_id", "time_remaining", "quarter", "payload")
    Merge.publishTgz(wide.coalesce(1), s"$dir/t0", s"$dir/season.tgz", "season.csv")
    delta.write.option("header", "true").csv(s"$dir/delta")
    val stages = stagesRunning(Merge.DecodeRdd) {
      PipelineMain.mergePublish(spark, PipelineMain.parseOpts(Array(
        "--season", s"$dir/season.tgz", "--delta", s"$dir/delta")))
    }
    assert(stages == 1, s"the season member was decoded by $stages stages")
    assert(Merge.readSeasonTgz(spark, s"$dir/season.tgz").count() == 2002)
  }

  /** 500 rows whose payload needs CSV quoting, and their CSV text. */
  private def wideRows = (1 to 500).map(i => (s"g${i % 7}", f"$i%05d", s"${i % 4}", s"p,$i"))
  private def wideCsv: String = "game_id,time_remaining,quarter,payload\n" +
    wideRows.map { case (g, t, q, p) => s"""$g,$t,$q,"$p"\n""" }.mkString

  /** The single-stream tar of one entry holding `csv`. */
  private def tarOf(name: String, csv: String): Array[Byte] = {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val bytes = csv.getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    val tar = new TarArchiveOutputStream(out)
    val e = new TarArchiveEntry(name)
    e.setSize(bytes.length.toLong)
    e.setModTime(0L)
    tar.putArchiveEntry(e)
    tar.write(bytes)
    tar.closeArchiveEntry()
    tar.close()
    out.toByteArray
  }

  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(bytes)
    gz.close()
    out.toByteArray
  }

  private val chunk = 4000L

  test("chunked publish: the members gunzip to the single-stream tar, cut " +
      "at fixed offsets") {
    val dir = tempDir("graft-tgz-chunks").toString
    val wide = wideRows.toDF("game_id", "time_remaining", "quarter", "payload")
    Merge.publishTgz(wide.coalesce(1), s"$dir/tmp", s"$dir/out.tgz", "shots-2025.csv", chunk)
    val got = Files.readAllBytes(java.nio.file.Paths.get(s"$dir/out.tgz"))
    val want = tarOf("shots-2025.csv", wideCsv)
    assert(want.length > 2 * chunk, "the tar must span at least three chunks")
    assert(new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(got))
      .readAllBytes().sameElements(want))
    assert(got.sameElements(want.grouped(chunk.toInt).toSeq.flatMap(c => gzip(c).toSeq)))
  }

  test("chunked publish: the same rows publish the same bytes at 3, 5 and 1 " +
      "partitions") {
    val dir = tempDir("graft-tgz-chunk-parts").toString
    val wide = wideRows.toDF("game_id", "time_remaining", "quarter", "payload")
    def publish(name: String, df: org.apache.spark.sql.DataFrame): Array[Byte] = {
      Merge.publishTgz(df, s"$dir/tmp-$name", s"$dir/$name.tgz", "shots-2025.csv", chunk)
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$name.tgz"))
    }
    def ranged(n: Int) = wide.repartitionByRange(n, col("time_remaining"))
      .sortWithinPartitions("time_remaining")
    val one = publish("one", wide.coalesce(1))
    assert(publish("three", ranged(3)).sameElements(one))
    assert(publish("five", ranged(5)).sameElements(one))
  }

  test("chunked publish reads back through readSeasonTgz, tar -xzf and " +
      "Python's tarfile") {
    import scala.sys.process._
    val dir = tempDir("graft-tgz-chunk-read").toString
    val wide = wideRows.toDF("game_id", "time_remaining", "quarter", "payload")
    Merge.publishTgz(wide.repartitionByRange(3, col("time_remaining"))
      .sortWithinPartitions("time_remaining"), s"$dir/tmp", s"$dir/out.tgz",
      "shots-2025.csv", chunk)
    val back = Merge.readSeasonTgz(spark, s"$dir/out.tgz")
    assert(back.as[(String, String, String, String)].collect().toSeq == wideRows)
    def has(tool: String) = Seq("sh", "-c", s"command -v $tool").! (ProcessLogger(_ => ())) == 0
    assume(has("tar"), "tar is not installed")
    assume(has("python3"), "python3 is not installed")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/x"))
    assert(Seq("tar", "-xzf", s"$dir/out.tgz", "-C", s"$dir/x").! == 0)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/x/shots-2025.csv")),
      "UTF-8") == wideCsv)
    val py = "import sys, tarfile\n" +
      "t = tarfile.open(sys.argv[1])\n" +
      "sys.stdout.write(t.extractfile('shots-2025.csv').read().decode('utf-8'))\n"
    assert(Seq("python3", "-c", py, s"$dir/out.tgz").!! == wideCsv)
  }

  test("MergeTable: pruned merge equals full merge, untouched dirs untouched") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mt").toString + "/t"
    val base = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 16)
    def listing: Map[String, Set[(String, Long)]] =
      new java.io.File(path).listFiles()
        .filter(_.getName.startsWith(MergeTable.BucketCol + "="))
        .map(d => d.getName ->
          d.listFiles().map(f => (f.getName, f.lastModified())).toSet)
        .toMap
    val before = listing
    val delta = Seq((5L, "NEW5"), (6L, "NEW6"), (2000L, "NEW2000"))
      .toDF("k", "v")
    val affectedDirs = delta
      .select(pmod(xxhash64(col("k")), lit(16L)).cast("int").as("b"))
      .distinct().collect().map(r => s"${MergeTable.BucketCol}=${r.getInt(0)}")
      .toSet
    MergeTable.merge(delta, path, Seq("k"), nBuckets = 16)
    val after = listing
    // partition pruning is observable on disk: unaffected bucket dirs
    // keep their exact files
    before.foreach { case (d, files) =>
      if (!affectedDirs(d)) assert(after(d) === files, s"dir $d rewritten")
      else assert(after(d) !== files, s"dir $d NOT rewritten")
    }
    // merged content equals the unpruned reference merge
    val got = MergeTable.read(spark, path)
    val want = Merge.mergeDeterministic(base, delta, Seq("k"))
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // replaying the same delta is a no-op (checkpoint-recovery idempotence)
    MergeTable.merge(delta, path, Seq("k"), nBuckets = 16)
    val replay = MergeTable.read(spark, path)
    assert(replay.exceptAll(want).count() === 0L)
    assert(want.exceptAll(replay).count() === 0L)
  }

  test("MergeTable reads a bucket stranded in .old without mutating; merge repairs it") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtc").toString + "/t"
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 4)
    // simulate dying between the two per-dir renames: one bucket exists
    // ONLY as .old
    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(MergeTable.BucketCol + "="))
    val victim = dirs.head
    val bak = new java.io.File(victim.getParent, victim.getName + ".old")
    assert(victim.renameTo(bak))
    // reader sees the complete table via the backup and does NOT repair
    // (a mutating reader would race a live writer's swap)
    val got = MergeTable.read(spark, path)
    assert(got.exceptAll(base).count() === 0L)
    assert(base.exceptAll(got).count() === 0L)
    assert(bak.exists() && !victim.exists(), "reader must not mutate the table")
    // the single writer repairs on its next merge
    MergeTable.merge(Seq((1L, "NEW1")).toDF("k", "v"), path, Seq("k"), 4)
    assert(!bak.exists(), "merge must recover the stranded backup")
    val after = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after.size == 200 && after(1L) == "NEW1")
  }

  test("MergeTable: reader at every bucket-swap boundary sees old-or-new, never mixed") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtr").toString + "/t"
    val base = (1L to 400L).map(i => (i, s"old$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 8)
    // every key updated, so every bucket is affected and the merge walks
    // all 8 swap boundaries
    val delta = (1L to 400L).map(i => (i, s"new$i")).toDF("k", "v")
    var boundaries = 0
    MergeTable.merge(delta, path, Seq("k"), nBuckets = 8, { _ =>
      boundaries += 1
      // a fresh read between swaps: complete table, one row per key,
      // every value either the old or the new one for its key
      val seen = MergeTable.read(spark, path)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(seen.length == 400, s"reader saw ${seen.length} rows mid-merge")
      assert(seen.map(_._1).distinct.length == 400, "duplicate keys mid-merge")
      seen.foreach { case (k, v) =>
        assert(v == s"old$k" || v == s"new$k", s"mixed row for key $k: $v")
      }
    })
    assert(boundaries == 8)
    val fin = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((1L to 400L).forall(k => fin(k) == s"new$k"))
  }

  test("MergeTable: merge killed between bucket swaps recovers and converges on retry") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtk").toString + "/t"
    val base = (1L to 400L).map(i => (i, s"old$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 8)
    val delta = (1L to 400L).map(i => (i, s"new$i")).toDF("k", "v")
    val want = Merge.mergeDeterministic(base, delta, Seq("k"))
    // kill the writer after the third bucket swap
    val boom = intercept[RuntimeException] {
      MergeTable.merge(delta, path, Seq("k"), nBuckets = 8, { b =>
        if (b == 2) throw new RuntimeException("killed mid-merge")
      })
    }
    assert(boom.getMessage == "killed mid-merge")
    // the half-merged table is complete and consistent: one row per key,
    // old-or-new per key (never missing, never mixed), staging untouched
    // by readers
    val half = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(half.length == 400)
    assert(half.map(_._1).distinct.length == 400)
    half.foreach { case (k, v) => assert(v == s"old$k" || v == s"new$k") }
    assert(half.exists { case (k, v) => v == s"new$k" }, "no bucket swapped")
    assert(half.exists { case (k, v) => v == s"old$k" }, "kill did not stop merge")
    // replaying the same delta (what a checkpointed stream does after a
    // crash) converges to the fully-merged state
    MergeTable.merge(delta, path, Seq("k"), nBuckets = 8)
    val got = MergeTable.read(spark, path)
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // and leaves no crash debris
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".old")), names.mkString(","))
    assert(!new java.io.File(path + "__staging").exists())
  }

  test("randomized crash drill: merges killed at random swap points " +
      "always read consistently in the crash window and converge on " +
      "replay") {
    // Fuzz companion to the directed crash tests: a SEQUENCE of merges
    // with kills planted at random swap indices, each followed by a
    // crash-window read (every key exactly once, value entirely old or
    // entirely new — never torn, never missing) and a replay; the table
    // must track a plain driver-side delta-wins fold exactly at every
    // step. Deterministic seed; a divergence prints its (round, step).
    import graft.merge.MergeTable
    val rng = new scala.util.Random(2026)
    (1 to 2).foreach { round =>
      val nb = 2 + rng.nextInt(7)
      val path = tempDir("graft-mtfz").toString + "/t"
      var ref = (1L to 100L).map(i => i -> s"v0_$i").toMap
      MergeTable.write(ref.toSeq.toDF("k", "v"), path, Seq("k"), nb)
      (1 to 5).foreach { step =>
        val dRows = (1L to 120L).filter(_ => rng.nextInt(3) == 0)
          .map(k => k -> s"v${step}_$k")
        val delta = dRows.toDF("k", "v")
        if (dRows.nonEmpty) {
          if (rng.nextBoolean()) {
            // kill after a random swap (if the delta reaches that many
            // buckets — otherwise the merge just completes)
            val killAfter = 1 + rng.nextInt(nb)
            var c = 0
            try MergeTable.merge(delta, path, Seq("k"), nb, _ => {
              c += 1
              if (c == killAfter) throw new RuntimeException("fuzz kill")
            }) catch {
              case e: RuntimeException if e.getMessage == "fuzz kill" =>
            }
            // crash-window read: complete and consistent
            val seen = MergeTable.read(spark, path).collect()
              .map(r => r.getLong(0) -> r.getString(1))
            assert(seen.map(_._1).distinct.length == seen.length,
              s"round $round step $step: duplicate keys in crash window")
            val dMap = dRows.toMap
            val expectedKeys = ref.keySet ++ dMap.keySet
            seen.foreach { case (k, v) =>
              assert(ref.get(k).contains(v) || dMap.get(k).contains(v),
                s"round $round step $step: key $k torn value $v")
            }
            // a key can be missing from the crash window ONLY if it is
            // delta-new and its bucket had not swapped yet
            seen.map(_._1).toSet.foreach { k: Long =>
              assert(expectedKeys.contains(k)) }
            (ref.keySet -- seen.map(_._1)).foreach { k =>
              fail(s"round $round step $step: pre-existing key $k vanished")
            }
            // replay = checkpoint recovery
            MergeTable.merge(delta, path, Seq("k"), nb)
          } else MergeTable.merge(delta, path, Seq("k"), nb)
          ref = ref ++ dRows
        }
        val got = MergeTable.read(spark, path).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == ref, s"round $round step $step diverged from the " +
          "delta-wins fold")
        val names = new java.io.File(path).listFiles().map(_.getName)
        assert(!names.exists(_.endsWith(".old")),
          s"round $round step $step left crash debris")
      }
    }
  }

  test("MergeTable: _meta pins bucketing — mismatched nBuckets/keys fail loudly") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtm").toString + "/t"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 8)
    assert(new java.io.File(path, "_meta").exists(), "_meta written at creation")
    val d = Seq((1L, "NEW1")).toDF("k", "v")
    // a different nBuckets would compute different bucket assignments and
    // silently land keys in wrong dirs — must be a loud error instead
    val e1 = intercept[IllegalArgumentException] {
      MergeTable.merge(d, path, Seq("k"), nBuckets = 16)
    }
    assert(e1.getMessage.contains("nBuckets"))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.merge(d, path, Seq("v"), nBuckets = 8)
    }
    assert(e2.getMessage.contains("keys"))
    // matching params still merge, and the table stays readable
    MergeTable.merge(d, path, Seq("k"), nBuckets = 8)
    val got = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 100 && got(1L) == "NEW1")
  }

  test("MergeTable: _meta survives comma-bearing key names and names corrupt files") {
    import graft.merge.MergeTable
    // a column literally named "a,b" must round-trip as ONE key — an
    // unescaped comma-join would re-read it as two keys and fail every
    // later identical-parameter merge
    val path = tempDir("graft-mtc").toString + "/t"
    val base = (1L to 20L).map(i => (i, s"v$i")).toDF("a,b", "v")
    MergeTable.write(base, path, Seq("a,b"), nBuckets = 4)
    MergeTable.merge(Seq((1L, "NEW")).toDF("a,b", "v"), path,
      Seq("a,b"), nBuckets = 4) // same params: must NOT trip checkMeta
    assert(MergeTable.read(spark, path).collect().length == 20)
    // a truncated _meta fails with the file's path in the message, not a
    // bare NoSuchElementException
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_meta"), "nBuck".getBytes("UTF-8"))
    val boom = intercept[IllegalStateException] {
      MergeTable.merge(Seq((2L, "X")).toDF("a,b", "v"), path,
        Seq("a,b"), nBuckets = 4)
    }
    assert(boom.getMessage.contains("_meta"), boom.getMessage)
  }

  test("MergeTable.readRetrying survives a swap completing under a deferred scan") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtrr").toString + "/t"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 4)
    // strand one bucket in .old so the reader's listing chooses the backup
    val victim = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(MergeTable.BucketCol + "=")).head
    val bak = new java.io.File(victim.getParent, victim.getName + ".old")
    assert(victim.renameTo(bak))
    var attempts = 0
    val rows = MergeTable.readRetrying(spark, path) { df =>
      attempts += 1
      // the concurrent writer completes its swap AFTER read() listed but
      // BEFORE the scan executes: the chosen .old path vanishes
      if (attempts == 1) assert(bak.renameTo(victim))
      df.collect()
    }
    assert(attempts == 2, s"expected one retry, saw $attempts attempts")
    assert(rows.map(r => r.getLong(0) -> r.getString(1)).toMap ==
      (1L to 100L).map(i => i -> s"v$i").toMap)
  }

  test("crash debris is swept and invisible: a stranded .trash dir and a " +
      "torn _meta.tmp never reach readers and vanish on the next write") {
    // Swap drops a backup by renaming it to `.trash-*`, then deleting; a
    // crash between the two leaves the hidden dir. writeMeta stages to
    // `_meta.tmp` then renames; a crash leaves the tmp. Neither may be
    // visible to reads (dot-prefix / name filters) and both must be
    // cleaned by the next writer call.
    import graft.merge.MergeTable
    val path = tempDir("graft-mttrash").toString + "/t"
    val rows = (1L to 80L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(rows, path, Seq("k"), nBuckets = 4)
    // simulate the two crash leftovers
    val trash = new java.io.File(path, ".trash-__bucket=2.old-123456")
    assert(trash.mkdir())
    java.nio.file.Files.write(trash.toPath.resolve("part-stale.parquet"),
      "junk".getBytes)
    java.nio.file.Files.write(
      new java.io.File(path, "_meta.tmp").toPath, "nBuckets=".getBytes)
    // reads ignore both (table content exact, no failure)
    val got = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq == rows.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq)
    // the next writer call sweeps the hidden trash dir
    MergeTable.merge(Seq((1L, "NEW")).toDF("k", "v"), path, Seq("k"), 4)
    assert(!trash.exists, ".trash leftover must be swept by recover()")
    // _meta.tmp is simply re-staged over by the next stamp; it is never
    // read (readMeta opens `_meta` only) — prove a full rewrite clears it
    MergeTable.write(rows, path, Seq("k"), nBuckets = 4)
    assert(!new java.io.File(path, "_meta.tmp").exists)
    assert(MergeTable.read(spark, path).count() == 80L)
  }

  test("MergeTable read prefers live over a stale .old; merge drops the backup") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mts").toString + "/t"
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 4)
    // crash window: after next->live but before the backup delete — both
    // the live dir and its .old backup exist; the swap DID complete, so
    // the reader must take live (reading both would duplicate keys) and
    // must not mutate; the writer's recover drops the stale backup
    val live = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(MergeTable.BucketCol + "=")).head
    val bak = new java.io.File(live.getParent, live.getName + ".old")
    org.apache.commons.io.FileUtils.copyDirectory(live, bak)
    val got = MergeTable.read(spark, path)
    assert(got.exceptAll(base).count() === 0L)
    assert(base.exceptAll(got).count() === 0L)
    assert(bak.exists(), "reader must not mutate the table")
    MergeTable.merge(Seq((1L, "NEW1")).toDF("k", "v"), path, Seq("k"), 4)
    assert(!bak.exists(), "merge must drop the completed swap's backup")
  }

  test("MergeTable.readBuckets prunes to the requested bucket dirs and " +
      "returns a typed empty frame when none exist") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtrb").toString + "/t"
    val base = (1L to 200L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 8)
    val want = MergeTable.bucketIds(
      (1L to 10L).toDF("k"), Seq("k"), 8)
    val got = MergeTable.readBuckets(spark, path, want, Seq("k"), 8)
    // the pruned read sees every key that hashes into the chosen
    // buckets — in particular all of 1..10 — and nothing from others
    val keys = got.select("k").collect().map(_.getLong(0)).toSet
    val expected = base.filter(pmod(xxhash64(col("k")), lit(8L)).cast("int")
        .isin(want.toSeq.map(Integer.valueOf): _*))
      .select("k").collect().map(_.getLong(0)).toSet
    assert((1L to 10L).forall(keys.contains))
    assert(keys == expected)
    // scan stays pruned: fewer input files than the full table
    assert(got.inputFiles.length < MergeTable.read(spark, path)
      .inputFiles.length)
    // requesting only absent buckets yields schema, zero rows
    val empty = MergeTable.readBuckets(spark, path, Set(997), Seq("k"), 8)
    assert(empty.schema == got.schema && empty.count() == 0L)
    // bucketing is cross-checked against _meta (r15 ADVICE). The write
    // path fails loudly on a mismatch; a pruned READ with stale
    // bucketing would not fail at all — it would silently miss matching
    // rows, which is strictly worse.
    val staleN = intercept[IllegalArgumentException] {
      MergeTable.readBuckets(spark, path, want, Seq("k"), 16)
    }
    assert(staleN.getMessage.contains("silently miss"))
    val staleK = intercept[IllegalArgumentException] {
      MergeTable.readBuckets(spark, path, want, Seq("other"), 8)
    }
    assert(staleK.getMessage.contains("silently miss"))
  }

  test("single-shuffle winner selection is row-identical to " +
      "mergeDeterministic on randomized conflicted inputs") {
    // r16: MergeTable's staged rewrite moved from mergeDeterministic's
    // keys-exchange-then-bucket-repartition to the single-shuffle
    // rewritePlan form (window partitioned by (__bucket, keys) riding
    // the bucket exchange). The two must pick the SAME winner for every
    // key — delta-wins, then the full-row lexicographic tie-break —
    // under duplicate keys within and across sources, at any bucket
    // count. Deterministic-seed randomized pin, 5 rounds.
    import graft.merge.MergeTable
    val rng = new scala.util.Random(1617)
    (1 to 5).foreach { round =>
      val nKeys = 20 + rng.nextInt(60)
      val nb = 1 + rng.nextInt(8)
      def mk(src: String) = (1 to 2).flatMap { _ =>
        (1L to nKeys.toLong).filter(_ => rng.nextBoolean()).map { k =>
          (k, s"$src${rng.nextInt(3)}", rng.nextInt(100))
        }
      }
      val season = mk("s").toDF("k", "tag", "n")
      val delta = mk("d").toDF("k", "tag", "n")
      val expected = Merge.mergeDeterministic(season, delta, Seq("k"))
        .select("k", "tag", "n").orderBy("k").collect().toSeq
      val bCol = MergeTable.bucketColumn(Seq("k"), nb)
      val got = MergeTable.rewritePlan(
          season.withColumn(MergeTable.BucketCol, bCol),
          delta.withColumn(MergeTable.BucketCol, bCol), Seq("k"))
        .select("k", "tag", "n").orderBy("k").collect().toSeq
      assert(got == expected,
        s"round $round (nb=$nb): single-shuffle winners diverged from " +
          "mergeDeterministic")
    }
  }

  test("MergeTable.merge knownAffected contract: a caller-supplied " +
      "bucket set produces the identical table and return value as the " +
      "self-computed one") {
    // r16: the route derives affected-bucket sets with observe() on a
    // staging write and passes them through `knownAffected` to skip the
    // merge's own distinct-buckets job. This pins the contract both
    // ways: same final table, same returned set — and the sanctioned
    // derivation (bucketColumn over the same delta) is exactly what the
    // self-computed path does.
    import graft.merge.MergeTable
    val pathA = tempDir("graft-mtka").toString + "/t"
    val pathB = tempDir("graft-mtkb").toString + "/t"
    val seed = (1L to 120L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(seed, pathA, Seq("k"), 8)
    MergeTable.write(seed, pathB, Seq("k"), 8)
    val delta = (100L to 140L).map(i => (i, s"NEW$i")).toDF("k", "v")
    val known = delta
      .select(MergeTable.bucketColumn(Seq("k"), 8).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val retSelf = MergeTable.merge(delta, pathA, Seq("k"), 8)
    val retKnown = MergeTable.merge(delta, pathB, Seq("k"), 8, _ => (),
      knownAffected = Some(known))
    assert(retSelf == retKnown, "returned bucket sets must match")
    val a = MergeTable.read(spark, pathA).orderBy("k").collect().toSeq
    val b = MergeTable.read(spark, pathB).orderBy("k").collect().toSeq
    assert(a == b, "knownAffected merge must produce the identical table")
    // empty known set on an existing table: a zero-job no-op
    assert(MergeTable.merge(spark.emptyDataset[(Long, String)].toDF("k", "v"),
      pathB, Seq("k"), 8, _ => (), knownAffected = Some(Nil)) == Nil)
    assert(MergeTable.read(spark, pathB).orderBy("k").collect().toSeq == b)
  }

  test("MergeTable.deleteWhere retires matching rows bucket-pruned, " +
      "keeps NULL-predicate rows, and drops an all-deleted table") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtdw").toString + "/t"
    // tag: "old" (delete), "new" (keep), null (predicate NULL → keep)
    val rows = (1L to 300L).map { i =>
      (i, if (i % 3 == 0) null else if (i % 3 == 1) "old" else "new")
    }
    MergeTable.write(rows.toDF("k", "tag"), path, Seq("k"), nBuckets = 8)
    val before = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(MergeTable.BucketCol + "="))
      .map(f => f.getName -> f.lastModified).toMap
    val n = MergeTable.deleteWhere(spark, path, col("tag") === "old")
    assert(n == rows.count(_._2 == "old"))
    val left = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(left.length == 200, "null-tag rows must survive a NULL predicate")
    assert(left.forall { case (k, t) => t == "new" || t == null })
    assert(left.map(_._1).toSet == (1L to 300L).filter(_ % 3 != 1).toSet)
    // idempotent + no debris
    assert(MergeTable.deleteWhere(spark, path, col("tag") === "old") == 0L)
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".old")))
    assert(!new java.io.File(path + "__staging").exists())
    // deleting everything removes the table — absent, not zero-bucket
    assert(MergeTable.deleteWhere(spark, path,
      col("tag").isNull || col("tag") === "new") == 200L)
    assert(!new java.io.File(path).exists,
      "an all-deleted table must read as absent")
    // and deleting from an absent table is a no-op
    assert(MergeTable.deleteWhere(spark, path, lit(true)) == 0L)
  }

  test("MergeTable.deleteWhere rewrites ONLY the buckets holding " +
      "matching rows — untouched dirs keep their exact files") {
    // The pruning claim made for retention at 100 TB, proven on disk the
    // same way the merge test proves its write-side pruning: at a real
    // corruption rate the horizon-crossing tombstones live in a few
    // buckets, and a delete that rewrote every bucket would be O(table)
    // maintenance while returning the same row counts.
    import graft.merge.MergeTable
    val path = tempDir("graft-mtdwp").toString + "/t"
    // keys 1..1000; delete targets three specific keys → ≤ 3 buckets
    val base = (1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(base, path, Seq("k"), nBuckets = 16)
    def listing: Map[String, Set[(String, Long)]] =
      new java.io.File(path).listFiles()
        .filter(_.getName.startsWith(MergeTable.BucketCol + "="))
        .map(d => d.getName ->
          d.listFiles().map(f => (f.getName, f.lastModified())).toSet)
        .toMap
    val before = listing
    val victims = Seq(5L, 6L, 777L)
    val affectedDirs = victims.toDF("k")
      .select(pmod(xxhash64(col("k")), lit(16L)).cast("int").as("b"))
      .distinct().collect().map(r => s"${MergeTable.BucketCol}=${r.getInt(0)}")
      .toSet
    assert(MergeTable.deleteWhere(spark, path,
      col("k").isin(victims.map(java.lang.Long.valueOf): _*)) == 3L)
    val after = listing
    before.foreach { case (d, files) =>
      if (!affectedDirs(d)) assert(after(d) === files, s"dir $d rewritten")
      else assert(after(d) !== files, s"dir $d NOT rewritten")
    }
    assert(MergeTable.read(spark, path).count() == 997L)
  }

  test("MergeTable.deleteWhere equals a reference full rewrite across " +
      "randomized tables and predicate shapes") {
    // Deterministic-seed randomized comparison: whatever the predicate
    // matches (none, some keys, a value class, NULL-valued rows, or
    // everything), the surviving rows must equal filter(NOT coalesce(p,
    // false)) over the original data — the three-valued-logic reference.
    import graft.merge.MergeTable
    val rng = new scala.util.Random(421)
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("none", col("k") < 0),
      ("one-key", col("k") === 7L),
      ("value-class", col("tag") === "b"),
      ("null-guard", col("tag").isNull || col("k") % 5 === 0),
      ("all", lit(true)))
    preds.foreach { case (label, p) =>
      val path = tempDir(s"graft-mtdwr").toString + "/t"
      val n = 50 + rng.nextInt(200)
      val rows = (1L to n.toLong).map { i =>
        (i, rng.nextInt(4) match {
          case 0 => "a"
          case 1 => "b"
          case 2 => null
          case _ => s"x$i"
        })
      }
      val df = rows.toDF("k", "tag")
      MergeTable.write(df, path, Seq("k"), nBuckets = 1 + rng.nextInt(12))
      val want = df.filter(!coalesce(p, lit(false)))
        .collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1) // keys unique; tag can be null (unsortable)
      val wantDeleted = n - want.length
      assert(MergeTable.deleteWhere(spark, path, p) == wantDeleted.toLong,
        s"[$label] deleted count")
      val survived =
        if (new java.io.File(path).exists)
          MergeTable.read(spark, path).collect()
            .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        else Array.empty[(Long, String)]
      assert(survived.toSeq == want.toSeq, s"[$label] surviving rows")
      scala.util.Try(org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(path).getParentFile))
    }
  }

  test("concurrent-reader soak: readRetrying observes only complete keyed " +
      "snapshots while a multi-merge writer swaps, stalls and dies") {
    // r16 verdict item 2: readRetrying and the double-listing stability
    // loop were spec-pinned in isolation; this drill races two reader
    // threads against a LIVE writer doing 25 randomized merges with
    // widened swap windows and injected mid-merge kills. Per reader
    // thread, every successful read must be a complete keyed snapshot:
    //  - no duplicate keys (a torn listing mixing a bucket's live and
    //    .old copies would duplicate every key in it);
    //  - the key set is exactly the seeded set (upsert-only drill — a
    //    missing bucket would drop its keys);
    //  - per-key versions never regress across one thread's consecutive
    //    reads (the .old fallback always holds the immediately-previous
    //    version, so intra-thread monotonicity is the contract;
    //    cross-bucket mixes of versions are documented and allowed).
    import graft.merge.MergeTable
    val path = tempDir("graft-mtsoak").toString + "/t"
    val nKeys = 240L
    val rng = new scala.util.Random(1717)
    val seed = (1L to nKeys).map(i => (i, 0L)).toDF("k", "seq")
    MergeTable.write(seed, path, Seq("k"), nBuckets = 16)
    @volatile var writerDone = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readsOk = new java.util.concurrent.atomic.AtomicInteger(0)
    def readerLoop(tag: Int): Unit = {
      var lastSeen = Map.empty[Long, Long]
      while (!writerDone && failures.isEmpty) {
        try {
          val rows = MergeTable.readRetrying(spark, path, attempts = 8) {
            df => df.collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          if (rows.map(_._1).distinct.length != rows.length)
            failures.add(s"reader $tag: duplicate keys in one snapshot")
          val m = rows.toMap
          if (m.keySet != (1L to nKeys).toSet)
            failures.add(s"reader $tag: incomplete key set " +
              s"(${m.size} of $nKeys keys — torn bucket?)")
          lastSeen.foreach { case (k, s) =>
            if (m.getOrElse(k, Long.MinValue) < s)
              failures.add(s"reader $tag: key $k regressed " +
                s"${m.get(k)} < $s")
          }
          lastSeen = m
          readsOk.incrementAndGet()
        } catch { case t: Throwable =>
          failures.add(s"reader $tag died: ${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(200))
        }
      }
    }
    val readers = (1 to 2).map(i => new Thread(() => readerLoop(i)))
    readers.foreach(_.start())
    val expected = scala.collection.mutable.Map((1L to nKeys).map(_ -> 0L): _*)
    (1 to 25).foreach { i =>
      val ks = (1L to nKeys).filter(_ => rng.nextInt(3) == 0)
      if (ks.nonEmpty) {
        val delta = ks.map(k => (k, i.toLong)).toDF("k", "seq")
        val killAfter =
          if (rng.nextInt(3) == 0) Some(1 + rng.nextInt(4)) else None
        var swapped = 0
        try MergeTable.merge(delta, path, Seq("k"), 16, { _ =>
          Thread.sleep(1 + rng.nextInt(3)) // widen the swap window
          swapped += 1
          if (killAfter.contains(swapped))
            throw new RuntimeException("soak kill")
        })
        catch { case e: RuntimeException if e.getMessage == "soak kill" =>
          // writer died between bucket swaps: the table is complete and
          // consistent (contract) — re-merging the same delta converges
          MergeTable.merge(delta, path, Seq("k"), 16)
        }
        ks.foreach(k => expected(k) = i.toLong)
      }
    }
    writerDone = true
    readers.foreach(_.join(60000))
    assert(readers.forall(!_.isAlive), "reader threads must terminate")
    assert(failures.isEmpty,
      s"${failures.size} violations, first: ${failures.peek()}")
    assert(readsOk.get >= 10,
      s"soak must complete real concurrent reads (got ${readsOk.get})")
    val fin = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fin == expected.toMap, "final table must equal the merge fold")
    scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(path).getParentFile))
  }

  test("concurrent-reader soak vs deleteWhere: generation churn with " +
      "retirements never tears a snapshot") {
    // Companion to the merge soak: deleteWhere's swap loop has its own
    // two-rename dance PLUS the outright bucket-drop path (a bucket
    // whose rows all match is renamed to .old and removed, with no
    // staged replacement) — neither was reader-soaked. Fixture:
    // immortal "keep" rows pin every bucket (so a bucket never
    // legitimately vanishes) while generations of churn rows are merged
    // in and deleted two steps later. Per reader thread:
    //  - no duplicate keys;
    //  - every keep row present in every successful read (a missing
    //    one = torn bucket);
    //  - a churn key observed ABSENT never reappears (generations are
    //    deleted once, never re-added; the .old fallback only ever
    //    holds the immediately-previous state, so per-thread
    //    present -> absent is one-way).
    import graft.merge.MergeTable
    val path = tempDir("graft-mtdwsoak").toString + "/t"
    val keepRows = (1L to 150L).map(i => (i, "keep"))
    MergeTable.write(keepRows.toDF("k", "tag"), path, Seq("k"), nBuckets = 8)
    // fixture sanity: keep rows must pin all 8 buckets
    assert(keepRows.map(_._1).toDF("k")
      .select(MergeTable.bucketColumn(Seq("k"), 8)).distinct().count() == 8)
    @volatile var writerDone = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readsOk = new java.util.concurrent.atomic.AtomicInteger(0)
    def readerLoop(tag: Int): Unit = {
      var seenPresent = Set.empty[Long] // churn keys ever observed present
      var gone = Set.empty[Long] // churn keys observed absent AFTER present
      while (!writerDone && failures.isEmpty) {
        try {
          val rows = MergeTable.readRetrying(spark, path, attempts = 8) {
            df => df.collect().map(r => (r.getLong(0), r.getString(1)))
          }
          if (rows.map(_._1).distinct.length != rows.length)
            failures.add(s"reader $tag: duplicate keys in one snapshot")
          val ks = rows.map(_._1).toSet
          val missingKeep = keepRows.map(_._1).filterNot(ks)
          if (missingKeep.nonEmpty)
            failures.add(s"reader $tag: keep rows missing " +
              s"${missingKeep.take(5)} — torn bucket")
          val resurrected = gone.intersect(ks)
          if (resurrected.nonEmpty)
            failures.add(s"reader $tag: deleted keys reappeared " +
              resurrected.take(5).toString)
          // a churn key previously seen present and now absent was
          // deleted — it must stay absent (one-way transition); a key
          // never yet seen present tells us nothing
          gone ++= (seenPresent -- ks)
          seenPresent ++= ks.filter(_ >= 1000L)
          readsOk.incrementAndGet()
        } catch { case t: Throwable =>
          failures.add(s"reader $tag died: ${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(200))
        }
      }
    }
    val readers = (1 to 2).map(i => new Thread(() => readerLoop(i)))
    readers.foreach(_.start())
    (1 to 16).foreach { i =>
      val gen = (0 until 800).map(j => (1000L * i + j, s"g$i")).toDF("k", "tag")
      MergeTable.merge(gen, path, Seq("k"), 8)
      if (i >= 3) {
        val n = MergeTable.deleteWhere(spark, path, col("tag") === s"g${i - 2}")
        assert(n == 800L, s"generation ${i - 2} must retire whole, got $n")
      }
    }
    writerDone = true
    readers.foreach(_.join(60000))
    assert(readers.forall(!_.isAlive), "reader threads must terminate")
    assert(failures.isEmpty,
      s"${failures.size} violations, first: ${failures.peek()}")
    assert(readsOk.get >= 10,
      s"soak must complete real concurrent reads (got ${readsOk.get})")
    val fin = MergeTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val want = (keepRows ++ (0 until 800).flatMap(j =>
      Seq((15000L + j, "g15"), (16000L + j, "g16")))).sortBy(_._1)
    assert(fin.toSeq == want, "final table must be keep + last two generations")
    scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(path).getParentFile))
  }

  test("MergeTable.merge with a WRONG knownAffected subset fails loudly " +
      "before any swap — the live table is untouched") {
    // r16 ADVICE (medium): a delta row hashing to a bucket outside the
    // caller's knownAffected set is staged but never swapped in, then
    // discarded with staging — silent data loss unless guarded. The
    // guard must fire BEFORE the first rename, so the table still holds
    // exactly its pre-merge contents afterwards.
    import graft.merge.MergeTable
    val path = tempDir("graft-mtkg").toString + "/t"
    val seed = (1L to 120L).map(i => (i, s"v$i")).toDF("k", "v")
    MergeTable.write(seed, path, Seq("k"), nBuckets = 8)
    val before = MergeTable.read(spark, path).orderBy("k").collect().toSeq
    val delta = (100L to 160L).map(i => (i, s"NEW$i")).toDF("k", "v")
    val trueAffected = delta
      .select(MergeTable.bucketColumn(Seq("k"), 8).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted
    assert(trueAffected.size >= 2, "fixture must touch several buckets")
    val wrongSubset = trueAffected.dropRight(1) // one bucket missing
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(delta, path, Seq("k"), 8, _ => (),
        knownAffected = Some(wrongSubset))
    }
    assert(e.getMessage.contains("absent from the affected set"),
      s"guard must name the failure class, got: ${e.getMessage}")
    assert(MergeTable.read(spark, path).orderBy("k").collect().toSeq
      == before, "failed merge must leave the table byte-for-row intact")
    assert(!new java.io.File(path).listFiles()
      .exists(_.getName.endsWith(".old")), "no swap may have started")
    // the CORRECT set (or any superset) still merges fine afterwards —
    // the aborted attempt left only a staging dir, which merge clears
    assert(MergeTable.merge(delta, path, Seq("k"), 8, _ => (),
      knownAffected = Some(trueAffected)) == trueAffected)
    assert(MergeTable.read(spark, path)
      .filter(col("v").startsWith("NEW")).count() == 61L)
  }

  test("MergeTable.deleteWhere recovers a bucket stranded in .old by a " +
      "crashed writer, and its pruned read takes the .old fallback") {
    import graft.merge.MergeTable
    val path = tempDir("graft-mtdwc").toString + "/t"
    val rows = (1L to 120L).map(i => (i, if (i % 2 == 0) "del" else "keep"))
    MergeTable.write(rows.toDF("k", "tag"), path, Seq("k"), nBuckets = 4)
    // simulate the crash window a writer can leave: one bucket's swap
    // got as far as live -> .old (live dir missing, backup present)
    val live = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(MergeTable.BucketCol + "=")).head
    val bak = new java.io.File(live.getParent, live.getName + ".old")
    assert(live.renameTo(bak))
    val strandedBucket = bak.getName.stripPrefix(MergeTable.BucketCol + "=")
      .stripSuffix(".old").toInt
    // a PRUNED read targeting the stranded bucket must fall back to .old
    // without mutating (same contract as the full read)
    val pruned =
      MergeTable.readBuckets(spark, path, Set(strandedBucket), Seq("k"), 4)
    assert(pruned.count() > 0, "pruned read must see the .old fallback")
    assert(bak.exists() && !live.exists(), "reader must not repair")
    // the next WRITER (deleteWhere) recovers first, then deletes — the
    // stranded bucket's rows participate like every other bucket's
    assert(MergeTable.deleteWhere(spark, path, col("tag") === "del") == 60L)
    val left = MergeTable.read(spark, path).collect()
      .map(r => r.getLong(0)).sorted
    assert(left.toSeq == (1L to 120L).filter(_ % 2 == 1),
      "recovery + delete must converge to exactly the kept rows")
    val names = new java.io.File(path).listFiles().map(_.getName)
    assert(!names.exists(_.endsWith(".old")), "no crash debris")
  }

  test("MergeTable.suggestBuckets pins the measured 100x matrix " +
      "endpoints (16 / 256 / 1024 / 4096)") {
    // r17 BENCH_100X matrix as code (r17 verdict item 3): nBuckets =
    // tableBytes / 128 MiB, next power of two, clamped [16, 4096].
    import graft.merge.MergeTable.suggestBuckets
    val GiB = 1024L * 1024 * 1024
    // floor: MB-GB meta/quarantine tables get the confirmed 16 —
    // oversizing a small table drowns it in per-dir constants
    assert(suggestBuckets(0L) == 16)
    assert(suggestBuckets(50L * 1024 * 1024) == 16)
    assert(suggestBuckets(2 * GiB) == 16) // exactly 16 × 128 MiB
    // mid octaves: one touched dir = one rewrite task, keep ~128 MiB+
    assert(suggestBuckets(3 * GiB) == 32) // ceil, then next power of two
    assert(suggestBuckets(32 * GiB) == 256)
    assert(suggestBuckets(128 * GiB) == 1024)
    // cap: touched dirs/merge stay ≲ 1k, constants stay noise
    assert(suggestBuckets(512 * GiB) == 4096)
    assert(suggestBuckets(100L * 1000 * 1000 * 1000 * 1000) == 4096) // 100 TB
    // shape invariants over 60 octaves: monotone, power of two, clamped
    val sweep = (0 to 60).map(i => suggestBuckets(1L << i))
    assert(sweep == sweep.sorted, "rule must be monotone in table size")
    sweep.foreach(n =>
      assert(n >= 16 && n <= 4096 && Integer.bitCount(n) == 1,
        s"every suggestion a clamped power of two, got $n"))
    intercept[IllegalArgumentException](suggestBuckets(-1L))
  }

  test("MergeTable.bucketsFor: an absent table follows suggestBuckets, " +
      "an existing table's _meta wins over a disagreeing estimate") {
    import graft.merge.MergeTable
    val path = tempDir("graft-bf").toString + "/t"
    val GiB = 1024L * 1024 * 1024
    assert(MergeTable.bucketsFor(spark, path, 0L) == 16)
    assert(MergeTable.bucketsFor(spark, path, 32 * GiB) == 256)
    MergeTable.write((1L to 10L).toDF("k"), path, Seq("k"), nBuckets = 8)
    assert(MergeTable.bucketsFor(spark, path, 0L) == 8)
    // 100 TB: the rule says 4096, the persisted layout still wins
    assert(MergeTable.bucketsFor(spark, path,
      100L * 1000 * 1000 * 1000 * 1000) == 8)
  }
}
