package graft

import graft.ingest.Ingest
import graft.merge.Merge
import org.apache.spark.sql.functions._

/** The reference's complete workflow as one test (SURVEY.md §3, §5.4):
  * envelope JSON → streaming transform → headered CSV delta → merge with
  * the season tgz → republish — broker-free via the file-based envelope
  * source, identical frames downstream of the source.
  */
class PipelineE2ESpec extends SparkTestBase {
  import spark.implicits._

  private def envelopeJson(gameId: String, winner: String, loser: String,
      play: String): String =
    s"""{"game_id":"$gameId","year":"2025","month":"01","day":"15",
       |"winner":"$winner","loser":"$loser","x":"10","y":"20",
       |"play":"$play"}""".stripMargin.replace("\n", "")

  test("kafka option wiring: envelope options + scale knobs set iff requested") {
    // no broker exists in this environment (and no Kafka connector jar),
    // so the option-construction seam is what's verifiable: the exact
    // map both source flavors hand to the kafka format
    val base = Ingest.kafkaOptions("b1:9092,b2:9092", "shots")
    assert(base == Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "subscribe" -> "shots",
      "startingOffsets" -> "earliest"))
    // scale knobs appear only when positive — Spark rejects
    // minPartitions=0 and maxOffsetsPerTrigger=0 outright
    val scaled = Ingest.kafkaOptions("b:9092", "shots",
      minPartitions = 64, maxOffsetsPerTrigger = 5000000L)
    assert(scaled("minPartitions") == "64")
    assert(scaled("maxOffsetsPerTrigger") == "5000000")
    assert(Ingest.kafkaOptions("b:9092", "shots", -1, -1L) == base +
      ("kafka.bootstrap.servers" -> "b:9092"))
  }

  test("ingest -> delta csv -> merge with season tgz -> republish") {
    val dir = tempDir("graft-pipe").toString

    // day-1 season: one already-known play, packaged as the tgz artifact
    val day1 = Ingest.transform(Seq(
      ("k0", envelopeJson("g1", "Cleveland", "Boston",
        "1st Q, 10:00.0 remaining<br>Donovan Mitchell made 2-pointer from 8 ft<br>Cleveland leads 2-0"))
    ).toDF("key", "value"))
    Merge.publishTgz(day1, s"$dir/t1", s"$dir/shots-2025.tgz", "shots-2025.csv")

    // day-2 scrape: replays the day-1 play (overlap window) + two new ones
    val day2Envelope = Seq(
      ("k0", envelopeJson("g1", "Cleveland", "Boston",
        "1st Q, 10:00.0 remaining<br>Donovan Mitchell made 2-pointer from 8 ft<br>Cleveland leads 2-0")),
      ("k1", envelopeJson("g1", "Cleveland", "Boston",
        "2nd Q, 5:30.0 remaining<br>Jayson Tatum missed 3-pointer from 26 ft<br>Boston trails 40-48")),
      ("k2", envelopeJson("g2", "LA Lakers", "Miami",
        "4th Q, 0:01.2 remaining<br>LeBron James made 3-pointer from 30 ft<br>LA Lakers now leads 101-99"))
    ).toDF("key", "value")
    // ingest stage writes the ongoing/ delta as headered CSV
    Ingest.writeCsv(Ingest.transform(day2Envelope), s"$dir/ongoing")

    // merge stage: season tgz + delta csv -> dedup by key -> republish
    val season = Merge.readSeasonTgz(spark, s"$dir/shots-2025.tgz")
    val delta = Merge.readCsv(spark, s"$dir/ongoing")
    val merged = Merge.mergeDeterministic(season, delta)
    Merge.publishTgz(merged, s"$dir/t2", s"$dir/shots-2025.tgz", "shots-2025.csv")

    val reread = Merge.readSeasonTgz(spark, s"$dir/shots-2025.tgz")
    assert(reread.count() == 3) // replayed row deduped, 2 new rows added
    val g2 = reread.filter($"game_id" === "g2").collect()(0)
    assert(g2.getAs[String]("team") == "LA Lakers")
    assert(g2.getAs[String]("winner_score") == "101")
    assert(g2.getAs[String]("loser_score") == "99")
    assert(g2.getAs[String]("distance") == "30ft")
    // re-running the merge with the same delta is a no-op (idempotent)
    val again = Merge.mergeDeterministic(reread, delta)
    assert(again.count() == 3)
  }

  test("full DAG equivalent with a mid-ingest crash: restart converges to the uninterrupted artifact") {
    // The reference DAG re-runs scrape -> ingest -> merge -> publish and
    // destroys the Kafka topic for progress tracking (kafka_stream_dag.py:
    // 41-45,85). Here the checkpoint replaces topic destruction: the same
    // two-stage drive is killed MID-INGEST (after batch 0 committed,
    // during batch 1), restarted from its checkpoint, and must publish a
    // season tgz BYTE-identical to an uninterrupted run's.
    val dir = tempDir("graft-pipe-k").toString
    val day1 = Seq(
      ("k0", envelopeJson("g1", "Cleveland", "Boston",
        "1st Q, 10:00.0 remaining<br>Donovan Mitchell made 2-pointer from 8 ft<br>Cleveland leads 2-0")),
      ("k1", envelopeJson("g1", "Cleveland", "Boston",
        "2nd Q, 5:30.0 remaining<br>Jayson Tatum missed 3-pointer from 26 ft<br>Boston trails 40-48")))
    val day2 = Seq(
      ("k2", envelopeJson("g2", "LA Lakers", "Miami",
        "4th Q, 0:01.2 remaining<br>LeBron James made 3-pointer from 30 ft<br>LA Lakers now leads 101-99")),
      ("k3", envelopeJson("g2", "LA Lakers", "Miami",
        "4th Q, 0:00.4 remaining<br>Jimmy Butler missed 2-pointer from 15 ft<br>Miami trails 99-101")))
    // stage each day as one source file with ordered mtimes so
    // maxFilesPerTrigger=1 delivers day 1 as batch 0, day 2 as batch 1
    val in = java.nio.file.Paths.get(dir, "in")
    java.nio.file.Files.createDirectories(in)
    Seq(day1, day2).zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$dir/stage$i"
      rows.toDF("key", "value").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = in.resolve(s"day$i.parquet")
      java.nio.file.Files.copy(part.toPath, dst)
      assert(dst.toFile.setLastModified(1700000000000L + i * 60000L))
    }
    // day-0 season artifact both runs merge into
    val season0 = s"$dir/season0.tgz"
    Merge.publishTgz(Ingest.transform(Seq(
      ("z0", envelopeJson("g0", "Utah", "Chicago",
        "3rd Q, 2:15.0 remaining<br>Lauri Markkanen made 3-pointer from 24 ft<br>Utah leads 70-60"))
    ).toDF("key", "value")), s"$dir/t0", season0, "shots-2025.csv")
    // crash injection: day-2 rows throw while the flag file exists —
    // spec-only fault injection (the product path stays UDF-free)
    val flag = new java.io.File(dir, "crashflag")
    val flagPath = flag.getAbsolutePath
    val crashOn = udf { (g: String) =>
      if (g == "g2" && new java.io.File(flagPath).exists())
        throw new RuntimeException("injected mid-ingest crash")
      true
    }
    def drive(ongoing: String, ckpt: String): Unit =
      Ingest.streamToCsv(
        Ingest.transform(spark.readStream.schema("key STRING, value STRING")
            .option("maxFilesPerTrigger", 1).parquet(in.toString))
          .filter(crashOn($"game_id")),
        s"$dir/$ongoing", s"$dir/$ckpt")
    def mergePublish(ongoing: String, tgz: String): Unit = {
      val merged = Merge.mergeDeterministic(
        Merge.readSeasonTgz(spark, season0),
        Merge.readCsv(spark, s"$dir/$ongoing"))
      Merge.publishTgz(merged.orderBy(Merge.dedupKeys.map(col): _*),
        s"$dir/t-$ongoing", s"$dir/$tgz", "shots-2025.csv")
    }
    // interrupted run: batch 0 (day 1) commits, batch 1 (day 2) crashes
    assert(flag.createNewFile())
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drive("ongoing-a", "ckpt-a")
    }
    assert(boom.getMessage.contains("injected mid-ingest crash"))
    // the committed prefix is exactly day 1 (sink log excludes the torn batch)
    assert(Merge.readCsv(spark, s"$dir/ongoing-a").count() == 2)
    // restart from the same checkpoint: only the unacked batch replays
    assert(flag.delete())
    drive("ongoing-a", "ckpt-a")
    assert(Merge.readCsv(spark, s"$dir/ongoing-a").count() == 4)
    mergePublish("ongoing-a", "season-a.tgz")
    // uninterrupted control run: fresh checkpoint, same input
    drive("ongoing-b", "ckpt-b")
    mergePublish("ongoing-b", "season-b.tgz")
    val a = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "season-a.tgz"))
    val b = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "season-b.tgz"))
    assert(a.sameElements(b),
      "restarted pipeline must publish a byte-identical season artifact")
    // and the artifact carries the full merged season
    val back = Merge.readSeasonTgz(spark, s"$dir/season-a.tgz")
    assert(back.count() == 5) // 1 day-0 + 2 day-1 + 2 day-2
    assert(back.filter($"game_id" === "g2").count() == 2)
  }

  test("reference DAG on the kafka-shaped source: produce -> drain -> csv delta -> merge -> republish, two days on one checkpoint") {
    // The complete reference workflow (SURVEY.md §3) with the INGEST leg
    // on the kafka-log DSv2 source instead of the file twin: the envelope
    // now enters through the real `Ingest.kafkaStreamSource` wiring
    // (options, offset JSON, AvailableNow snapshot), so every stage of
    // the DAG — topic → transform → ongoing/ CSV → tgz merge → publish —
    // executes with no stand-in frames anywhere.
    import graft.sources.KafkaLog
    val dir = tempDir("graft-pipe-klog").toString
    val root = s"$dir/log"
    KafkaLog.createTopic(root, "shots", 2)
    def rec(i: Int, json: String) = KafkaLog.Record(s"k$i", json, 1700000000000L + i)
    val tatumPlay =
      "2nd Q, 5:30.0 remaining<br>Jayson Tatum missed 3-pointer from 26 ft<br>Boston trails 40-48"

    // day-0 season artifact the DAG merges into
    val season = s"$dir/shots-2025.tgz"
    Merge.publishTgz(Ingest.transform(Seq(
      ("z0", envelopeJson("g0", "Utah", "Chicago",
        "3rd Q, 2:15.0 remaining<br>Lauri Markkanen made 3-pointer from 24 ft<br>Utah leads 70-60"))
    ).toDF("key", "value")), s"$dir/t0", season, "shots-2025.csv")

    // both DAG legs run through the deployable CLI entry point itself
    // (graft.tools.PipelineMain) — the same stages a spark-submit run
    // invokes, not spec-private plumbing
    import graft.tools.PipelineMain
    def drain(): Unit = PipelineMain.ingest(spark, PipelineMain.parseOpts(
      Array("--servers", root, "--topic", "shots",
        "--format", KafkaLog.Format,
        "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt")))
    def mergePublish(): Unit = PipelineMain.mergePublish(spark,
      PipelineMain.parseOpts(Array("--season", season,
        "--delta", s"$dir/ongoing",
        "--csv-name", "shots-2025.csv", "--tmp", s"$dir/tpub")))

    // day-1 scrape lands in the topic; DAG run 1
    KafkaLog.produce(root, "shots", 0, Seq(rec(0, envelopeJson("g1", "Cleveland", "Boston",
      "1st Q, 10:00.0 remaining<br>Donovan Mitchell made 2-pointer from 8 ft<br>Cleveland leads 2-0"))))
    KafkaLog.produce(root, "shots", 1, Seq(rec(1, envelopeJson("g1", "Cleveland", "Boston", tatumPlay))))
    drain(); mergePublish()
    assert(Merge.readSeasonTgz(spark, season).count() == 3)

    // day-2 scrape: a replay of the Tatum play (overlapping scrape
    // window, same dedup key) + one genuinely new play. The SAME
    // checkpoint drains exactly the delta — the offset log replaces the
    // reference DAG's destroy-and-recreate topic bookkeeping
    // (dags/kafka_stream_dag.py:41-45).
    KafkaLog.produce(root, "shots", 0, Seq(
      rec(2, envelopeJson("g1", "Cleveland", "Boston", tatumPlay)),
      rec(3, envelopeJson("g2", "LA Lakers", "Miami",
        "4th Q, 0:01.2 remaining<br>LeBron James made 3-pointer from 30 ft<br>LA Lakers now leads 101-99"))))
    drain(); mergePublish()
    val back = Merge.readSeasonTgz(spark, season)
    assert(back.count() == 4, "replayed play must dedup, new play must land")
    val g2 = back.filter($"game_id" === "g2").collect()(0)
    assert(g2.getAs[String]("team") == "LA Lakers")
    assert(g2.getAs[String]("winner_score") == "101")
    assert(g2.getAs[String]("loser_score") == "99")

    // DAG run 3 with nothing new in the topic: drain is empty, merge is
    // idempotent — the season artifact is unchanged
    drain(); mergePublish()
    assert(Merge.readSeasonTgz(spark, season).count() == 4)
  }

  test("PipelineMain `run`: one command from fixture topic to season tgz") {
    // the CLI contract itself: argv in, season artifact out — including
    // the day-0 bootstrap branch (no season tgz exists yet). main()'s
    // getOrCreate resolves to the suite's session in-JVM; under
    // spark-submit it builds the cluster session the same way.
    import graft.sources.KafkaLog
    import graft.tools.PipelineMain
    val dir = tempDir("graft-pipe-cli").toString
    val root = s"$dir/log"
    KafkaLog.createTopic(root, "shots", 1)
    KafkaLog.produce(root, "shots", 0, Seq(
      KafkaLog.Record("k0", envelopeJson("g1", "Cleveland", "Boston",
        "1st Q, 10:00.0 remaining<br>Donovan Mitchell made 2-pointer from 8 ft<br>Cleveland leads 2-0"),
        1700000000000L),
      KafkaLog.Record("k1", envelopeJson("g2", "LA Lakers", "Miami",
        "4th Q, 0:01.2 remaining<br>LeBron James made 3-pointer from 30 ft<br>LA Lakers now leads 101-99"),
        1700000001000L)))
    PipelineMain.main(Array("run",
      "--servers", root, "--topic", "shots", "--format", KafkaLog.Format,
      "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt",
      "--season", s"$dir/shots-2025.tgz", "--delta", s"$dir/ongoing"))
    val season = Merge.readSeasonTgz(spark, s"$dir/shots-2025.tgz")
    assert(season.count() == 2)
    assert(season.filter($"game_id" === "g2")
      .select("winner_score").as[String].collect()(0) == "101")
    // second run with nothing new: empty incremental drain, idempotent
    // merge — the artifact still carries the full season
    PipelineMain.main(Array("run",
      "--servers", root, "--topic", "shots", "--format", KafkaLog.Format,
      "--out", s"$dir/ongoing", "--checkpoint", s"$dir/ckpt",
      "--season", s"$dir/shots-2025.tgz", "--delta", s"$dir/ongoing"))
    assert(Merge.readSeasonTgz(spark, s"$dir/shots-2025.tgz").count() == 2)
  }

  test("PipelineMain rejects a flag its command does not read, before " +
      "touching the season") {
    // merge publishes over --season when --publish is absent, so a
    // misspelled --publish must fail rather than republish in place
    import graft.tools.PipelineMain
    val dir = tempDir("graft-pipe-flag").toString
    val tgz = s"$dir/shots-2025.tgz"
    Merge.publishTgz(Ingest.transform(Seq(("k0", envelopeJson("g1",
      "Cleveland", "Boston", "1st Q, 10:00.0 remaining<br>Donovan Mitchell " +
        "made 2-pointer from 8 ft<br>Cleveland leads 2-0"))).toDF("key", "value")),
      s"$dir/t0", tgz, "shots-2025.csv")
    Ingest.writeCsv(Ingest.transform(Seq(("k2", envelopeJson("g2", "LA Lakers",
      "Miami", "4th Q, 0:01.2 remaining<br>LeBron James made 3-pointer from " +
        "30 ft<br>LA Lakers now leads 101-99"))).toDF("key", "value")),
      s"$dir/ongoing")
    val before = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tgz))
    val e = intercept[IllegalArgumentException] {
      PipelineMain.main(Array("merge", "--season", tgz,
        "--delta", s"$dir/ongoing", "--pubish", s"$dir/out.tgz"))
    }
    assert(e.getMessage.contains("--pubish"))
    assert(java.util.Arrays.equals(before,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(tgz))),
      "the season must be byte-identical after the rejected command")
    assert(!new java.io.File(s"$dir/out.tgz").exists)
  }

  test("mergePublish recovers a season stranded at .old by a killed publish " +
      "instead of bootstrapping from the delta alone") {
    import graft.tools.PipelineMain
    val dir = tempDir("graft-pipe-torn").toString
    val tgz = s"$dir/shots-2025.tgz"
    val play = "1st Q, 10:00.0 remaining<br>Donovan Mitchell made 2-pointer " +
      "from 8 ft<br>Cleveland leads 2-0"
    val season = Ingest.transform(Seq(
      ("k0", envelopeJson("g1", "Cleveland", "Boston", play)),
      ("k1", envelopeJson("g3", "Denver", "Utah",
        "3rd Q, 2:00.0 remaining<br>Nikola Jokic made 2-pointer from 4 ft<br>Denver leads 70-60"))
    ).toDF("key", "value"))
    Merge.publishTgz(season, s"$dir/t0", tgz, "shots-2025.csv")
    // a snapshot taken now: the file is republished below, and a frame
    // whose decode was lost would read the file again
    val published = {
      val read = Merge.readSeasonTgz(spark, tgz)
      spark.createDataFrame(java.util.Arrays.asList(read.collect(): _*), read.schema)
    }
    // a publish killed mid-replace: the live season renamed to .old, its
    // successor only partly packed at the sibling .next
    val live = java.nio.file.Paths.get(tgz)
    java.nio.file.Files.move(live,
      live.resolveSibling("shots-2025.tgz" + graft.merge.Swap.OldSuffix))
    java.nio.file.Files.write(live.resolveSibling("shots-2025.tgz.next"),
      Array[Byte](0x1f, 0x8b.toByte, 8))
    Ingest.writeCsv(Ingest.transform(Seq(
      ("k0", envelopeJson("g1", "Cleveland", "Boston", play)),
      ("k2", envelopeJson("g2", "LA Lakers", "Miami",
        "4th Q, 0:01.2 remaining<br>LeBron James made 3-pointer from 30 ft<br>LA Lakers now leads 101-99"))
    ).toDF("key", "value")), s"$dir/ongoing")
    PipelineMain.mergePublish(spark, Map("season" -> tgz, "delta" -> s"$dir/ongoing"))
    val want = Merge.mergeDeterministic(published,
      Merge.readCsv(spark, s"$dir/ongoing"))
    val got = Merge.readSeasonTgz(spark, tgz)
    assert(got.count() == 3, "season ∪ delta winners: g1, g2 and g3")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("shots-2025")).toSet == Set("shots-2025.tgz"),
      "no backup or partial sibling may remain")
  }

  test("streaming flavor: envelope file stream -> transform -> csv sink") {
    val dir = tempDir("graft-pipe-s").toString
    Seq(("k1", envelopeJson("g9", "Utah", "Chicago",
      "3rd Q, 2:15.0 remaining<br>Lauri Markkanen made 3-pointer from 24 ft<br>Utah leads 70-60")))
      .toDF("key", "value").write.parquet(s"$dir/in")
    val env = spark.readStream
      .schema("key STRING, value STRING")
      .parquet(s"$dir/in")
    Ingest.streamToCsv(Ingest.transform(env), s"$dir/out", s"$dir/ckpt")
    val out = Merge.readCsv(spark, s"$dir/out")
    assert(out.count() == 1)
    assert(out.select("team").as[String].collect()(0) == "Utah")
    assert(out.select("winner_score").as[String].collect()(0) == "70")
  }

  test("PipelineMain ingest --typed: gated typed layer — flag OFF leaves " +
      "the legacy all-string artifact byte-identical to the pre-flag " +
      "path, flag ON appends q94's typed twins") {
    // SURVEY §1.2's "gated capability-add, legacy shape default": the
    // typed layer must be strictly additive and strictly opt-in. Three
    // drains of the same topic: the CLI without the flag, the CLI with
    // it, and the pre-flag code path (streamToCsv∘transform) as the
    // byte-identity reference.
    import graft.sources.KafkaLog
    import graft.tools.PipelineMain
    val dir = tempDir("graft-pipe-typed").toString
    val root = s"$dir/log"
    KafkaLog.createTopic(root, "shots", 1)
    KafkaLog.produce(root, "shots", 0, Seq(KafkaLog.Record("k0",
      envelopeJson("g1", "Utah", "Chicago",
        "2nd Q, 5:30.0 remaining<br>Lauri Markkanen made 3-pointer from 24 ft<br>Utah leads 70-60"),
      1700000000000L)))
    def cliDrain(out: String, ckpt: String, extra: String*): Unit =
      PipelineMain.ingest(spark, PipelineMain.parseOpts(
        Array("--servers", root, "--topic", "shots",
          "--format", KafkaLog.Format,
          "--out", s"$dir/$out", "--checkpoint", s"$dir/$ckpt") ++ extra))
    cliDrain("off", "ck-off")
    cliDrain("on", "ck-on", "--typed", "true")
    Ingest.streamToCsv(
      Ingest.transform(Ingest.kafkaStreamSource(spark, servers = root,
        topic = "shots", format = KafkaLog.Format)),
      s"$dir/ref", s"$dir/ck-ref")
    def partText(sub: String): String = {
      val files = new java.io.File(s"$dir/$sub").listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
        .sortBy(_.getName)
      assert(files.nonEmpty, s"no csv part files under $dir/$sub")
      files.map(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).mkString
    }
    assert(partText("off") == partText("ref"),
      "flag-off CLI output must be byte-identical to the pre-flag path")
    val off = spark.read.option("header", "true").csv(s"$dir/off")
    val on = spark.read.option("header", "true").csv(s"$dir/on")
    val typedCols = Seq("x_i", "y_i", "winner_score_i", "loser_score_i",
      "quarter_i", "game_date", "seconds_remaining")
    assert(off.columns.toSeq == on.columns.toSeq.dropRight(typedCols.size),
      "typed layer must be strictly additive over the legacy columns")
    assert(on.columns.toSeq.takeRight(typedCols.size) == typedCols)
    assert(!off.columns.exists(typedCols.contains(_)),
      "flag-off artifact must not carry typed columns")
    // legacy projection of the typed run equals the legacy run's rows
    assert(on.select(off.columns.map(col): _*).collect().toSeq ==
      off.collect().toSeq)
    // typed values carry q94's oracle-gated semantics
    val r = on.collect()(0)
    assert(r.getAs[String]("seconds_remaining") == "330.0")
    assert(r.getAs[String]("quarter_i") == "2")
    assert(r.getAs[String]("game_date") == "2025-01-15")
    assert(r.getAs[String]("x_i") == "10")
    assert(r.getAs[String]("winner_score_i") == "70")
  }

  test("PipelineMain `quarantine`: CLI corruption loop with a kill " +
      "mid-drain, a restart, a later repair wave, and tombstone " +
      "retention — both tables converge") {
    // The round-14 verdict's Next-round #6: the engine-level DAG
    // equivalent gains the corruption stage, driven through the SAME
    // public method the command line runs. Four invocations on one
    // checkpoint: (1) corrupted wave killed after batch 1's route but
    // before its commit, (2) restart catches up idempotently, (3) the
    // repair wave arrives as new files and resolves across the restart
    // boundary, (4) a retention run ages the resolved tombstones out.
    import graft.multimodal.Multimodal
    import graft.tools.PipelineMain
    val dir = tempDir("graft-pipe-q").toString
    val png = Multimodal.ImageCodec.encode(20, 10, seed = 1, "png")
    val wav = Multimodal.AudioCodec.encode(nSamples = 77,
      sampleRateHz = 8200, seed = 3)
    def pristine(id: Long): Multimodal.MediaRow =
      if (id % 2 == 0) Multimodal.MediaRow(id, "image", png)
      else Multimodal.MediaRow(id, "audio", wav)
    val wave1 = (1L to 8L).map { id =>
      val r = pristine(id)
      if (id % 3 == 0) r.copy(content = r.content.take(5)) else r // 3, 6
    }
    wave1.toDS().toDF().repartitionByRange(3, col("media_id"))
      .write.parquet(s"$dir/blobs")
    def cli(extra: String*): Unit = PipelineMain.quarantine(spark,
      PipelineMain.parseOpts(Array("--blobs", s"$dir/blobs",
        "--main", s"$dir/meta", "--quar", s"$dir/quar",
        "--checkpoint", s"$dir/ckpt", "--buckets", "4",
        "--tmp", s"$dir/qtmp") ++ extra))
    // run 1: killed after batch 1 routed, before it committed
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      cli("--crash-after-batch", "1")
    }
    assert(boom.getMessage.contains("injected crash") ||
      Option(boom.getCause).exists(_.getMessage.contains("injected crash")))
    // run 2: restart replays the torn batch and finishes the wave
    cli()
    def mainIds() = graft.merge.MergeTable.read(spark, s"$dir/meta")
      .select("media_id").collect().map(_.getLong(0)).toSeq.sorted
    def quarRows() = graft.merge.MergeTable.read(spark, s"$dir/quar")
      .select("media_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sorted
    assert(mainIds() == (1L to 8L).filterNot(_ % 3 == 0),
      "restart must converge the maintained table, each ok key once")
    assert(quarRows() == Seq(3L -> "quarantined", 6L -> "quarantined"))
    // run 3: the repair wave lands as new files; same checkpoint drains
    // only them, resolving across the restart boundary — with retention
    // keeping one batch of history, which preserves the fresh tombstones
    Seq(pristine(3L), pristine(6L)).toDS().toDF().coalesce(1)
      .write.mode("append").parquet(s"$dir/blobs")
    cli("--retire-horizon", "1")
    assert(mainIds() == (1L to 8L),
      "repair wave must complete the maintained table")
    assert(quarRows() == Seq(3L -> "resolved", 6L -> "resolved"),
      "fresh tombstones are inside the horizon and must survive")
    // run 4: another wave (one new corrupt blob) pushes the batch seq
    // past the horizon — the old tombstones retire, the active row stays
    Seq(Multimodal.MediaRow(9L, "image", png.take(5))).toDS().toDF()
      .coalesce(1).write.mode("append").parquet(s"$dir/blobs")
    cli("--retire-horizon", "1")
    assert(quarRows() == Seq(9L -> "quarantined"),
      "retention must retire the aged tombstones and keep active rows")
    assert(mainIds() == (1L to 8L))
    // runs 5-7: the PURE-RETENTION contract (r15 ADVICE). Repair blob 9
    // (batch 5) and land one new corrupt blob 10 (batch 6), each with a
    // horizon wide enough to keep every tombstone; then invoke with NO
    // new files: the drain processes zero batches, and retirement must
    // still anchor on the checkpoint's last COMMITTED batch (6) — the
    // pre-r16 code anchored on batches drained in the invocation and
    // silently no-oped here, contradicting the flag's bounded-size
    // intent.
    Seq(pristine(9L)).toDS().toDF().coalesce(1)
      .write.mode("append").parquet(s"$dir/blobs")
    cli("--retire-horizon", "10")
    assert(quarRows() == Seq(9L -> "resolved"))
    Seq(Multimodal.MediaRow(10L, "image", png.take(5))).toDS().toDF()
      .coalesce(1).write.mode("append").parquet(s"$dir/blobs")
    cli("--retire-horizon", "10")
    assert(quarRows() == Seq(9L -> "resolved", 10L -> "quarantined"))
    cli("--retire-horizon", "1") // caught-up source: zero new batches
    assert(quarRows() == Seq(10L -> "quarantined"),
      "pure-retention on a caught-up source must retire against the " +
        "checkpoint's committed horizon, not this invocation's batches")
    assert(mainIds() == (1L to 9L))
  }

  test("concurrent-reader soak against a live CLI drain: 20+ micro-batches " +
      "with kills while reader threads demand complete keyed snapshots") {
    // r16 verdict item 2, end-to-end form: the MergeSpec soak races
    // readers against a bare merge loop; this one races them against
    // the PRODUCTION topology — the q92-shaped CLI drain (streaming
    // checkpoint, quarantine route, two MergeTable merges per batch,
    // injected crash-replays). Per reader thread, every successful
    // read of either table must be a complete keyed snapshot:
    //  - no duplicate media_id (torn bucket = every key in it doubles);
    //  - the main table's key set never shrinks (upsert-only);
    //  - a key never regresses resolved -> quarantined (the fixture
    //    never re-corrupts a repaired key, so the only legal
    //    transition is quarantined -> resolved).
    // Readers gate on `_meta` (stamped after the initial write commits)
    // so the one unsynchronized window — first table creation — is
    // never read half-committed, matching the documented contract.
    import graft.multimodal.Multimodal
    import graft.tools.PipelineMain
    import graft.merge.MergeTable
    val rng = new scala.util.Random(4117)
    val png = Multimodal.ImageCodec.encode(16, 8, seed = 3, "png")
    val dir = tempDir("graft-pipe-soak").toString
    val mainT = s"$dir/meta"; val quarT = s"$dir/quar"
    var refMain = Set.empty[Long]
    var refQuar = Map.empty[Long, String]
    var corruptedEver = Set.empty[Long]
    var nWaves = 0
    var nextId = 1L
    def appendWave(): Unit = {
      // new clean + new corrupt ids, plus repairs of quarantined ones —
      // never re-corrupting a repaired key (keeps the reader invariant
      // one-directional)
      val fresh = (0 until 2 + rng.nextInt(3)).map { _ =>
        val id = nextId; nextId += 1
        val corrupt = rng.nextInt(3) == 0
        id -> corrupt
      }
      val repairs = refQuar.collect { case (id, "quarantined") => id }
        .toSeq.sorted.filter(_ => rng.nextBoolean()).map(_ -> false)
      val rows = (fresh ++ repairs).map { case (id, corrupt) =>
        val r = Multimodal.MediaRow(id, "image", png)
        if (corrupt) r.copy(content = r.content.take(5)) else r
      }
      rows.toDS().toDF().coalesce(1)
        .write.mode(if (nWaves == 0) "errorifexists" else "append")
        .parquet(s"$dir/blobs")
      (fresh ++ repairs).foreach { case (id, corrupt) =>
        if (corrupt) { refQuar += id -> "quarantined"; corruptedEver += id }
        else {
          refMain += id
          if (refQuar.get(id).contains("quarantined"))
            refQuar += id -> "resolved"
        }
      }
      nWaves += 1
    }
    def cli(extra: String*): Unit = PipelineMain.quarantine(spark,
      PipelineMain.parseOpts(Array("--blobs", s"$dir/blobs",
        "--main", mainT, "--quar", quarT,
        "--checkpoint", s"$dir/ckpt", "--buckets", "8",
        "--tmp", s"$dir/qtmp") ++ extra))
    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readsOk = new java.util.concurrent.atomic.AtomicInteger(0)
    def ready(t: String): Boolean = new java.io.File(t, "_meta").exists
    def readerLoop(tag: Int): Unit = {
      var seenMain = Set.empty[Long]
      var seenStatus = Map.empty[Long, String]
      while (!done && failures.isEmpty) {
        try {
          if (ready(mainT)) {
            val ids = MergeTable.readRetrying(spark, mainT, attempts = 8) {
              df => df.select("media_id").collect().map(_.getLong(0))
            }
            if (ids.distinct.length != ids.length)
              failures.add(s"reader $tag: duplicate main keys")
            val s = ids.toSet
            if (!seenMain.subsetOf(s))
              failures.add(s"reader $tag: main keys vanished " +
                (seenMain -- s).take(5).toString)
            seenMain = s
          }
          if (ready(quarT)) {
            val rows = MergeTable.readRetrying(spark, quarT, attempts = 8) {
              df => df.select("media_id", "status").collect()
                .map(r => r.getLong(0) -> r.getString(1))
            }
            if (rows.map(_._1).distinct.length != rows.length)
              failures.add(s"reader $tag: duplicate quarantine keys")
            val st = rows.toMap
            seenStatus.foreach { case (id, prev) =>
              if (prev == "resolved" && st.get(id).contains("quarantined"))
                failures.add(s"reader $tag: key $id regressed " +
                  "resolved -> quarantined")
            }
            seenStatus = st
          }
          readsOk.incrementAndGet()
        } catch { case t: Throwable =>
          failures.add(s"reader $tag died: ${t.getClass.getSimpleName}: " +
            String.valueOf(t.getMessage).take(200))
        }
      }
    }
    val readers = (1 to 2).map(i => new Thread(() => readerLoop(i)))
    try {
      readers.foreach(_.start())
      // 8 drain invocations over 24+ appended waves (one micro-batch per
      // wave file); a third of them crash mid-drain and replay
      (1 to 8).foreach { step =>
        (0 until 3).foreach(_ => appendWave())
        if (rng.nextInt(3) == 0) {
          // crash on the FIRST pending wave's batch, then replay: the
          // readers race both the crashed drain and the replay
          val boom = intercept[
              org.apache.spark.sql.streaming.StreamingQueryException] {
            cli("--crash-after-batch", (nWaves - 3).toString)
          }
          assert(boom.getMessage.contains("injected crash") ||
            Option(boom.getCause).exists(
              _.getMessage.contains("injected crash")))
          cli()
        } else cli()
      }
      assert(nWaves >= 24, s"drill must cover 20+ micro-batches, got $nWaves")
    } finally {
      done = true
      readers.foreach(_.join(60000))
    }
    assert(readers.forall(!_.isAlive), "reader threads must terminate")
    assert(failures.isEmpty,
      s"${failures.size} violations, first: ${failures.peek()}")
    assert(readsOk.get >= 10,
      s"soak must complete real concurrent reads (got ${readsOk.get})")
    // converged end state equals the wave fold
    val gotMain = MergeTable.read(spark, mainT)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(gotMain == refMain, "main diverged from the wave fold")
    val gotQuar = MergeTable.read(spark, quarT)
      .select("media_id", "status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(gotQuar == refQuar, "quarantine diverged from the wave fold")
    scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir)))
  }

  test("randomized CLI quarantine drill: waves with random kill points " +
      "and retirements converge to the wave fold") {
    // Fuzz companion to the directed CLI test: one blob wave appended
    // per invocation (so batch id == wave index, stable across kills),
    // each invocation randomly either crashes after its wave's route
    // (before the commit — the adversarial exactly-once window, then
    // the NEXT invocation replays it) or completes, completions
    // randomly carrying a retire horizon; after every SUCCESSFUL
    // invocation both tables must equal a plain Scala fold of the wave
    // list (corrupt quarantines at its wave seq, a clean redecode of a
    // quarantined key resolves at its wave seq, retire drops resolved
    // older than lastCommitted - h + 1). Deterministic seed.
    import graft.multimodal.Multimodal
    import graft.tools.PipelineMain
    val rng = new scala.util.Random(777)
    val png = Multimodal.ImageCodec.encode(16, 8, seed = 2, "png")
    val wav = Multimodal.AudioCodec.encode(nSamples = 50,
      sampleRateHz = 8000, seed = 4)
    def blob(id: Long, corrupt: Boolean): Multimodal.MediaRow = {
      val r = if (id % 2 == 0) Multimodal.MediaRow(id, "image", png)
        else Multimodal.MediaRow(id, "audio", wav)
      if (corrupt) r.copy(content = r.content.take(5)) else r
    }
    (1 to 2).foreach { round =>
      val dir = tempDir("graft-pipe-fz").toString
      var refMain = Set.empty[Long]
      var refQuar = Map.empty[Long, (String, Long)] // id -> (status, seq)
      var nWaves = 0
      def appendWave(rows: Seq[(Long, Boolean)]): Unit = {
        rows.map { case (id, c) => blob(id, c) }.toDS().toDF().coalesce(1)
          .write.mode(if (nWaves == 0) "errorifexists" else "append")
          .parquet(s"$dir/blobs")
        val seq = nWaves.toLong
        rows.foreach { case (id, c) =>
          if (c) refQuar += id -> ("quarantined", seq)
          else {
            refMain += id
            if (refQuar.get(id).exists(_._1 == "quarantined"))
              refQuar += id -> ("resolved", seq)
          }
        }
        nWaves += 1
      }
      def cli(extra: String*): Unit = PipelineMain.quarantine(spark,
        PipelineMain.parseOpts(Array("--blobs", s"$dir/blobs",
          "--main", s"$dir/meta", "--quar", s"$dir/quar",
          "--checkpoint", s"$dir/ckpt", "--buckets", "4",
          "--tmp", s"$dir/qtmp") ++ extra))
      def check(label: String): Unit = {
        val gotMain = if (new java.io.File(s"$dir/meta").exists)
          graft.merge.MergeTable.read(spark, s"$dir/meta")
            .select("media_id").collect().map(_.getLong(0)).toSet
          else Set.empty[Long]
        assert(gotMain == refMain, s"round $round $label: main diverged")
        val gotQuar = if (new java.io.File(s"$dir/quar").exists)
          graft.merge.MergeTable.read(spark, s"$dir/quar")
            .select("media_id", "status", "routed_seq").collect()
            .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
          else Map.empty[Long, (String, Long)]
        assert(gotQuar == refQuar, s"round $round $label: quarantine diverged")
      }
      (1 to 4).foreach { step =>
        // wave: new ids + occasional repairs of quarantined ids +
        // occasional re-corruption; one row per id per wave
        val quarantined = refQuar.collect {
          case (id, ("quarantined", _)) => id }.toSeq.sorted
        val newIds = (1L to 40L).filterNot(refMain)
          .filterNot(refQuar.contains).filter(_ => rng.nextInt(5) == 0)
        val rows = (newIds.map(id => id -> (rng.nextInt(3) == 0)) ++
          quarantined.filter(_ => rng.nextBoolean())
            .map(id => id -> (rng.nextInt(4) == 0))).distinct
        if (rows.nonEmpty) {
          appendWave(rows)
          if (rng.nextBoolean()) {
            // kill after this wave's route, before its commit; the next
            // invocation replays it — exactly-once effects
            val boom = intercept[
                org.apache.spark.sql.streaming.StreamingQueryException] {
              cli("--crash-after-batch", (nWaves - 1).toString)
            }
            assert(boom.getMessage.contains("injected crash") ||
              Option(boom.getCause).exists(
                _.getMessage.contains("injected crash")))
            cli() // replay + catch up
            check(s"step $step (post-crash replay)")
          } else if (rng.nextBoolean()) {
            val h = 1 + rng.nextInt(3)
            cli("--retire-horizon", h.toString)
            val anchor = (nWaves - 1).toLong
            refQuar = refQuar.filterNot { case (_, (st, sq)) =>
              st == "resolved" && sq < anchor - h + 1 }
            check(s"step $step (retire h=$h)")
          } else {
            cli()
            check(s"step $step")
          }
        }
      }
      scala.util.Try(org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(dir)))
    }
  }
}
