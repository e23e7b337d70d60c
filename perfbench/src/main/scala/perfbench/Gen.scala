package perfbench

import java.io.{BufferedOutputStream, BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Base64, Random}
import java.util.zip.GZIPOutputStream

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}

/** Seeded input generator. It never calls the library under test for
  * shot data: records, the season tgz, the CSV delta and the kafka-log
  * segments are all written here, so the inputs (and the expected
  * outputs derived from them) do not depend on the code being measured.
  * The only exception is media: blob bytes come from the public
  * `Multimodal.*Codec.encode` fixture encoders, which produce real
  * PNG/JPEG/WAV/MP4 files.
  */
object Gen {
  /** The 18 all-string columns of the ingest output, in output order. */
  val Columns: Vector[String] = Vector("game_id", "year", "month", "day",
    "winner", "loser", "x", "y", "play", "time_remaining", "quarter",
    "shots_by", "outcome", "attempt", "distance", "team", "winner_score",
    "loser_score")

  sealed trait Kind
  case object Clean extends Kind
  case object MalformedJson extends Kind
  case object UnparseablePlay extends Kind

  /** One scraped shot. `row` holds the 18 expected output columns for a
    * clean record; dirty records keep only what the checks need. */
  final case class Shot(kind: Kind, json: String, row: Vector[String]) {
    def key: (String, String, String) =
      if (kind == MalformedJson) (null, null, null) else (row(0), row(9), row(10))
  }

  // FIXTURES.md A3: one-word teams and the two-word cities whose first
  // token is LA/New/San/Golden
  private val oneWord = Vector("Cleveland", "Boston", "Miami", "Chicago",
    "Denver", "Phoenix", "Dallas", "Atlanta", "Houston", "Toronto",
    "Detroit", "Memphis")
  private val twoWord = Vector("LA Lakers", "LA Clippers", "New York",
    "New Orleans", "San Antonio", "Golden State")
  val Teams: Vector[String] = oneWord ++ twoWord
  private val firstNames = Vector("LeBron", "Stephen", "Kevin", "Luka",
    "Nikola", "Jayson", "Devin", "Anthony", "Jimmy", "Trae", "Zion", "Ja")
  private val lastNames = Vector("James", "Curry", "Durant", "Doncic",
    "Jokic", "Tatum", "Booker", "Davis", "Butler", "Young", "Williamson",
    "Morant")
  private val ordinals = Vector("1st", "2nd", "3rd", "4th")

  /** Shares planted in every scrape (stated in the result). */
  final case class Shares(malformed: Double = 0.01, unparseable: Double = 0.01,
      replay: Double = 0.3, corrected: Double = 0.1)

  /** A game's shots. `serial` makes game ids unique across the season. */
  def game(rnd: Random, dayIndex: Int, serial: Int, nShots: Int,
      shares: Shares): Vector[Shot] = {
    val date = java.time.LocalDate.of(2024, 10, 22).plusDays(dayIndex.toLong)
    val (y, m, d) = (f"${date.getYear}%04d", f"${date.getMonthValue}%02d",
      f"${date.getDayOfMonth}%02d")
    val home = rnd.nextInt(Teams.size)
    val away = (home + 1 + rnd.nextInt(Teams.size - 1)) % Teams.size
    val homeWins = rnd.nextBoolean()
    val winner = Teams(if (homeWins) home else away)
    val loser = Teams(if (homeWins) away else home)
    val gameId = f"${y}${m}${d}%s$serial%05d"
    var ws = 0
    var ls = 0
    (0 until nShots).map { i =>
      val q = i * 4 / nShots
      val inQuarter = i - (q * nShots + 3) / 4
      // strictly decreasing clock within a quarter: distinct dedup keys
      val tenths = 7199 - inQuarter * 40 - rnd.nextInt(40)
      val clock = f"${tenths / 600}%d:${tenths / 10 % 60}%02d.${tenths % 10}%d"
      val shooter = s"${firstNames(rnd.nextInt(firstNames.size))} " +
        lastNames(rnd.nextInt(lastNames.size))
      val made = rnd.nextInt(100) < 46
      val pts = if (rnd.nextInt(100) < 38) 3 else 2
      val dist = if (pts == 3) 22 + rnd.nextInt(9) else 1 + rnd.nextInt(21)
      val byWinner = rnd.nextBoolean()
      if (made) { if (byWinner) ws += pts else ls += pts }
      val team = if (rnd.nextBoolean()) winner else loser
      val (mine, theirs) = if (team == winner) (ws, ls) else (ls, ws)
      val verb = if (mine == theirs) "tied" else if (mine > theirs) "leads"
        else "trails"
      val now = if (rnd.nextInt(4) == 0) "now " else ""
      val play = s"${ordinals(q)} Q, $clock remaining<br>$shooter " +
        s"${if (made) "made" else "missed"} $pts-pointer from $dist ft<br>" +
        s"$team $now$verb $mine-$theirs"
      // F9: ties give A to both sides; otherwise the named team gets A
      val winnerScore = if (verb == "tied" || team == winner) mine else theirs
      val loserScore = if (verb == "tied" || team == loser) mine else theirs
      val x = (rnd.nextInt(500)).toString
      val yy = (rnd.nextInt(470)).toString
      val row = Vector(gameId, y, m, d, winner, loser, x, yy, play, clock,
        (q + 1).toString, shooter, if (made) "made" else "missed",
        s"$pts-pointer", s"${dist}ft", team, winnerScore.toString,
        loserScore.toString)
      val u = rnd.nextDouble()
      if (u < shares.malformed) malformed(row)
      else if (u < shares.malformed + shares.unparseable) unparseable(rnd, row)
      else Shot(Clean, json(row), row)
    }.toVector
  }

  private def json(row: Vector[String]): String =
    Columns.take(9).zip(row).map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")

  // a syntax error before the first field value: from_json yields no
  // partial fields, every output column is null
  private def malformed(row: Vector[String]): Shot =
    Shot(MalformedJson, s"""{"game_id" "${row(0)}", "year": "${row(1)}"""",
      Vector.fill(18)(null))

  // a play with no `<br>` segments: the score segment (and so `team`) is
  // missing; the dedup key is whatever tokens 2 and the first char give
  private def unparseable(rnd: Random, row: Vector[String]): Shot = {
    val play = s"Jump ball: ${firstNames(rnd.nextInt(firstNames.size))} vs. " +
      lastNames(rnd.nextInt(lastNames.size))
    val toks = play.split(" ")
    val r = row.take(8) ++ Vector(play, toks(2), play.substring(0, 1)) ++
      Vector.fill(7)(null)
    Shot(UnparseablePlay, json(row.take(8) :+ play), r)
  }

  /** The corrected re-scrape of a clean shot: `x` moved, every other
    * field identical. */
  def corrected(rnd: Random, s: Shot): Shot = {
    var x = s.row(6)
    while (x == s.row(6)) x = rnd.nextInt(500).toString
    val row = s.row.updated(6, x)
    Shot(Clean, json(row), row)
  }

  /** `nDays` days of games, `gamesPerDay` games each, `shotsPerGame`
    * shots per game, starting at `firstDay`. Returns one vector per day. */
  def days(rnd: Random, firstDay: Int, nDays: Int, gamesPerDay: Int,
      shotsPerGame: Int, shares: Shares): Vector[Vector[Shot]] =
    (0 until nDays).map { di =>
      (0 until gamesPerDay).flatMap { g =>
        game(rnd, firstDay + di, (firstDay + di) * 100 + g, shotsPerGame, shares)
      }.toVector
    }.toVector

  /** One day's scrape: the day's new shots plus a replay of a share of
    * the previous window; replays are identical except a stated share
    * that carries a corrected `x`. */
  def scrape(rnd: Random, fresh: Vector[Shot], previous: Vector[Shot],
      shares: Shares): Vector[Shot] = {
    val prevClean = previous.filter(_.kind == Clean)
    val replays = prevClean.filter(_ => rnd.nextDouble() < shares.replay).map { s =>
      if (rnd.nextDouble() < shares.corrected) corrected(rnd, s) else s
    }
    fresh ++ replays
  }

  // ---- writers -------------------------------------------------------

  private def csvField(v: String): String =
    if (v == null) "" else if (v.exists(c => c == ',' || c == '"')) "\"" + v + "\"" else v

  def csvLine(row: Vector[String]): String = row.map(csvField).mkString(",")

  /** Headered CSV text, one line per row. */
  def csvLines(rows: Iterator[Vector[String]]): Iterator[String] =
    Iterator.single(Columns.mkString(",")) ++ rows.map(csvLine)

  /** The season artifact: one headered CSV inside a tgz (FIXTURES A4). */
  def writeSeasonTgz(path: Path, csvName: String, rows: Seq[Vector[String]]): Long = {
    Files.createDirectories(path.getParent)
    val body = csvLines(rows.iterator).mkString("", "\n", "\n").getBytes(UTF_8)
    val tar = new TarArchiveOutputStream(new GZIPOutputStream(
      new BufferedOutputStream(Files.newOutputStream(path))))
    try {
      val e = new TarArchiveEntry(csvName)
      e.setSize(body.length.toLong)
      e.setModTime(0L)
      tar.putArchiveEntry(e)
      tar.write(body)
      tar.closeArchiveEntry()
    } finally tar.close()
    Files.size(path)
  }

  /** A CSV delta directory in the ingest stage's output layout. */
  def writeCsvDir(dir: Path, rows: Seq[Vector[String]]): Long = {
    Files.createDirectories(dir)
    val f = dir.resolve("part-00000-delta.csv")
    val w = Files.newBufferedWriter(f, UTF_8)
    try csvLines(rows.iterator).foreach { l => w.write(l); w.write('\n') }
    finally w.close()
    Files.size(f)
  }

  /** Append one segment to a kafka-log partition, in the source's
    * documented on-disk layout (`<root>/<topic>/p<n>/<base>.seg`, lines
    * of `base64(key)\tbase64(value)\tmillis`). Returns the bytes written. */
  def appendSegment(root: Path, topic: String, partition: Int,
      values: Seq[String], tsMillis: Long): Long = {
    val pdir = root.resolve(topic).resolve(s"p$partition")
    Files.createDirectories(pdir)
    val base = segmentsEnd(pdir)
    val f = pdir.resolve(f"$base%020d.seg")
    val b64 = Base64.getEncoder
    val w = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(f), UTF_8), 1 << 16)
    try values.zipWithIndex.foreach { case (v, i) =>
      w.write(b64.encodeToString(s"k${base + i}".getBytes(UTF_8)))
      w.write('\t')
      w.write(b64.encodeToString(v.getBytes(UTF_8)))
      w.write('\t')
      w.write((tsMillis + i).toString)
      w.write('\n')
    } finally w.close()
    Files.size(f)
  }

  private def segmentsEnd(pdir: Path): Long = {
    val segs = Files.list(pdir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".seg"))
    segs.map { s =>
      val base = s.getFileName.toString.stripSuffix(".seg").toLong
      base + Files.readAllLines(s, UTF_8).size
    }.foldLeft(0L)(math.max)
  }

  /** Create the topic's partition dirs. */
  def createTopic(root: Path, topic: String, partitions: Int): Unit =
    (0 until partitions).foreach(p =>
      Files.createDirectories(root.resolve(topic).resolve(s"p$p")))

  // ---- media ---------------------------------------------------------

  /** One blob as written; `ok` says whether it is expected to decode. */
  final case class Blob(id: Long, mediaType: String, bytes: Array[Byte], ok: Boolean)

  /** `nFiles` files of `perFile` blobs over `idSpace` ids. Ids re-arrive
    * across files; a `corrupt` share is truncated to a few bytes (no
    * decodable header); some keys arrive corrupt and clean in the same
    * file (error wins there), and corrupt keys re-arrive clean in later
    * files (resolve). */
  def mediaFiles(rnd: Random, nFiles: Int, perFile: Int, idSpace: Int,
      corrupt: Double = 0.05): Vector[Vector[Blob]] = {
    import graft.multimodal.Multimodal.{AudioCodec, ImageCodec, VideoCodec}
    def encode(id: Long): (String, Array[Byte]) = (id % 4).toInt match {
      case 0 => "image" -> ImageCodec.encode(8 + (id % 24).toInt,
        8 + (id * 7 % 24).toInt, id, "png")
      case 1 => "image" -> ImageCodec.encode(8 + (id % 24).toInt,
        8 + (id * 5 % 24).toInt, id, "jpeg")
      case 2 => "audio" -> AudioCodec.encode(64 + (id % 256).toInt,
        8000 + (id % 8).toInt * 1000, id)
      case _ => "video" -> VideoCodec.encode(16 + (id % 64).toInt,
        16 + (id * 3 % 64).toInt, 1 + (id % 24).toInt, id)
    }
    val cache = scala.collection.mutable.Map.empty[Long, (String, Array[Byte])]
    (0 until nFiles).map { _ =>
      val ids = Vector.fill(perFile)(rnd.nextInt(idSpace).toLong).distinct
      ids.flatMap { id =>
        val (t, bytes) = cache.getOrElseUpdate(id, encode(id))
        val u = rnd.nextDouble()
        if (u < corrupt) Vector(Blob(id, t, bytes.take(6), ok = false))
        else if (u < corrupt * 1.4)
          Vector(Blob(id, t, bytes, ok = true), Blob(id, t, bytes.take(6), ok = false))
        else Vector(Blob(id, t, bytes, ok = true))
      }
    }.toVector
  }

  /** Write blob file number `index` as parquet with the `MediaRow`
    * layout (required int64 media_id, string media_type, binary content)
    * through parquet-hadoop's example writer; the mtime increases with
    * the index so the file source admits files in order. */
  def writeBlobFile(dir: Path, index: Int, blobs: Seq[Blob]): Long = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    Files.createDirectories(dir)
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  required int64 media_id;
        |  optional binary media_type (STRING);
        |  optional binary content;
        |}""".stripMargin)
    val factory = new SimpleGroupFactory(schema)
    val f = dir.resolve(f"blobs-$index%05d.parquet")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f.toUri))
      .withConf(new org.apache.hadoop.conf.Configuration()).withType(schema).build()
    try blobs.foreach { b =>
      w.write(factory.newGroup().append("media_id", b.id)
        .append("media_type", b.mediaType)
        .append("content", org.apache.parquet.io.api.Binary.fromConstantByteArray(b.bytes)))
    } finally w.close()
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L + index * 1000L))
    Files.deleteIfExists(dir.resolve(s".${f.getFileName}.crc"))
    Files.size(f)
  }

  /** What the quarantine route must leave behind after all files:
    * main-table ids with their blob size, and quarantine id → status. */
  def expectedMedia(files: Seq[Seq[Blob]]): (Map[Long, Long], Map[Long, String]) =
    files.foldLeft((Map.empty[Long, Long], Map.empty[Long, String]))(expectedAfter)

  /** The tables' expected state after one more file is drained. */
  def expectedAfter(state: (Map[Long, Long], Map[Long, String]),
      blobs: Seq[Blob]): (Map[Long, Long], Map[Long, String]) = {
    var (main, quar) = state
    val decisions = blobs.groupBy(_.id).map { case (id, bs) =>
      id -> bs.find(!_.ok).getOrElse(bs.head)
    }
    val quarAtStart = quar
    decisions.foreach { case (id, b) =>
      if (!b.ok) quar += id -> "quarantined"
      else {
        main += id -> b.bytes.length.toLong
        if (quarAtStart.get(id).contains("quarantined")) quar += id -> "resolved"
      }
    }
    (main, quar)
  }
}
