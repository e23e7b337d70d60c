package perfbench

import java.io.BufferedInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.zip.GZIPInputStream

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream

/** File helpers for staging and for the output checks. The checks parse
  * the program's CSV output here rather than through Spark, so a check
  * never shares code with what it checks. */
object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toVector.reverse
      all.foreach(Files.deleteIfExists)
    }

  def sha256(p: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Files.readAllBytes(p))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Size and file count of every regular file under `p`. */
  def treeFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.size(f)).toMap

  /** Row count of a parquet file, read from its footer alone: the file
    * ends with the footer, its 4-byte little-endian length and `PAR1`. */
  def parquetRows(f: Path): Long = {
    val raf = new java.io.RandomAccessFile(f.toFile, "r")
    try {
      val tail = new Array[Byte](8)
      raf.seek(raf.length - 8)
      raf.readFully(tail)
      val len = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val footer = new Array[Byte](len)
      raf.seek(raf.length - 8 - len)
      raf.readFully(footer)
      org.apache.parquet.format.Util
        .readFileMetaData(new java.io.ByteArrayInputStream(footer)).getNum_rows
    } finally raf.close()
  }

  /** One CSV record as Spark's CSV writer emits it: fields with a comma
    * are double-quoted, an empty unquoted field is null. */
  def parseCsvLine(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    val n = line.length
    var done = false
    while (!done) {
      if (i < n && line.charAt(i) == '"') {
        val end = line.indexOf('"', i + 1)
        out += line.substring(i + 1, end)
        i = end + 1
      } else {
        val end = { val e = line.indexOf(',', i); if (e < 0) n else e }
        out += (if (end == i) null else line.substring(i, end))
        i = end
      }
      if (i < n && line.charAt(i) == ',') i += 1 else done = true
    }
    out.result()
  }

  /** Data rows of headered CSV text (header dropped, blank lines skipped). */
  def csvRows(lines: Iterator[String]): Vector[Vector[String]] =
    lines.drop(1).filter(_.nonEmpty).map(parseCsvLine).toVector

  /** Rows of every `part-*.csv` file under a CSV sink directory. */
  def readCsvDir(dir: Path): Vector[Vector[String]] =
    if (!Files.exists(dir)) Vector.empty
    else Files.list(dir).iterator().asScala.toVector
      .filter { f => val n = f.getFileName.toString
        n.startsWith("part-") && n.endsWith(".csv") }
      .sortBy(_.toString)
      .flatMap(f => csvRows(Files.readAllLines(f, UTF_8).asScala.iterator))

  /** Data rows of a CSV sink directory, counted by line without parsing
    * (no generated field holds a line break). */
  def countCsvRows(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.list(dir).iterator().asScala.toVector
      .filter { f => val n = f.getFileName.toString
        n.startsWith("part-") && n.endsWith(".csv") }
      .map { f => val ls = Files.lines(f, UTF_8)
        try ls.filter(_.nonEmpty).count() - 1 finally ls.close() }.sum

  /** Rows of the single CSV member of a season tgz. */
  def readTgzCsv(tgz: Path): Vector[Vector[String]] = {
    val in = new TarArchiveInputStream(new GZIPInputStream(
      new BufferedInputStream(Files.newInputStream(tgz))))
    try {
      val e = in.getNextEntry
      require(e != null, s"empty archive $tgz")
      val text = new String(in.readAllBytes(), UTF_8)
      csvRows(text.split("\n").iterator)
    } finally in.close()
  }

  /** Minimal JSON writer for the result record. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }
}
