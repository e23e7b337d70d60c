package graft.merge

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream,
  ByteArrayOutputStream, FileNotFoundException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.univocity.parsers.csv.CsvParser
import graft.obs.Obs
import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The reference's merge/publish job (scripts/spark_merge_dfs.py), i.e. the
  * upsert that keeps the season dataset current:
  * season ∪_byName delta → one row per (game_id, time_remaining, quarter).
  *
  * Layout of the tgz path (S3/S5), the single-artifact path kept for
  * parity with the reference; only the gunzip runs in a single task.
  * [[readSeasonTgz]] gunzips and untars the season once per frame in one
  * executor task and shuffles its lines, by byte offset, into
  * `defaultParallelism` ordered ranges that Spark's CSV reader parses in
  * parallel; later actions reuse that decode. The union is
  * range-partitioned once on the dedup keys, and that one exchange serves
  * both the winner window and the caller's `orderBy(keys)`.
  * [[publishTgz]] writes one CSV part per partition, deflates the tar
  * stream in fixed-size chunks on executors, and the driver only
  * concatenates the gzip members. The scale path is [[MergeTable]]: a
  * bucketed parquet table that executors merge into directly, one
  * bucket-hash exchange, no single artifact.
  */
object Merge {
  /** Dedup keys of the season table (reference spark_merge_dfs.py:83). */
  val dedupKeys: Seq[String] = Seq("game_id", "time_remaining", "quarter")

  /** S2: headered, string-typed CSV directory scan
    * (spark_merge_dfs.py:73-80 — header=true, no inferSchema). The
    * all-string schema is the one Spark's header inference would give,
    * but it is read on the driver, from the header line of one part
    * file, instead of by a Spark job: the first file with a header line,
    * in the order the file-sink log (`_spark_metadata`, which defines a
    * streamed delta) lists them, else in name order. Each delta keeps its
    * own header, so a `--typed` delta or one from an older ingest still
    * meets the season through [[mergeDeterministic]]'s `unionByName`. A
    * path with no header line anywhere (or no such path) is read as
    * before, with inference.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    val reader = spark.read.option("header", "true")
    headerSchema(spark, path).fold(reader.csv(path))(reader.schema(_).csv(path))
  }

  private def headerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val (conf, sqlConf) = (session.sessionState.newHadoopConf(), session.sessionState.conf)
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val files =
      if (FileStreamSink.hasMetadata(Seq(path), conf, sqlConf))
        new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
          new Path(dir, FileStreamSink.metadataDir).toString)
          .allFiles().iterator.map(_.toFileStatus.getPath)
      else fs.listStatus(dir).sortBy(_.getPath.getName).iterator
        .filter(s => s.isFile && !"_.".contains(s.getPath.getName.head)).map(_.getPath)
    val opts = new CSVOptions(Map("header" -> "true"), sqlConf.csvColumnPruning,
      sqlConf.sessionLocalTimeZone)
    files.flatMap(CSVUtils.readHeaderLine(_, opts, conf)).nextOption().map { line =>
      val names = CSVUtils.makeSafeHeader(new CsvParser(opts.asParserSettings).parseLine(line),
        sqlConf.caseSensitiveAnalysis, opts)
      StructType(names.map(StructField(_, StringType)))
    }
  }

  /** D1/U1: the reference's upsert (spark_merge_dfs.py:82-83 — align by
    * name, missing columns → null, one row per key) made deterministic:
    * newest source wins, reproducible under retries and shuffle-order
    * changes. `__src` 0 (delta) beats 1 (season); duplicate keys WITHIN
    * a source are tie-broken by the remaining columns lexicographically,
    * so the winner never depends on shuffle order.
    */
  def mergeDeterministic(season: DataFrame, delta: DataFrame,
      keys: Seq[String] = dedupKeys): DataFrame =
    deterministicWinner(season, delta, keys, extraPartitionCols = Nil)

  /** [[mergeDeterministic]] generalized with leading extra partition
    * columns that must each be a PURE FUNCTION of the keys (e.g.
    * [[MergeTable]]'s `__bucket`). Without them the union is range-
    * partitioned on the keys: that clusters the window, and a caller's
    * `orderBy(keys)` rides the same exchange. When present, it is hash-
    * repartitioned on THOSE columns and the window partitions by
    * (extra ++ keys): the hash partitioning on `extra` — a subset of the
    * window's cluster columns — already satisfies the window's required
    * clustering, so Catalyst inserts NO second exchange and the winner
    * selection rides the same single shuffle that clusters the output
    * for the caller's partitioned write. Winner semantics are unchanged:
    * grouping by (f(keys), keys) is grouping by keys.
    */
  private[merge] def deterministicWinner(season: DataFrame, delta: DataFrame,
      keys: Seq[String], extraPartitionCols: Seq[String]): DataFrame = {
    val tagged0 = season.withColumn("__src", lit(1))
      .unionByName(delta.withColumn("__src", lit(0)), allowMissingColumns = true)
    val tagged = if (extraPartitionCols.isEmpty) tagged0.repartitionByRange(keys.map(col): _*)
      else tagged0.repartition(extraPartitionCols.map(col): _*)
    // tie-break only on orderable columns — a map-typed payload column
    // would fail Window.orderBy analysis (maps are unorderable); frames
    // whose non-key columns are all unorderable degrade to __src-only
    // ordering (arbitrary within-source winner, as the reference had)
    val orderable = tagged.schema.fields
      .filterNot(f =>
        (keys ++ extraPartitionCols :+ "__src").contains(f.name))
      .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(f.dataType))
      .map(_.name).sorted
    val w = Window.partitionBy((extraPartitionCols ++ keys).map(col): _*)
      .orderBy(col("__src") +: orderable.map(col): _*)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** S3: season dataset from a single `.tgz` holding one headered CSV
    * (spark_merge_dfs.py:53-71). The file is opened by its literal path
    * (no glob expansion, no hidden-name filter), and one task gunzips and
    * untars it once per frame, reading the first `.csv` member that is not
    * a macOS `._*` AppleDouble companion. That task only cuts the member
    * into blocks of whole lines, keys each block by its byte offset and
    * shuffles it into one of `defaultParallelism` contiguous ranges sized
    * from the member's tar-header size. The line split, the decoding
    * (UTF-8 with replacement, the reference's `decode('utf-8',
    * errors='replace')`) and Spark's CSV parse run in one task per range,
    * and the frame keeps file order. The driver holds no season rows.
    * The frame's first action (the header read inside this call) decodes
    * the member; later actions reuse that decode's shuffle output, so the
    * frame is a snapshot of the file as that read saw it. A tgz without a
    * `.csv` member fails that read with [[java.io.FileNotFoundException]]
    * as the job's cause.
    */
  def readSeasonTgz(spark: SparkSession, tgzPath: String): DataFrame = {
    val sc = spark.sparkContext
    val path = new Path(tgzPath)
    val file = path.getFileSystem(sc.hadoopConfiguration).makeQualified(path).toString
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    val n = sc.defaultParallelism
    val blocks = sc.parallelize(Seq(file), 1).flatMap { f =>
      val p = new Path(f)
      val in = new TarArchiveInputStream(
        new GZIPInputStream(new BufferedInputStream(p.getFileSystem(conf.value).open(p))))
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      val size = math.max(csvMember(in, tgzPath).getSize, 1L)
      lineBlocks(in).map { case (offset, block) =>
        (math.min(offset * n / size, n - 1L).toInt, block)
      }
    }.setName(DecodeRdd)
    // keys are range indices in [0, n): HashPartitioner(n) maps each to
    // itself, and a single map task's records keep their order per range
    val lines = blocks.partitionBy(new HashPartitioner(n)).values.flatMap(blockLines)
    spark.read.option("header", "true")
      .csv(spark.createDataset(lines)(Encoders.STRING))
  }

  /** Name of the RDD that decodes the whole season member. */
  private[graft] val DecodeRdd = "season tgz decode"

  /** The first `.csv` member of `in` that is not a `._*` AppleDouble
    * companion; `in` is left positioned at its first byte. */
  private def csvMember(in: TarArchiveInputStream, tgzPath: String): TarArchiveEntry =
    Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .find(e => e.isFile && !new Path(e.getName).getName.startsWith("._") &&
        e.getName.endsWith(".csv"))
      .getOrElse(throw new FileNotFoundException(s"no .csv member in $tgzPath"))

  /** `in` cut into blocks of whole lines, each with the byte offset it
    * starts at: 256 KiB, then on to the next LF. A cut right after a LF
    * never splits a line ending (LF, CR or CRLF), so the blocks' lines are
    * the lines of the whole. */
  private def lineBlocks(in: InputStream): Iterator[(Long, Array[Byte])] = {
    val blockBytes = 256 << 10
    var offset = 0L
    Iterator.continually {
      val block = new ByteArrayOutputStream(blockBytes + 4096)
      block.write(in.readNBytes(blockBytes))
      var b = if (block.size == blockBytes) in.read() else -1
      while (b >= 0) {
        block.write(b)
        b = if (b == '\n') -1 else in.read()
      }
      val start = offset
      offset += block.size
      (start, block.toByteArray)
    }.takeWhile(_._2.nonEmpty)
  }

  /** The lines of `block`. LF, CR and CRLF end a line, as for
    * `BufferedReader.readLine`. */
  private def blockLines(block: Array[Byte]): Iterator[String] = {
    val reader = new LineReader(new ByteArrayInputStream(block))
    val text = new Text()
    Iterator.continually(reader.readLine(text)).takeWhile(_ > 0)
      .map(_ => new String(text.getBytes, 0, text.getLength, StandardCharsets.UTF_8))
  }

  /** Uncompressed tar bytes per gzip member of a published tgz (C). */
  val MemberBytes: Long = 4L << 20

  /** S5 small-artifact path: single CSV inside a `.tgz`
    * (spark_merge_dfs.py:86-128). Each partition writes its own headered
    * CSV part in parallel. The tar stream is the entry's header record,
    * the parts in partition order with every header but the first
    * dropped, then the padding and end records: the byte sequence
    * `coalesce(1)` would write, so an ordered frame publishes the same
    * artifact at any partition count. That stream is cut at the fixed
    * offsets k·[[MemberBytes]]; one task per chunk deflates its bytes into
    * a standalone gzip member, and the driver concatenates the members in
    * order (multi-member gzip, RFC 1952 §2.2). The cuts depend only on the
    * content, never on the part boundaries, so identical data publishes
    * identical bytes; a stream within one chunk is a single member.
    * Packed at the sibling `<tgz>.next` and [[Swap.replace]]d in, so a
    * kill mid-pack never leaves a truncated artifact as the only copy.
    */
  def publishTgz(df: DataFrame, tmpDir: String, tgzPath: String,
      csvName: String): Unit = publishTgz(df, tmpDir, tgzPath, csvName, MemberBytes)

  private[graft] def publishTgz(df: DataFrame, tmpDir: String, tgzPath: String,
      csvName: String, memberBytes: Long): Unit = {
    Obs.scope("parts_write")(df.write.mode("overwrite").option("header", "true").csv(tmpDir))
    val sc = df.sparkSession.sparkContext
    val tmp = new Path(tmpDir)
    val fs = FileSystem.get(tmp.toUri, sc.hadoopConfiguration)
    // part-<partition>-<job uuid>-c<file>.csv: one uuid per write, so the
    // name orders files within a partition
    val parts = fs.listStatus(tmp).toSeq.flatMap { st =>
      PartFile.findFirstMatchIn(st.getPath.getName).map(m => (m.group(1).toInt, st))
    }.sortBy { case (partition, st) => (partition, st.getPath.getName) }.map(_._2)
    if (parts.isEmpty) throw new FileNotFoundException(s"no part file in $tmpDir")
    val header = firstLine(fs, parts.head)
    val entry = new TarArchiveEntry(csvName)
    val size = parts.map(_.getLen).sum - header.length.toLong * (parts.size - 1)
    entry.setSize(size)
    // reproducible artifact: a fresh TarArchiveEntry stamps wall-clock
    // mtime, making two runs over identical data publish different
    // bytes. Epoch-0 mtime (gzip already writes MTIME=0) means same
    // content -> same artifact — what lets a restarted pipeline prove
    // it converged to the uninterrupted run's output.
    entry.setModTime(0L)
    val record = new ByteArrayOutputStream()
    new TarArchiveOutputStream(record).putArchiveEntry(entry)
    val pieces = Bytes(record.toByteArray) +:
      parts.zipWithIndex.map { case (part, i) =>
        val skip = if (i == 0) 0 else header.length
        Part(part.getPath.toString, skip, part.getLen - skip)
      } :+
      // pad the entry to whole records, then the two zero end records
      Bytes(new Array[Byte]((-size & 511).toInt + 1024))
    val members = new Path(tmp, "_members")
    val total = pieces.map(_.len).sum
    val nMembers = ((total + memberBytes - 1) / memberBytes).toInt
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    Obs.scope("deflate")(sc.parallelize(0 until nMembers, nMembers).foreach { k =>
      val out = new GZIPOutputStream(new BufferedOutputStream(
        members.getFileSystem(conf.value).create(new Path(members, f"$k%06d.gz"), true)), 65536)
      try writeRange(pieces, header, k * memberBytes, math.min(total, (k + 1) * memberBytes),
        conf.value, out)
      finally out.close()
    })
    Obs.scope("concat_swap") {
      val outP = new Path(tgzPath)
      val next = new Path(tgzPath + ".next")
      val outFs = FileSystem.get(outP.toUri, sc.hadoopConfiguration)
      Swap.recover(outFs, outP)
      val out = outFs.create(next, true)
      try (0 until nMembers).foreach { k =>
        val in = fs.open(new Path(members, f"$k%06d.gz"))
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false) finally in.close()
      } finally out.close()
      Swap.replace(outFs, outP, next)
      fs.delete(tmp, true)
    }
  }

  /** A run of the tar stream. */
  private sealed trait Piece { def len: Long }
  private case class Bytes(bytes: Array[Byte]) extends Piece { def len: Long = bytes.length }
  /** `len` bytes of the part file at `path`, after its first `skip`. */
  private case class Part(path: String, skip: Long, len: Long) extends Piece

  /** Writes bytes `[lo, hi)` of the stream `pieces` to `out`. A part that
    * skips its first bytes must start with `header`; the range holding
    * the part's start checks that. */
  private def writeRange(pieces: Seq[Piece], header: Array[Byte], lo: Long, hi: Long,
      conf: org.apache.hadoop.conf.Configuration, out: OutputStream): Unit = {
    var pos = 0L
    pieces.foreach { piece =>
      val from = math.max(lo, pos) - pos
      val until = math.min(hi, pos + piece.len) - pos
      piece match {
        case Bytes(bytes) =>
          if (from < until) out.write(bytes, from.toInt, (until - from).toInt)
        case Part(path, skip, _) =>
          val checks = skip > 0 && lo <= pos && pos < hi
          if (from < until || checks) {
            val p = new Path(path)
            val in = p.getFileSystem(conf).open(p)
            try {
              if (checks) {
                val own = new Array[Byte](header.length)
                in.readFully(own)
                if (!own.sameElements(header))
                  throw new IllegalStateException(
                    s"$path does not start with the header of the first part")
              }
              in.seek(skip + from)
              org.apache.hadoop.io.IOUtils.copyBytes(in, out, until - from, false)
            } finally in.close()
          }
      }
      pos += piece.len
    }
  }

  private val PartFile = """^part-(\d+)-.*\.csv$""".r

  /** The bytes of `file` up to and including its first newline. */
  private def firstLine(fs: FileSystem, file: FileStatus): Array[Byte] = {
    val in = new BufferedInputStream(fs.open(file.getPath))
    try {
      val line = Iterator.continually(in.read()).takeWhile(_ >= 0)
        .takeWhile(_ != '\n').map(_.toByte).toArray
      if (line.length < file.getLen) line :+ '\n'.toByte else line
    } finally in.close()
  }
}
