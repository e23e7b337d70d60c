package graft.merge

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader, FileNotFoundException, InputStreamReader}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's merge/publish job (scripts/spark_merge_dfs.py), i.e. the
  * upsert that keeps the season dataset current:
  * season ∪_byName delta → one row per (game_id, time_remaining, quarter).
  *
  * Layout of the tgz path (S3/S5), the single-artifact path kept for
  * parity with the reference: the season is gunzipped and untarred on one
  * executor ([[readSeasonTgz]]); the union is range-partitioned once on
  * the dedup keys, and that one exchange serves both the winner window
  * and the caller's `orderBy(keys)`; [[publishTgz]] writes one CSV part
  * per partition in parallel, and only the final repack into the tar
  * entry streams bytes through the driver. The scale path is
  * [[MergeTable]]: a bucketed parquet table that executors merge into
  * directly, one bucket-hash exchange, no single artifact.
  */
object Merge {
  /** Dedup keys of the season table (reference spark_merge_dfs.py:83). */
  val dedupKeys: Seq[String] = Seq("game_id", "time_remaining", "quarter")

  /** S2: headered, string-typed CSV directory scan
    * (spark_merge_dfs.py:73-80 — header=true, no inferSchema). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").csv(path)

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
    * (spark_merge_dfs.py:53-71). One executor task gunzips and untars the
    * file and streams the first `.csv` member's lines, skipping macOS
    * `._*` AppleDouble members; the lines are CSV-parsed by Spark's
    * reader. Decoding is UTF-8 with replacement, the reference's
    * `decode('utf-8', errors='replace')`. The driver holds no season rows,
    * and the plan is re-read on every action: it sees the file as it is
    * when it runs. A tgz without a `.csv` member fails the first action
    * (the header read inside this call) with [[java.io.FileNotFoundException]]
    * as the job's cause.
    */
  def readSeasonTgz(spark: SparkSession, tgzPath: String): DataFrame = {
    val lines = spark.sparkContext.binaryFiles(tgzPath, 1).flatMap { case (_, file) =>
      val in = new TarArchiveInputStream(
        new GZIPInputStream(new BufferedInputStream(file.open())))
      TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
      csvMemberLines(in, tgzPath)
    }
    spark.read.option("header", "true")
      .csv(spark.createDataset(lines)(Encoders.STRING))
  }

  /** Lines of the first `.csv` member of `in` that is not a `._*`
    * AppleDouble companion; `in` is left positioned inside that member. */
  private def csvMemberLines(in: TarArchiveInputStream, tgzPath: String): Iterator[String] = {
    Iterator.continually(in.getNextEntry).takeWhile(_ != null)
      .find(e => e.isFile && !new Path(e.getName).getName.startsWith("._") &&
        e.getName.endsWith(".csv"))
      .getOrElse(throw new FileNotFoundException(s"no .csv member in $tgzPath"))
    val utf8 = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val reader = new BufferedReader(new InputStreamReader(in, utf8))
    Iterator.continually(reader.readLine()).takeWhile(_ != null)
  }

  /** S5 small-artifact path: single CSV inside a `.tgz`
    * (spark_merge_dfs.py:86-128). Each partition writes its own headered
    * CSV part in parallel; the driver streams the parts into the one tar
    * entry in partition order, keeping only the first part's header. That
    * is the byte sequence `coalesce(1)` would write, so an ordered frame
    * publishes the same artifact at any partition count.
    * Packed at the sibling `<tgz>.next` and [[Swap.replace]]d in, so a
    * kill mid-pack never leaves a truncated artifact as the only copy.
    */
  def publishTgz(df: DataFrame, tmpDir: String, tgzPath: String,
      csvName: String): Unit = {
    df.write.mode("overwrite").option("header", "true").csv(tmpDir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmp = new Path(tmpDir)
    val fs = FileSystem.get(tmp.toUri, conf)
    // part-<partition>-<job uuid>-c<file>.csv: one uuid per write, so the
    // name orders files within a partition
    val parts = fs.listStatus(tmp).toSeq.flatMap { st =>
      PartFile.findFirstMatchIn(st.getPath.getName).map(m => (m.group(1).toInt, st))
    }.sortBy { case (partition, st) => (partition, st.getPath.getName) }.map(_._2)
    if (parts.isEmpty) throw new FileNotFoundException(s"no part file in $tmpDir")
    val header = firstLine(fs, parts.head)
    val outP = new Path(tgzPath)
    val next = new Path(tgzPath + ".next")
    val outFs = FileSystem.get(outP.toUri, conf)
    Swap.recover(outFs, outP)
    val tar = new TarArchiveOutputStream(
      new GZIPOutputStream(new BufferedOutputStream(outFs.create(next, true))))
    try {
      val entry = new TarArchiveEntry(csvName)
      entry.setSize(parts.map(_.getLen).sum - header.length.toLong * (parts.size - 1))
      // reproducible artifact: a fresh TarArchiveEntry stamps wall-clock
      // mtime, making two runs over identical data publish different
      // bytes. Epoch-0 mtime (gzip already writes MTIME=0) means same
      // content -> same artifact — what lets a restarted pipeline prove
      // it converged to the uninterrupted run's output.
      entry.setModTime(0L)
      tar.putArchiveEntry(entry)
      parts.zipWithIndex.foreach { case (part, i) =>
        val in = fs.open(part.getPath)
        try {
          if (i > 0) {
            val own = new Array[Byte](header.length)
            in.readFully(own)
            if (!own.sameElements(header))
              throw new IllegalStateException(
                s"${part.getPath} does not start with the header of ${parts.head.getPath}")
          }
          org.apache.hadoop.io.IOUtils.copyBytes(in, tar, 65536, false)
        } finally in.close()
      }
      tar.closeArchiveEntry()
    } finally tar.close()
    Swap.replace(outFs, outP, next)
    fs.delete(tmp, true)
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
