package graft.merge

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's merge/publish job (scripts/spark_merge_dfs.py), i.e. the
  * upsert that keeps the season dataset current:
  * season ∪_byName delta → one row per (game_id, time_remaining, quarter).
  *
  * Scale notes: the union+dedup is a single hash shuffle on the dedup key —
  * that is the plan shape at any scale. The tgz single-artifact packaging
  * (S3/S5) round-trips bytes through the driver exactly like the reference;
  * it exists for artifact parity and is the SMALL-artifact path. The scale
  * path is [[MergeTable]]: a bucketed parquet table that executors merge
  * into directly, no driver bottleneck, no coalesce(1).
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
    * [[MergeTable]]'s `__bucket`). When present, the union is hash-
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
    val tagged = if (extraPartitionCols.isEmpty) tagged0
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

  /** S3: season dataset from a single `.tgz` holding one headered CSV.
    * Driver-side gunzip+untar (skipping macOS `._*` members), then the
    * lines are distributed and CSV-parsed on executors
    * (spark_merge_dfs.py:53-71; utf-8 with replacement, same as its
    * `decode('utf-8', errors='replace')`).
    */
  def readSeasonTgz(spark: SparkSession, tgzPath: String): DataFrame = {
    val p = new Path(tgzPath)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    val in = new TarArchiveInputStream(
      new GZIPInputStream(new BufferedInputStream(fs.open(p))))
    try {
      val lines = Iterator.continually(in.getNextEntry)
        .takeWhile(_ != null)
        .collectFirst {
          case e: TarArchiveEntry if e.isFile &&
              !new Path(e.getName).getName.startsWith("._") &&
              e.getName.endsWith(".csv") =>
            val codec = scala.io.Codec(StandardCharsets.UTF_8)
              .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
              .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
            scala.io.Source.fromInputStream(in)(codec).getLines().toVector
        }
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no .csv member in $tgzPath"))
      import spark.implicits._
      spark.read.option("header", "true").csv(spark.createDataset(lines))
    } finally in.close()
  }

  /** S5 small-artifact path: single CSV inside a `.tgz`
    * (spark_merge_dfs.py:86-128). coalesce(1) narrows without a shuffle;
    * the repack runs on the driver over the one part file.
    * Packed at the sibling `<tgz>.next` and [[Swap.replace]]d in, so a
    * kill mid-pack never leaves a truncated artifact as the only copy.
    */
  def publishTgz(df: DataFrame, tmpDir: String, tgzPath: String,
      csvName: String): Unit = {
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmpDir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmp = new Path(tmpDir)
    val fs = FileSystem.get(tmp.toUri, conf)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".csv"))
      .getOrElse(throw new java.io.FileNotFoundException(s"no part file in $tmpDir"))
    val outP = new Path(tgzPath)
    val next = new Path(tgzPath + ".next")
    val outFs = FileSystem.get(outP.toUri, conf)
    Swap.recover(outFs, outP)
    val tar = new TarArchiveOutputStream(
      new GZIPOutputStream(new BufferedOutputStream(outFs.create(next, true))))
    try {
      val len = fs.getFileStatus(part).getLen
      val entry = new TarArchiveEntry(csvName)
      entry.setSize(len)
      // reproducible artifact: a fresh TarArchiveEntry stamps wall-clock
      // mtime, making two runs over identical data publish different
      // bytes. Epoch-0 mtime (gzip already writes MTIME=0) means same
      // content -> same artifact — what lets a restarted pipeline prove
      // it converged to the uninterrupted run's output.
      entry.setModTime(0L)
      tar.putArchiveEntry(entry)
      val in = fs.open(part)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, tar, 65536, false)
      finally in.close()
      tar.closeArchiveEntry()
    } finally tar.close()
    Swap.replace(outFs, outP, next)
    fs.delete(tmp, true)
  }
}
