package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale techniques as reusable operators: skew salting and bucketed
  * co-located joins. These are the knobs a 100 TB deployment turns when
  * AQE's automatic skew handling isn't enough or when a join key is
  * reused across many queries.
  */
object ScaleOps {
  /** Two-stage aggregation for skewed group keys. Stage 1 spreads each
    * hot key over `buckets` salted sub-keys (shuffle 1 is balanced);
    * stage 2 combines the per-salt partials (shuffle 2 moves only
    * `buckets` rows per key). Works for any algebraic aggregate — the
    * caller provides partial and final expressions.
    *
    * Example: salted count+sum
    *   saltedAggregate(df, Seq(col("k")), 32,
    *     partial = Seq(count(lit(1)).as("c"), sum(col("v")).as("s")),
    *     fin     = Seq(sum(col("c")).as("n"), sum(col("s")).as("total")))
    */
  def saltedAggregate(df: DataFrame, keys: Seq[Column], buckets: Int,
      partial: Seq[Column], fin: Seq[Column]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
    val stage1 = salted.groupBy(keys :+ col("__salt"): _*)
      .agg(partial.head, partial.tail: _*)
    stage1.groupBy(keys: _*).agg(fin.head, fin.tail: _*)
  }

  /** Skew-proof equi-join of a large skewed frame against a small frame.
    * Hybrid form: a cheap sampled histogram of the big side's key column
    * finds the keys hot enough to choke a single task
    * (≥ `hotRowThreshold` estimated rows); ONLY those rows get a
    * deterministic-per-row salt, with the matching small-side slice
    * replicated once per salt value and joined on (key, salt). Every
    * cold key takes the plain equi-join — no salt column, no
    * replication — and the two branches union. With no hot keys at all
    * the call degenerates to the plain join and pays only the sample.
    *
    * Salting every row (the naive form) taxes the common case to fix the
    * rare one: the small side shuffles `buckets`× its size even when the
    * histogram is flat. Use when the small side is too big to broadcast
    * but the key histogram is (or might be) spiky.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      buckets: Int, joinType: String = "inner",
      hotRowThreshold: Long = 4L << 20, sampleFraction: Double = 0.01,
      maxHotKeys: Int = 1024): DataFrame = {
    // right/full outer would emit each unmatched small-side row once per
    // salt replica — only join types that never null-pad the small side
    // are sound under replication.
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "semi", "left_anti", "leftanti", "anti")
      .contains(joinType.toLowerCase),
      s"saltedJoin: joinType '$joinType' would duplicate unmatched " +
        "small-side rows across salt replicas; use inner/left/semi/anti")
    val hot = sampleHotKeys(big, key, hotRowThreshold, sampleFraction, maxHotKeys)
    if (hot.isEmpty) return big.join(small, Seq(key), joinType)
    // null-safe split: isin(null) yields NULL, and big-side null-key rows
    // belong in the cold branch (they never equi-match but left/anti must
    // keep them exactly once)
    val isHot = coalesce(col(key).isin(hot: _*), lit(false))
    val hotJoined = big.filter(isHot)
      .withColumn("__salt",
        pmod(spark_partition_id() + monotonically_increasing_id(), lit(buckets)))
      .join(small.filter(coalesce(col(key).isin(hot: _*), lit(false)))
        .withColumn("__salt", explode(sequence(lit(0L), lit(buckets - 1L)))),
        Seq(key, "__salt"), joinType)
      .drop("__salt")
    val coldJoined = big.filter(!isHot)
      .join(small.filter(!coalesce(col(key).isin(hot: _*), lit(false))),
        Seq(key), joinType)
    hotJoined.unionByName(coldJoined)
  }

  /** Estimated-hot keys of `df.key`: sample `fraction` of the column,
    * keep keys whose sampled count extrapolates to ≥ `rowThreshold` full
    * rows, cap at the `maxKeys` most frequent (a driver-bounded handful
    * of scalars — the histogram itself never leaves the executors).
    * Seeded sample → deterministic across retries of the same plan.
    */
  private[graft] def sampleHotKeys(df: DataFrame, key: String,
      rowThreshold: Long, fraction: Double, maxKeys: Int): Seq[Any] = {
    require(fraction > 0 && fraction <= 1, s"sampleFraction $fraction not in (0,1]")
    val minSampled = math.max(1L, math.round(rowThreshold * fraction))
    df.select(col(key)).filter(col(key).isNotNull)
      .sample(withReplacement = false, fraction, seed = 7L)
      .groupBy(col(key)).count()
      .filter(col("count") >= minSampled)
      .orderBy(col("count").desc, col(key))
      .limit(maxKeys)
      .collect().map(_.get(0)).toSeq
  }

  /** Rebalance a skinny source before CPU-heavy per-row work. A scan's
    * parallelism is bounded by file/row-group count, not data volume — a
    * single-row-group parquet file runs all downstream narrow compute on
    * one task no matter how many cores exist. When the planned partition
    * count is below the cluster's parallelism, one extra round-robin
    * shuffle buys full-width execution of the expensive map stage
    * (measured 2× on the winnowing fingerprint pipeline at sf0.1,
    * shuffle included). No-op when the source is already wide, so it is
    * safe to leave in place for cluster deployments with many files.
    *
    * Width detection avoids materializing an RDD lineage per call: when
    * the plan is a narrow chain over file scans, the planned width is
    * computed from the relations' (already in-memory) file listings with
    * Spark's own split arithmetic; `knownPartitions` lets callers that
    * track their source width skip even that; only otherwise does it fall
    * back to `queryExecution.toRdd` (the pre-AQE planned width — what the
    * repartition decision is about anyway).
    */
  def rebalance(df: DataFrame, knownPartitions: Int = -1): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val have =
      if (knownPartitions >= 0) knownPartitions
      else plannedScanWidth(df).getOrElse(df.queryExecution.toRdd.getNumPartitions)
    if (have < want) df.repartition(want) else df
  }

  /** Planned scan width for a narrow (no exchange possible) plan over
    * file relations, from file-index metadata only. None when any node
    * could change partitioning — caller falls back to physical planning.
    */
  private[graft] def plannedScanWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
    import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
    val spark = df.sparkSession
    def width(plan: LogicalPlan): Option[Int] = plan match {
      case Project(_, c) => width(c)
      case Filter(_, c) => width(c)
      case SubqueryAlias(_, c) => width(c)
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        // The split arithmetic below models only the simple case: an
        // unpartitioned, unbucketed relation whose every file splits at
        // maxSplitBytes. A partitioned tree (listFiles(Nil, Nil) ignores
        // the plan's partition filters), a bucketed relation (one task
        // per bucket), or a non-splittable format (one task per file)
        // each make the estimate overstate the planned width — and an
        // overstated width silently skips a needed rebalance. Fall back
        // to physical planning for those shapes instead of guessing.
        if (fs.partitionSchema.nonEmpty || fs.bucketSpec.isDefined) return None
        val parts = fs.location.listFiles(Nil, Nil)
        val splittable = parts.iterator.flatMap(_.files).forall { f =>
          fs.fileFormat.isSplitable(spark, fs.options, f.getPath)
        }
        if (!splittable) return None
        val maxSplit = FilePartition.maxSplitBytes(spark, parts)
        val open = spark.sessionState.conf.filesOpenCostInBytes
        val splits = parts.iterator.flatMap(_.files).flatMap { f =>
          val len = f.getLen
          Seq.fill((len / maxSplit).toInt)(maxSplit) ++
            (if (len % maxSplit > 0) Seq(len % maxSplit) else Nil)
        }.toSeq.sortBy(-_)
        // Mirrors FilePartition.getFilePartitions: close the current bin
        // when the next split would push its data size past maxSplit;
        // each packed split costs its size plus openCostInBytes.
        var n = 0
        var cur = 0L
        var nonEmpty = false
        splits.foreach { s =>
          if (nonEmpty && cur + s > maxSplit) { n += 1; cur = 0L; nonEmpty = false }
          cur += s + open
          nonEmpty = true
        }
        if (nonEmpty) n += 1
        Some(math.max(n, 1))
      case _ => None
    }
    width(df.queryExecution.optimizedPlan)
  }

  /** LSH candidate generation with a per-bucket cardinality cap. A band
    * bucket holding n docs emits C(n,2) pairs, so one super-frequent
    * bucket (a stopword shingle, boilerplate header, empty-ish docs)
    * turns the band join quadratic — the classic LSH skew failure at
    * corpus scale. Buckets over `maxBucketSize` are dropped entirely:
    * an over-frequent signature is uninformative for near-dup detection
    * (its members agree on something ubiquitous, not on content), and
    * the pairs it would emit are exactly the ones that swamp the
    * verify stage. Output is the candidate (a, b) pair set (a < b,
    * distinct) from surviving buckets.
    */
  def cappedBandJoin(bandKeys: DataFrame, idCol: String,
      bucketCols: Seq[String], maxBucketSize: Int): DataFrame = {
    val bc = bucketCols.map(col)
    // cap on DISTINCT ids per the cardinality contract: duplicate
    // (id, bucket) rows must not push an under-cap bucket over the limit
    val ok = bandKeys.join(
      bandKeys.groupBy(bc: _*).agg(countDistinct(col(idCol)).as("__n"))
        .filter(col("__n") <= maxBucketSize)
        .select(bc: _*),
      bucketCols)
    ok.select(bc :+ col(idCol).as("a"): _*)
      .join(ok.select(bc :+ col(idCol).as("b"): _*), bucketCols)
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  /** Bucketed table write: pre-shuffles once at write time so every
    * later join/aggregate on `bucketCols` is exchange-free. The 100 TB
    * pattern for dimension/fact co-location.
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Range-cluster a dataset on `colNames` and write parquet whose
    * per-file (and per-row-group) min/max statistics are tight and
    * pairwise disjoint on the leading column — the data-layout move that
    * makes predicate pushdown actually skip I/O. A filter on the cluster
    * key then reads ~1/n of the files (parquet row-group stats pruning);
    * unclustered layout scatters every key range across every file and
    * skips nothing. This is the vendor-neutral core of Z-ordering for the
    * single-column case; at 100 TB it's the difference between a point
    * query costing a full scan and costing one file.
    */
  def clusterForSkipping(df: DataFrame, path: String, n: Int,
      colNames: Seq[String]): Unit =
    df.repartitionByRange(n, colNames.map(col): _*)
      .sortWithinPartitions(colNames.map(col): _*)
      .write.mode("overwrite").parquet(path)

  /** Z-value (Morton interleave) column over `colNames`: each column is
    * linearly scaled to a `bits`-bit integer from a one-pass (min, max)
    * stats job (the driver receives 2k scalars, never data), then the
    * bits interleave — column j contributes bit i to z-position
    * `i * k + j`, so a contiguous z-range is simultaneously narrow in
    * EVERY dimension instead of only the leading one. Nulls sort first
    * (scaled 0). Pure Column algebra: ~`bits * k` shift/or terms, fully
    * whole-stage-codegen'd, no UDF, no format dependency.
    */
  def withZValue(df: DataFrame, colNames: Seq[String], bits: Int = 8,
      zCol: String = "__z"): DataFrame = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val k = colNames.size
    require(k >= 1 && k * bits <= 63,
      s"zvalue: $k cols x $bits bits must fit a signed long")
    // temporal columns interleave on their epoch value: DATE and
    // TIMESTAMP_NTZ have no direct double cast, so route them through
    // TIMESTAMP (session-UTC, order-preserving) first
    val numeric: Map[String, Column] = colNames.map { c =>
      c -> (df.schema(c).dataType match {
        case DateType | TimestampNTZType => col(c).cast(TimestampType).cast("double")
        case _ => col(c).cast("double")
      })
    }.toMap
    val statCols = colNames.flatMap(c => Seq(min(numeric(c)), max(numeric(c))))
    val row = df.agg(statCols.head, statCols.tail: _*).head()
    val lim = (1L << bits) - 1
    val scaled = colNames.zipWithIndex.map { case (c, j) =>
      // null min/max = empty frame or all-null column: scale to constant 0
      // (getDouble on the null cell would throw before any guard)
      if (row.isNullAt(2 * j) || row.isNullAt(2 * j + 1)) lit(0L)
      else {
        val (lo, hi) = (row.getDouble(2 * j), row.getDouble(2 * j + 1))
        if (hi <= lo) lit(0L) // constant column
        else least(lit(lim), greatest(lit(0L),
          floor((coalesce(numeric(c), lit(lo)) - lit(lo)) /
            lit(hi - lo) * lit(lim.toDouble)).cast("long")))
      }
    }
    val z = (0 until bits).flatMap { i =>
      scaled.zipWithIndex.map { case (s, j) =>
        shiftleft(shiftright(s, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_.bitwiseOR(_))
    df.withColumn(zCol, z)
  }

  /** Multi-dimensional clustered write (Z-order): range-partition and
    * sort by [[withZValue]] so every file's min/max statistics are tight
    * on ALL listed columns at once. [[clusterForSkipping]]'s
    * lexicographic layout prunes perfectly on its leading column and not
    * at all on the others; the Z-layout trades some leading-column
    * tightness for pruning on every dimension — with 2 columns and n
    * files, a point filter on EITHER column overlaps ~sqrt(n)/n of the
    * files instead of all of them. This is the vendor-neutral core of
    * Delta/Iceberg `OPTIMIZE ZORDER BY`; at 100 TB it turns "filter on
    * the second column = full scan" into "read the matching stripe".
    */
  def writeZOrdered(df: DataFrame, path: String, n: Int,
      colNames: Seq[String], bits: Int = 8): Unit = {
    // collision-free scratch column: a user column named __z must survive
    val zc = Iterator.from(0).map(i => s"__z$i")
      .find(c => !df.columns.contains(c)).get
    withZValue(df, colNames, bits, zc)
      .repartitionByRange(n, col(zc))
      .sortWithinPartitions(col(zc))
      .drop(zc)
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file (min, max) of a long column from parquet footer metadata —
    * the statistics a pushed-down filter prunes against. Driver-side
    * footer reads only; no data I/O.
    *
    * Pruning semantics: a file containing ANY row group whose chunk for
    * `column` lacks usable statistics (missing, empty, or all-null)
    * reports the full `(Long.MinValue, Long.MaxValue)` range — "cannot
    * prune, must always scan". Omitting it would invert the contract: a
    * consumer selecting files by range overlap would silently skip rows.
    * Only truly EMPTY files (zero row groups — nothing to scan) are
    * omitted.
    */
  def fileStats(spark: org.apache.spark.sql.SparkSession, path: String,
      column: String): Seq[(String, Long, Long)] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    fs.listStatus(p).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, conf))
        try {
          val blocks = r.getFooter.getBlocks.asScala
          if (blocks.isEmpty) None // empty file: nothing to scan or prune
          else {
            val mm = blocks.map { b =>
              b.getColumns.asScala
                .find(_.getPath.toDotString == column)
                .filter(c => c.getStatistics != null && !c.getStatistics.isEmpty
                  && c.getStatistics.hasNonNullValue)
                .map { c =>
                  val st = c.getStatistics
                  (st.genericGetMin.asInstanceOf[Number].longValue(),
                    st.genericGetMax.asInstanceOf[Number].longValue())
                }
            }
            if (mm.exists(_.isEmpty)) // some row group unprunable → file is
              Some((f.getPath.getName, Long.MinValue, Long.MaxValue))
            else {
              val ranges = mm.flatten
              Some((f.getPath.getName, ranges.map(_._1).min, ranges.map(_._2).max))
            }
          }
        } finally r.close()
      }
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) files. Streaming sinks and per-batch
    * writers accrete small files that tax scan planning and the
    * NameNode/object store; periodic compaction is table maintenance 101
    * at 100 TB.
    *
    * The rewrite is staged at `path.compact` and replaced in through
    * [[graft.merge.Swap]] (single writer): a complete copy always exists
    * on disk, and a run killed mid-replace is recovered from `path.old`
    * on the next call. Readers racing the two renames can briefly see a
    * missing path; with a transactional table format (Delta/Iceberg)
    * this becomes a metadata swap.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri,
      spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact")
    graft.merge.Swap.recover(fs, p)
    val (frame, nFiles) = compactFrame(spark, path, targetBytes)
    frame.write.mode("overwrite").parquet(tmp.toString)
    graft.merge.Swap.replace(fs, p, tmp)
    nFiles
  }

  /** The rewrite plan [[compact]] executes: (frame to write, target file
    * count). The common case — merging MANY near-uniform small files into
    * fewer — takes `coalesce`: a shuffle-free merge of scan partitions
    * that halves the I/O (read once, write once — `repartition` also
    * shuffles every byte through the exchange). `repartition` remains for
    * the shapes coalesce handles badly: growing the file count (coalesce
    * cannot), or skewed inputs (one file ≥ 2× the mean), where merging
    * neighbors without redistribution would just re-emit the skew.
    */
  private[graft] def compactFrame(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long): (org.apache.spark.sql.DataFrame, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = org.apache.hadoop.fs.FileSystem.get(p.toUri,
      spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val shrinkUniform = files.length > nFiles &&
      files.map(_.getLen).max.toDouble <= 2.0 * bytes / files.length
    (if (shrinkUniform) df.coalesce(nFiles) else df.repartition(nFiles), nFiles)
  }
}
