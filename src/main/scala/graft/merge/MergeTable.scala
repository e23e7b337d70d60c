package graft.merge

import graft.obs.Obs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-pruned MERGE over a hive-partitioned parquet layout — the
  * storage-layer merge behind every `Streaming.upsertSink` micro-batch
  * (reference analogue: the whole-season S3 republish at
  * `scripts/spark_merge_dfs.py:96-123`, which rewrites everything every
  * run). Delta/Iceberg `MERGE INTO` is the managed-table form; no such
  * jars exist in this environment (see BUILD_NOTES "Environment facts"),
  * and this is the classic production pattern those formats grew out of:
  *
  * The table lives as `path/__bucket=<b>/` dirs, `b = pmod(xxhash64(keys),
  * nBuckets)`. A merge then:
  *  1. computes the distinct buckets present in the delta — an aggregate
  *     bounded by nBuckets rows (the one driver-side collect, metadata-
  *     scale by construction, never data-scale);
  *  2. reads ONLY the affected partition dirs (partition pruning — the
  *     scan never touches untouched buckets);
  *  3. merges delta-wins per key (`Merge.mergeDeterministic`);
  *  4. atomically swaps ONLY the affected partition dirs through
  *     [[Swap]]: some complete copy of every bucket exists on disk at
  *     every instant, and a crashed merge is recovered from `.old` on the
  *     next call.
  *
  * Per-batch cost is O(delta + affected-partition bytes), not O(table):
  * with a 100 TB season in 4096 buckets, a delta touching 3% of keys
  * rewrites ~3 TB instead of 100 TB. Replaying the same delta (streaming
  * checkpoint recovery) is a no-op by key-level idempotence, bucket by
  * bucket — a crash that merged only some buckets re-merges to the same
  * state.
  */
object MergeTable {
  val BucketCol = "__bucket"

  /** The measured bucket-count sizing rule as code (r17
    * `BENCH_100X_r17.json` matrix; BUILD_NOTES "MergeTable at production
    * bucket counts"): `nBuckets = tableBytes / 128 MiB`, rounded up to a
    * power of two, clamped to [16, 4096].
    *
    * Why those constants — each endpoint is a measured behavior, not a
    * guess:
    *  - **floor 16**: per-merge constants are ~1.7 ms/dir listing +
    *    ~5-20 ms/dir staged commit + ~0.5-2.5 ms/dir rename, so
    *    OVERsizing a small table drowns it in constants (the q93-shaped
    *    sweep: a tens-of-MB quarantine table at 1024 buckets inflated
    *    the warm repair drain 7.2 → 29.5 s — pure per-dir overhead over
    *    ~50 KB buckets). 16 is the confirmed-correct count for MB-GB
    *    meta/quarantine tables.
    *  - **~128 MiB+ per bucket**: below that, constants start to rival
    *    rewrite bytes; above it, one touched dir = one rewrite task
    *    keeps skewed deltas parallel (the lineitem matrix: a
    *    5%-of-buckets delta rewrote identical BYTES at every count but
    *    fell 8-14 s → 4-6 s with more dirs, because LOW counts cost
    *    parallelism, not bytes).
    *  - **cap 4096**: touched dirs per merge stay ≲ 1k in the common
    *    skewed case and the all-dirs constants stay ~10-20 s/merge —
    *    noise against a data-scale rewrite. At 100 TB that is 25 GiB
    *    per bucket; a 5% delta rewrites ~5 TB across ~205 parallel
    *    tasks.
    *
    * Power-of-two rounding keeps the grid coarse so two nearby estimates
    * of the same table agree, and the result is stable for a table that
    * grows within one octave. The count is a CREATION-time decision:
    * once written, `_meta` pins the layout and merges must match it —
    * callers resuming an existing table adopt `_meta`, never re-derive
    * ([[bucketsFor]]).
    */
  def suggestBuckets(estimatedTableBytes: Long): Int = {
    require(estimatedTableBytes >= 0,
      s"suggestBuckets: negative size estimate $estimatedTableBytes")
    val target = 128L * 1024 * 1024
    val raw = (estimatedTableBytes + target - 1) / target // ceil
    val clamped = math.min(4096L, math.max(16L, raw))
    Integer.highestOneBit(clamped.toInt) match {
      case p if p == clamped => p
      case p => p << 1 // round UP to the next power of two
    }
  }

  /** The bucket count a writer should merge into `path` with: an
    * existing table's persisted `_meta` count wins (bucket counts are
    * immutable per table — a different count would scatter keys across
    * layouts and fail checkMeta loudly); otherwise the sizing rule over
    * the caller's estimate of the table's EVENTUAL size. An estimate of
    * 0 gets the rule's floor (16).
    */
  def bucketsFor(spark: SparkSession, path: String,
      estimatedTableBytes: Long): Int =
    meta(spark, path).map(_._1).getOrElse(suggestBuckets(estimatedTableBytes))

  /** Bucketing metadata persisted with the table. A merge invoked with a
    * different nBuckets (or key set) than the write-time values would
    * compute different bucket assignments and silently land keys in wrong
    * bucket dirs — duplicate keys on read. The `_meta` file makes that a
    * loud error instead.
    */
  private val MetaFile = "_meta"

  /** The table's bucket-id column for `keys` under `nBuckets` — public
    * so a caller that pre-computes a delta's affected-bucket set (e.g.
    * with `observe` on a staging write it already pays for, then passing
    * the set through [[merge]]'s `knownAffected`) derives ids with the
    * TABLE's own hash function, never a caller-side reimplementation
    * that could drift from the persisted layout.
    */
  def bucketColumn(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int")

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // Key names are percent-encoded before the comma-join so a column name
  // containing a comma (legal in Spark via backticks) round-trips as ONE
  // key instead of silently splitting into two and failing every later
  // checkMeta comparison for identical parameters.
  private def encKey(k: String): String =
    java.net.URLEncoder.encode(k, "UTF-8")
  private def decKey(k: String): String =
    java.net.URLDecoder.decode(k, "UTF-8")

  // atomic (Swap.writeText): readers see the old `_meta`, none (absent
  // skips read-side verification) or the new one, never a torn file
  private def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, keys: Seq[String], nBuckets: Int): Unit =
    Swap.writeText(fs, new org.apache.hadoop.fs.Path(p, MetaFile),
      s"nBuckets=$nBuckets\nkeys=${keys.map(encKey).mkString(",")}\n")

  private def readMeta(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[(Int, Seq[String])] = {
    val f = new org.apache.hadoop.fs.Path(p, MetaFile)
    try Swap.readText(fs, f).map { text =>
      val fields = text.linesIterator.filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      val nBuckets = fields.getOrElse("nBuckets",
        throw new IllegalStateException("missing nBuckets field")).toInt
      val keys = fields.getOrElse("keys",
        throw new IllegalStateException("missing keys field"))
        .split(",", -1).toSeq.filter(_.nonEmpty).map(decKey)
      (nBuckets, keys)
    } catch {
      // name the file: a truncated/corrupt _meta should read as "this
      // table's metadata is damaged", not a bare NoSuchElement/NumberFormat
      case e: Exception => throw new IllegalStateException(
        s"MergeTable: unreadable bucketing metadata at $f — delete or " +
          s"restore it to merge into this table (${e.getMessage})", e)
    }
  }

  /** The table's persisted bucketing — `(nBuckets, keys)` from `_meta`,
    * None for tables predating it. Public so callers that own only the
    * table PATH can derive bucket ids with the table's own layout via
    * [[bucketColumn]] instead of threading write-time parameters
    * through every call site.
    */
  def meta(spark: SparkSession, path: String): Option[(Int, Seq[String])] =
    fsOf(spark, path) match { case (fs, p) => readMeta(fs, p) }

  /** Validate caller bucketing against the persisted `_meta`; tables
    * created before `_meta` existed are stamped with the caller's values
    * (first merge claims them — subsequent mismatches then fail loudly).
    */
  private def checkMeta(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, keys: Seq[String], nBuckets: Int): Unit =
    readMeta(fs, p) match {
      case Some((mb, mk)) =>
        require(mb == nBuckets && mk == keys,
          s"MergeTable: table at $p was written with nBuckets=$mb " +
            s"keys=[${mk.mkString(",")}] but merge was invoked with " +
            s"nBuckets=$nBuckets keys=[${keys.mkString(",")}] — mismatched " +
            "bucketing would land keys in wrong bucket dirs")
      case None => writeMeta(fs, p, keys, nBuckets)
    }

  /** The staged-rewrite frame for a (base, delta) pair, both carrying
    * [[BucketCol]] — factored out so PlanShapeSpec gates the PRODUCTION
    * plan's single-exchange property (one bucket-hash shuffle feeding
    * both the winner window and the partitioned write; see the
    * single-shuffle note inside [[merge]]). Public only as a plan
    * builder (PLANS.md generation runs outside the package); [[merge]]
    * is the production entry point.
    */
  def rewritePlan(base: DataFrame, d: DataFrame,
      keys: Seq[String]): DataFrame =
    Merge.deterministicWinner(base, d, keys,
      extraPartitionCols = Seq(BucketCol))

  /** Initial (or full re-) write of the table in the bucketed layout —
    * bucket-clustered like merge's staged write: one file per bucket
    * dir, not one per (task, bucket) pair. */
  def write(df: DataFrame, path: String, keys: Seq[String],
      nBuckets: Int): Unit = {
    df.withColumn(BucketCol, bucketColumn(keys, nBuckets))
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite").parquet(path)
    // stamp AFTER the data write: overwrite mode clears the dir first
    val (fs, p) = fsOf(df.sparkSession, path)
    writeMeta(fs, p, keys, nBuckets)
  }

  /** Read the table (bucket column dropped — layout is an implementation
    * detail of the merge, not part of the row schema).
    *
    * NON-MUTATING crash-consistent view ([[Swap.visible]]): each bucket
    * from its live dir, else from a `.old` backup stranded by a merge
    * killed between its renames; repair is the writer's job.
    *
    * A single directory listing is NOT atomic against a concurrent swap
    * (paginated listStatus RPCs on HDFS, unordered readdir locally): a
    * torn listing could observe a mid-swap bucket in NEITHER its live
    * nor its `.old` position and silently return a table missing that
    * bucket. The double-listing stability loop below closes that hole —
    * any swap completing during or between the listings changes the
    * chosen set and forces a re-list; persistent instability throws
    * rather than returning a possibly-torn view. A reader whose
    * DEFERRED scan then loses the race (its chosen `.old` path deleted
    * before the job executes) fails loudly with a missing-file error —
    * it can never corrupt the writer or see a half-bucket. read() itself
    * CANNOT retry that for you: the frame is lazy, so the race happens at
    * job time, after read() returned. Callers deployed against a
    * concurrent writer must wrap read-AND-consume in a retry —
    * [[readRetrying]] packages exactly that; single-writer callers
    * (streaming sinks, Verify, specs) don't need it.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    readPruned(spark, path, None)

  /** Partition-pruned read: only the bucket dirs whose ids appear in
    * `buckets` are listed into the scan — the read-side twin of merge's
    * affected-bucket pruning. A caller joining a KEYED delta against the
    * table (e.g. the quarantine resolved-side semi-join) knows the only
    * buckets that can match are the delta's own key buckets
    * ([[bucketIds]]); reading the rest would make the per-batch cost
    * O(table) instead of O(touched buckets). When none of the requested
    * buckets exist the table's schema is still returned (empty frame) —
    * schema comes from a metadata-only `limit(0)` over the live dirs.
    *
    * `keys`/`nBuckets` are the bucketing the caller derived `buckets`
    * with, validated against the table's persisted `_meta` — the
    * read-side twin of checkMeta. The write path fails loudly on
    * mismatched bucketing; without this check a pruned READ with stale
    * bucketing would not fail at all, just silently miss rows, which is
    * strictly worse. Tables predating `_meta` (none in-repo) validate
    * vacuously.
    */
  def readBuckets(spark: SparkSession, path: String, buckets: Set[Int],
      keys: Seq[String], nBuckets: Int): DataFrame = {
    val (fs, p) = fsOf(spark, path)
    readMeta(fs, p).foreach { case (mb, mk) =>
      require(mb == nBuckets && mk == keys,
        s"MergeTable.readBuckets: table at $path was written with " +
          s"nBuckets=$mb keys=[${mk.mkString(",")}] but bucket ids were " +
          s"derived with nBuckets=$nBuckets keys=[${keys.mkString(",")}] — " +
          "the pruned read would silently miss matching rows")
    }
    readPruned(spark, path, Some(buckets))
  }

  /** The distinct bucket ids of `df`'s keys under this table layout —
    * bounded by nBuckets rows (metadata-scale collect, same contract as
    * merge's affected-bucket aggregate).
    */
  def bucketIds(df: DataFrame, keys: Seq[String], nBuckets: Int): Set[Int] =
    df.select(bucketColumn(keys, nBuckets).as(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSet

  /** Bucket dir names (live and `.old`) in one listing of `dir`. */
  private def bucketNames(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(dir).map(_.getPath.getName).toSeq
      .filter(_.startsWith(BucketCol + "="))

  private def bucketIdOf(name: String): Int =
    name.stripPrefix(BucketCol + "=").stripSuffix(Swap.OldSuffix).toInt

  private def readPruned(spark: SparkSession, path: String,
      buckets: Option[Set[Int]]): DataFrame = {
    val (fs, p) = fsOf(spark, path)
    def chosenSet(): Set[String] = Swap.visible(bucketNames(fs, p)
      .filter(n => buckets.forall(_.contains(bucketIdOf(n)))))
    // The stability loop alone is NOT enough on a local FS: Hadoop's
    // RawLocalFileSystem.listStatus stats each readdir name and SKIPS
    // entries whose stat fails ("the dir list may have changed"), so a
    // listing racing a bucket's two-rename swap can return with that
    // bucket present under NEITHER name, and two consecutive listings
    // torn by two different swaps of the same bucket can agree — a
    // silent snapshot missing a whole bucket, no exception anywhere
    // (caught live by MergeSpec's reader-vs-writer soak: 228/240 keys,
    // all 12 missing keys in one bucket). Directory listings on HDFS
    // are atomic namenode RPCs, but the reader contract must not
    // depend on that. So after the listing stabilizes, every candidate
    // bucket the listing claims ABSENT is re-checked with direct
    // per-path stats, which are atomic everywhere: live, then backup,
    // then live again — a swap moving the bucket between the first two
    // stats lands it back in `live` by the third. A hidden bucket
    // found = the listing lied = go around again. Cost in the common
    // case is ZERO extra calls: a healthy read's chosen set covers
    // every existing bucket, so there are no claimed-absent ids to
    // stat; only degenerate young/pruned tables stat their (few)
    // truly-absent ids. Candidate ids come from the prune set or from
    // `_meta`'s nBuckets; tables with neither skip verification.
    def claimedAbsentHidden(chosenIds: Set[Int]): Boolean = {
      val candidates = buckets.getOrElse(
        readMeta(fs, p).map { case (n, _) => (0 until n).toSet }
          .getOrElse(Set.empty))
      (candidates -- chosenIds).exists { id =>
        val live = new org.apache.hadoop.fs.Path(p, s"$BucketCol=$id")
        fs.exists(live) || fs.exists(Swap.backup(live)) || fs.exists(live)
      }
    }
    var chosen = chosenSet()
    var ok = false
    var tries = 0
    while (!ok && tries < 8) {
      val again = chosenSet()
      if (again == chosen &&
          !claimedAbsentHidden(chosen.map(bucketIdOf))) ok = true
      else chosen = again // unstable or a hidden bucket: next round re-lists
      tries += 1
    }
    // typed as the transient condition it is, so readRetrying can
    // re-attempt it like any other lost race with a live writer —
    // single-shot read() callers still fail loudly rather than get a
    // possibly-torn view
    if (!ok) throw new java.util.ConcurrentModificationException(
      s"MergeTable.read: listing of $path kept changing (concurrent merges?)")
    // explicit leaf dirs: no partition discovery, so `.old` suffixes
    // never reach a partition-value parser; partitionBy-written files
    // carry no bucket column to drop
    if (chosen.isEmpty && buckets.isDefined)
      // every requested bucket is absent: schema-only read of the live
      // table (parquet footers, no data) so the caller still gets a
      // well-typed empty frame
      readPruned(spark, path, None).limit(0)
    else {
      val df = spark.read.parquet(chosen.toSeq.sorted
        .map(n => new org.apache.hadoop.fs.Path(p, n).toString): _*)
      // Spark's own file enumeration is one more place the swap race
      // hides: a chosen dir can pass the path-existence glob and then
      // vanish before the FileIndex lists it, which Spark tolerates as
      // an EMPTY root — a silent snapshot missing that bucket (the
      // soak's second find). `inputFiles` exposes the pinned
      // enumeration driver-side (no job): every chosen dir must have
      // contributed at least one file — bucket dirs are never empty on
      // disk (partitionBy writes no dir for an empty bucket and
      // deleteWhere drops all-deleted dirs), so a file-less chosen dir
      // always means the enumeration lost a race, never a real state.
      val covered = df.inputFiles.map(f =>
        new org.apache.hadoop.fs.Path(f).getParent.getName).toSet
      val lost = chosen -- covered
      if (lost.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"MergeTable.read: bucket dir(s) ${lost.toSeq.sorted.mkString(",")} " +
          s"of $path vanished between listing and enumeration " +
          "(concurrent merge swap)")
      df
    }
  }

  /** Read-and-consume with a bounded retry: re-invokes [[read]] AND the
    * caller's consuming action when a concurrent merge's swap deletes a
    * chosen `.old` dir between listing and job execution (surfaces as a
    * missing-file failure inside the Spark job). The consume function must
    * EXECUTE the frame (collect/write/count) — returning a lazy frame
    * defeats the point.
    */
  def readRetrying[T](spark: SparkSession, path: String, attempts: Int = 3)(
      consume: DataFrame => T): T = {
    // A lost race with a concurrent swap surfaces in FOUR shapes, not
    // one (found by the reader-vs-writer soak in MergeSpec):
    //  - scan-time FileNotFoundException in the cause chain (a chosen
    //    file deleted before its task read it);
    //  - planning-time AnalysisException PATH_NOT_FOUND (a chosen dir
    //    renamed away between the listing and relation resolution);
    //  - SparkException FAILED_READ_FILE.* without an FNF cause (the
    //    file vanished MID-read — footer fetched, data gone — which
    //    Spark reports as a generic failed read);
    //  - ConcurrentModificationException from read()'s own stability
    //    loop (the listing kept changing under a fast writer).
    // All four mean the same thing — the read lost a race it can win
    // next time — so all four re-list and re-consume.
    def swapRace(t: Throwable): Boolean = t match {
      case null => false
      case _: java.io.FileNotFoundException => true
      case _: java.util.ConcurrentModificationException => true
      // RawLocalFileSystem reports a dir vanishing mid-listStatus as a
      // bare IOException with this message (File.list() returned null)
      case io: java.io.IOException if Option(io.getMessage).exists(
        _.startsWith("Invalid directory or I/O error occurred")) => true
      // the JDK's nio stat path can surface a mid-rename dirent as
      // EACCES -> AccessDeniedException (seen in the soak on a
      // same-uid /tmp table that is freely readable in steady state);
      // a GENUINE permission problem still fails every retry and is
      // rethrown after the bounded attempts
      case _: java.nio.file.AccessDeniedException => true
      case st: org.apache.spark.SparkThrowable
          if Option(st.getCondition).exists(c =>
            c.startsWith("FAILED_READ_FILE") || c == "PATH_NOT_FOUND") => true
      case other => swapRace(other.getCause)
    }
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return consume(read(spark, path))
      catch { case t: Throwable if swapRace(t) =>
        last = t; i += 1
        // brief linear backoff: instant retries can all land inside one
        // long swap window (object-store renames are copies); ~25ms/step
        // keeps total added latency < attempts² × 25ms while letting the
        // writer's current bucket complete
        if (i < attempts) Thread.sleep(25L * i)
      }
    }
    throw last
  }

  /** The staged-rewrite tail of [[merge]] and [[deleteWhere]]: clear the
    * sibling `__staging` dir, `stage` the rewrite into it by bucket,
    * `verify` the staged bucket ids while the table is untouched, then
    * [[Swap.replace]] each affected bucket and drop staging. An affected
    * bucket with no staged dir is removed with `absentRemoves` (all its
    * rows deleted); without it (merge: delta-wins stages every affected
    * bucket) it is a writer anomaly that fails before live is touched.
    */
  private def stagedRewrite(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, affected: Seq[Int],
      absentRemoves: Boolean, onBucketSwapped: Int => Unit)(stage: String => Unit)(
      verify: Set[Int] => Unit): Unit = {
    val staging = new org.apache.hadoop.fs.Path(p.toString + "__staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    Obs.scope("stage_write") { stage(staging.toString) }
    verify(if (!fs.exists(staging)) Set.empty[Int]
      else bucketNames(fs, staging).map(bucketIdOf).toSet)
    Obs.scope("swap") {
      affected.foreach { b =>
        val name = s"$BucketCol=$b"
        Swap.replace(fs, new org.apache.hadoop.fs.Path(p, name),
          new org.apache.hadoop.fs.Path(staging, name), absentRemoves)
        onBucketSwapped(b)
      }
      fs.delete(staging, true)
    }
  }

  /** MERGE: upsert `delta` into the table at `path`, delta-wins per key,
    * touching only the partition dirs whose buckets appear in the delta.
    * Creates the table if absent.
    *
    * Concurrency contract (spec-asserted in MergeSpec):
    *  - SINGLE WRITER. Two concurrent merges race on the same staging dir
    *    and `.old` backups; the caller serializes writers (the streaming
    *    `upsertSink` is its season's only writer, and its micro-batches
    *    are sequential by construction).
    *  - Readers are safe and NON-MUTATING ([[read]] never repairs the
    *    table — the writer's [[Swap.recover]] does): between any two bucket
    *    swaps every bucket dir holds a complete copy (entirely pre-merge
    *    or entirely post-merge), and a key lives in exactly one bucket,
    *    so a read observes each key exactly once with its old or new
    *    value — never a mix within a bucket, never a missing bucket.
    *    Within one bucket's two-rename swap the reader's listing falls
    *    back to the `.old` backup; if the concurrent swap deletes that
    *    backup before the reader's scan executes, the read fails loudly
    *    and [[readRetrying]] re-runs it (snapshot isolation across that window is what a
    *    manifest-based table format adds — out of scope per BUILD_NOTES).
    *  - A merge killed between bucket swaps leaves a half-merged table
    *    that is complete and consistent (some buckets new, the rest old);
    *    re-merging the same delta is idempotent per key and converges to
    *    the fully-merged state.
    *
    * Returns the delta's affected bucket ids (≤ nBuckets, already
    * computed for partition pruning) so a caller that next READS the
    * table keyed by the same delta (e.g. the quarantine route's
    * resolved-side semi-join via [[readBuckets]]) can prune without
    * paying a second distinct-buckets job over the delta.
    */
  def merge(delta: DataFrame, path: String, keys: Seq[String],
      nBuckets: Int): Seq[Int] =
    merge(delta, path, keys, nBuckets, _ => ())

  /** Test seam: `onBucketSwapped(b)` runs after bucket `b`'s swap
    * completes — specs use it to observe (or kill) the merge between
    * swaps. Production callers use the 4-arg overload.
    *
    * `knownAffected`, when provided, MUST be exactly the delta's
    * distinct bucket set under this table's (keys, nBuckets) — derived
    * with [[bucketColumn]], e.g. observed for free on a staging write
    * the caller already performs. The merge then skips its own
    * distinct-buckets job (one fewer Spark job per merge — measurable
    * in a per-micro-batch loop). A WRONG set breaks
    * the merge the same way stale bucketing would (missed or unpruned
    * buckets), which is why the only sanctioned derivation is
    * [[bucketColumn]] + the same delta rows.
    */
  private[graft] def merge(delta: DataFrame, path: String, keys: Seq[String],
      nBuckets: Int, onBucketSwapped: Int => Unit,
      knownAffected: Option[Seq[Int]] = None): Seq[Int] = {
    val spark = delta.sparkSession
    val (fs, p) = fsOf(spark, path)
    // writer-side repair of a crashed swap (readers never mutate); staged
    // replacements live in the sibling `__staging` dir, never inside p
    Swap.recoverAll(fs, p)
    val created = !fs.exists(p)
    if (created) Obs.scope("create") { write(delta, path, keys, nBuckets) }
    else checkMeta(fs, p, keys, nBuckets)
    // bounded by nBuckets rows; on the create path only the return value
    val affected = knownAffected.getOrElse(
      Obs.scope("affected") { bucketIds(delta, keys, nBuckets).toSeq }).sorted
    if (created || affected.isEmpty) return affected
    val d = delta.withColumn(BucketCol, bucketColumn(keys, nBuckets))
    // partition-pruned base read: only affected bucket dirs are scanned
    val base = spark.read.parquet(path)
      .filter(col(BucketCol).isin(affected.map(Integer.valueOf): _*))
      .withColumn(BucketCol, col(BucketCol).cast("int"))
    // Single-shuffle staged rewrite (r16): the union is hash-partitioned
    // on the bucket column ONCE, and the winner window partitions by
    // (__bucket, keys) — the same grouping as keys alone, since the
    // bucket is a pure function of the keys, and a clustering the bucket
    // hash partitioning already satisfies, so no second exchange.
    // Pre-r16 this ran mergeDeterministic's own keys-exchange and THEN a
    // bucket repartition: two full shuffles of the merged rows per merge
    // — the dominant per-micro-batch cost in the drain attribution
    // (BUILD_NOTES R16). The bucket shuffle also lands
    // each bucket in one task → one file per bucket dir, which IS the
    // table's intended layout (partitionBy alone would write one file
    // per (task, bucket) pair — 256 tiny files from a 16-task merge
    // touching 16 buckets, re-read and re-planned by every later merge).
    val merged = rewritePlan(base, d, keys)
    stagedRewrite(fs, p, affected, absentRemoves = false,
        onBucketSwapped)(merged.write.partitionBy(BucketCol).parquet(_)) {
      staged =>
        // Guard against a WRONG `knownAffected` subset: a delta row hashing
        // to a bucket NOT in `affected` is staged (partitionBy writes its
        // dir) but the swap loop would never rename it in, and the
        // staging delete would then discard it — silent data loss, the same
        // failure class the swap's exists-check and deleteWhere's
        // kept-bucket guard fail loudly on. The staged dir listing IS the
        // ground truth for which buckets the delta actually touched (the
        // writer wrote them from the delta's own rows), so requiring
        // staged ⊆ affected catches a stale or subset caller set BEFORE any
        // rename, while the live table is still untouched. One cheap fs
        // listing, no extra Spark job; when `affected` was computed from
        // the delta itself the check holds by construction.
        val unswapped = staged -- affected
        require(unswapped.isEmpty,
          s"MergeTable: staged output contains bucket(s) " +
            s"${unswapped.toSeq.sorted.mkString(",")} absent from the " +
            s"affected set [${affected.mkString(",")}] — a wrong " +
            "knownAffected subset would silently drop those rows; aborting " +
            "before any swap")
    }
    affected
  }

  /** DELETE: remove every row matching `predicate`, rewriting only the
    * bucket dirs that hold matching rows — the maintenance half of the
    * table's lifecycle (merge grows it, delete retires it; the quarantine
    * table's resolved-tombstone retention is the motivating caller).
    *
    * Same single-writer staged-rewrite tail as [[merge]]
    * ([[stagedRewrite]]), except that a bucket whose rows ALL match is
    * removed outright (partitionBy writes no dir for an empty bucket),
    * and a table left with ZERO bucket dirs is deleted entirely (`_meta`
    * included): an all-retired table reads as ABSENT, the same state a
    * deferred-creation writer like `quarantineRoute` starts from, so the
    * next delta recreates it cleanly instead of hitting an unreadable
    * zero-bucket layout.
    *
    * Idempotent: re-running the same delete matches nothing. Cost: the
    * REWRITE is O(matching-bucket bytes), but the FIND phase (locating
    * matches — one bounded aggregate, ≤ nBuckets rows collected) reads
    * every live bucket once: the predicate is arbitrary, so no bucket
    * can be ruled out a priori. Parquet footer/row-group statistics
    * pushdown mitigates for stat-friendly predicates (the retention
    * caller's `routed_seq < N` skips whole row groups).
    * Returns the number of rows deleted.
    */
  def deleteWhere(spark: SparkSession, path: String,
      predicate: Column): Long = {
    val (fs, p) = fsOf(spark, path)
    Swap.recoverAll(fs, p)
    if (!fs.exists(p)) return 0L
    val (nBuckets, keys) = readMeta(fs, p).getOrElse(throw new
        IllegalStateException(s"MergeTable.deleteWhere: no _meta at $path"))
    // one bounded job: rows to delete → (count, distinct buckets)
    val hit = read(spark, path).filter(predicate)
      .select(bucketColumn(keys, nBuckets).as(BucketCol))
      .agg(count(lit(1)).as("n"), collect_set(col(BucketCol)).as("bs"))
      .collect()(0)
    val deleted = hit.getLong(0)
    if (deleted == 0L) return 0L
    val affected = hit.getSeq[Int](1).sorted
    // partition-pruned rewrite of only the affected buckets, keeping the
    // non-matching rows (bucket col rides from the dir-discovering read)
    val base = spark.read.parquet(path)
      .filter(col(BucketCol).isin(affected.map(Integer.valueOf): _*))
      .withColumn(BucketCol, col(BucketCol).cast("int"))
    // three-valued logic: a row whose predicate is NULL is NOT deleted
    // (filter(p) drops it from the delete count), so it must be KEPT —
    // plain !p would drop it from both sides and silently lose the row
    val kept = base.filter(!coalesce(predicate, lit(false)))
    // Buckets with SURVIVING rows, observed for free on the staged
    // write (collect_set over the rows the writer itself processes).
    // An absent staged dir is ambiguous on its own: "every row in this
    // bucket matched" (legitimate — partitionBy writes no dir for an
    // empty bucket, the live dir is dropped) vs "the staged write lost a
    // bucket" (writer anomaly — dropping the live dir would destroy the
    // bucket's only copy). merge() guards the same case with a plain
    // exists-check because delta-wins guarantees every affected bucket
    // has staged rows; here only this set can tell the two apart, so
    // validate ALL buckets before the first rename — fail loudly while
    // the table is still untouched. The observation sees exactly the
    // rows handed to the writer, so a commit-side bucket loss (the
    // anomaly class the guard exists for) cannot hide from it.
    val keptObs = org.apache.spark.sql.Observation()
    stagedRewrite(fs, p, affected, absentRemoves = true, _ => ())(kept.observe(keptObs,
        collect_set(col(BucketCol)).as("kept_buckets"))
      .repartition(col(BucketCol)).write.partitionBy(BucketCol).parquet(_)) {
      staged =>
        // When the observed subtree executes ZERO tasks (an all-deleted
        // table: `kept` is empty and AQE's empty-relation propagation
        // replaces the staged write's input outright), the CollectMetrics
        // accumulator never updates and the observation completes with an
        // EMPTY row — `get` then has no key at all, not an empty set. Fall
        // back to the explicit bounded aggregate (<= nBuckets rows) over
        // the same pruned read; it runs only in this degenerate case.
        val keptBuckets = keptObs.get.get("kept_buckets") match {
          case Some(s) => s.asInstanceOf[scala.collection.Seq[Int]].toSet
          case None => kept.select(col(BucketCol)).distinct()
            .collect().map(_.getInt(0)).toSet
        }
        val lost = keptBuckets -- staged
        require(lost.isEmpty, s"MergeTable.deleteWhere: staged output " +
          s"missing for bucket(s) ${lost.toSeq.sorted.mkString(",")}, which " +
          "have surviving rows — refusing to drop the live dirs")
    }
    // all-retired table reads as absent
    if (bucketNames(fs, p).isEmpty) fs.delete(p, true)
    deleted
  }
}
