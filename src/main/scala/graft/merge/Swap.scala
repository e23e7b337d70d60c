package graft.merge

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one crash-safe replace protocol for everything graft rewrites in
  * place (MergeTable buckets, the cluster-sink base, compacted dirs,
  * sidecar files, the season tgz): the rename-based stand-in for the
  * reference's atomic S3 PUT (`scripts/spark_merge_dfs.py:96-123`).
  * [[replace]] keeps a complete copy on disk at every instant; a killed
  * writer leaves at most a stranded `.old`, which [[recover]] repairs on
  * its next call. Single writer per target. Readers never mutate (a
  * restore between the writer's two renames would fail its second); they
  * see live, else the stranded backup ([[visible]], [[readText]]).
  */
object Swap {
  /** Suffix of a replace's backup: the one definition of `.old`. */
  val OldSuffix = ".old"

  /** Dropped backups pass through `.trash-<name>.old-<nanos>`. */
  private val TrashPrefix = ".trash-"

  def backup(live: Path): Path = new Path(live.getParent, live.getName + OldSuffix)

  /** `live -> live.old`, `next -> live`, drop `live.old`; creates `live`
    * when absent. An absent `next` throws before `live` is touched, unless
    * `absentRemoves` (then it removes `live`). Every rename is checked: a
    * refused backup rename must not move `next` inside a present `live`.
    */
  def replace(fs: FileSystem, live: Path, next: Path,
      absentRemoves: Boolean = false): Unit = {
    val staged = fs.exists(next)
    require(staged || absentRemoves, s"Swap: $next missing; $live untouched")
    val bak = backup(live)
    drop(fs, bak)
    if (fs.exists(live)) move(fs, live, bak)
    if (staged) move(fs, next, live)
    drop(fs, bak)
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"Swap: rename $from -> $to failed")

  /** Remove a backup ATOMICALLY from a reader's point of view. A plain
    * recursive delete has a window where the dir still lists but its
    * files are already unlinked — a reader that chose that dir then scans
    * ZERO rows with no error, a silent torn snapshot missing the whole
    * bucket (found by MergeSpec's reader-vs-writer soak: 224 of 240 keys,
    * no exception anywhere). Renaming to a dot-hidden name first is one
    * atomic step out of the reader-visible namespace (Hadoop/Spark
    * listings skip dot-paths): a racing reader either still had the
    * complete copy or fails with a missing-path error that
    * `MergeTable.readRetrying` retries. A crash before the delete leaves
    * only hidden garbage, swept by [[recover]].
    */
  private def drop(fs: FileSystem, bak: Path): Unit =
    if (fs.exists(bak)) {
      val hidden = new Path(bak.getParent,
        s"$TrashPrefix${bak.getName}-${System.nanoTime()}")
      move(fs, bak, hidden)
      fs.delete(hidden, true)
    }

  /** Writer-side repair: restore a backup stranded by a kill between the
    * two renames, drop the backup of a replace that finished, and sweep
    * the hidden copies this target's drops left. */
  def recover(fs: FileSystem, live: Path): Unit = {
    val bak = backup(live)
    if (!fs.exists(live) && fs.exists(bak)) move(fs, bak, live)
    else drop(fs, bak)
    val trash = s"$TrashPrefix${bak.getName}-"
    if (fs.exists(live.getParent)) fs.listStatus(live.getParent).map(_.getPath)
      .filter(_.getName.startsWith(trash)).foreach(fs.delete(_, true))
  }

  /** [[recover]] every target in `dir`: one listing when there is no
    * debris; hidden copies in `dir` all came from targets in `dir`. */
  def recoverAll(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).map(_.getPath.getName).foreach { n =>
      if (n.startsWith(TrashPrefix)) fs.delete(new Path(dir, n), true)
      else if (n.endsWith(OldSuffix))
        recover(fs, new Path(dir, n.stripSuffix(OldSuffix)))
    }

  /** The reader view over one listing's names: each live name, plus each
    * backup whose live name is absent (with both, the replace finished). */
  def visible(names: Seq[String]): Set[String] = {
    val live = names.filterNot(_.endsWith(OldSuffix)).toSet
    live ++ names.filter(n =>
      n.endsWith(OldSuffix) && !live.contains(n.stripSuffix(OldSuffix)))
  }

  /** Atomic small-file write: stage `<name>.tmp`, then [[replace]]. A
    * direct `create(overwrite)` shows readers a created-but-unwritten file
    * (the e2e soak caught "missing nBuckets field" mid-stamp) and leaves
    * it empty if killed; here readers see the old text or the new. */
  def writeText(fs: FileSystem, f: Path, text: String): Unit = {
    val tmp = new Path(f.getParent, f.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    replace(fs, f, tmp)
  }

  /** A small file's text: live, else its stranded backup, else None. */
  def readText(fs: FileSystem, f: Path): Option[String] =
    Seq(f, backup(f)).find(fs.exists).map { p =>
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
}
