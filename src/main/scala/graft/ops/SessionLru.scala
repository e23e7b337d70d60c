package graft.ops

import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** The one bounded per-(session, tag) LRU the engine's caches share —
  * PersistRegistry (persisted plans), the IVF index cache, and the q58
  * label cache each used to carry their own copy of this machinery
  * (TrieMap + tick + stale-fingerprint eviction + stopped-session sweep +
  * LRU cap), and concurrency fixes had to land in every copy in lockstep.
  *
  * Semantics folded in from those call sites:
  *  - fingerprint: an entry only hits if its recorded fingerprint equals
  *    the caller's (callers pass a file-listing digest so a rewritten
  *    input is observed on next access). Stale entries are removed with
  *    the CONDITIONAL TrieMap.remove so a concurrent fresh insert is
  *    never evicted, and released out of band.
  *  - insert race: the loser's freshly built value is released only when
  *    `releaseOnRaceLoss` — true for caches whose values own distinct
  *    resources (IVF cells, checkpoints), false for CacheManager-persist
  *    caches where both racers share one canonicalized cache entry and a
  *    release would unpersist the winner's data.
  *  - eviction (LRU over `max`, stopped sessions, invalidate*) always
  *    removes from the map first, then releases via the supplied hook.
  */
private[graft] final class SessionLru[V](max: Int, release: V => Unit,
    releaseOnRaceLoss: Boolean) {
  private final case class Entry(fingerprint: String, value: V,
      lastUsed: AtomicLong)
  private val entries = TrieMap.empty[(SparkSession, String), Entry]
  private val tick = new AtomicLong(0L)

  def getOrBuild(spark: SparkSession, tag: String, fingerprint: String = "")
      (build: => V): V = {
    evictStopped()
    val key = (spark, tag)
    val entry = entries.get(key).filter(_.fingerprint == fingerprint)
      .getOrElse {
        entries.get(key).filter(_.fingerprint != fingerprint).foreach { stale =>
          if (entries.remove(key, stale)) scala.util.Try(release(stale.value))
        }
        val fresh = Entry(fingerprint, build, new AtomicLong(0L))
        entries.putIfAbsent(key, fresh) match {
          case Some(raced) =>
            // race loss: the freshly built value is discarded, so it
            // must NOT tick the global build counter — Bench would
            // attribute a phantom cache_build to a run that got the
            // winner's entry (ADVICE r12)
            if (releaseOnRaceLoss) scala.util.Try(release(fresh.value))
            raced
          case None =>
            // count only here: after `build` completed without throwing
            // (a throwing builder inserted nothing and must not count)
            // and after winning the insert race
            SessionLru.builds.incrementAndGet()
            fresh
        }
      }
    entry.lastUsed.set(tick.incrementAndGet())
    evictOver(max)
    entry.value
  }

  /** Eagerly drop one entry (no-op if absent). */
  def invalidate(spark: SparkSession, tag: String): Unit =
    entries.remove((spark, tag)).foreach(e => scala.util.Try(release(e.value)))

  /** Eagerly drop every entry of this session whose tag starts with
    * `prefix` — call after rewriting the files a cached value reads. */
  def invalidatePrefix(spark: SparkSession, prefix: String): Unit =
    entries.keys
      .filter(k => (k._1 eq spark) && k._2.startsWith(prefix))
      .foreach { k =>
        entries.remove(k).foreach(e => scala.util.Try(release(e.value)))
      }

  def liveCount(spark: SparkSession): Int =
    entries.keys.count(_._1 eq spark)

  private def evictStopped(): Unit =
    entries.keys.filter(_._1.sparkContext.isStopped).foreach { k =>
      entries.remove(k).foreach(e => scala.util.Try(release(e.value)))
    }

  private def evictOver(cap: Int): Unit =
    while (entries.size > cap) {
      // minByOption: a concurrent invalidate can drain the map between the
      // size check and the snapshot — an empty snapshot just ends the loop
      entries.toSeq.minByOption(_._2.lastUsed.get()) match {
        case Some((lru, _)) =>
          entries.remove(lru).foreach(e => scala.util.Try(release(e.value)))
        case None => return
      }
    }
}

private[graft] object SessionLru {
  /** Global cache-MISS counter across every SessionLru instance: one tick
    * per builder execution (a hit never ticks). graft.Bench samples it
    * around each timed run to attribute cache first-touch cost — a query
    * whose timed run rebuilt a shared family (LRU-evicted between its
    * producers and this consumer) records a `cache_build` count in the
    * artifact instead of silently reading as "this query's plan costs
    * that much".
    */
  private[graft] val builds = new AtomicLong(0L)
  private[graft] def buildsSoFar: Long = builds.get()

  /** Listing-based content fingerprint of a file or directory: any file
    * added, removed, resized, or re-written (mtime) under `path` changes
    * it. One metadata listing per access — negligible next to the scans
    * the cached values feed, and the price of rewrite safety.
    *
    * Hadoop reports whole milliseconds, so a local file is stamped with
    * its own `FileTime` instead, at the filesystem's full precision: a
    * same-size rewrite within one millisecond still changes the print.
    */
  def pathFingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "<absent>"
    val it = fs.listFiles(p, true)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val s = it.next()
      val mtime =
        if (fs.getScheme != "file") s.getModificationTime.toString
        else java.nio.file.Files.getLastModifiedTime(
          java.nio.file.Paths.get(s.getPath.toUri)).toString
      parts += s"${s.getPath.getName}:${s.getLen}:$mtime"
    }
    parts.sorted.mkString("|")
  }
}
