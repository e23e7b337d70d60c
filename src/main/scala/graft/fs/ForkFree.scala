package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.SparkConf

/** A `file:` filesystem that starts no child process.
  *
  * Without Hadoop's native library (Spark's distribution ships none),
  * `RawLocalFileSystem` forks a child for small file operations:
  * `setPermission` runs `chmod` after every create and every `mkdirs`
  * level, and `getFileLinkStatus` runs `readlink` on the path. A file
  * written through `ChecksumFs`/`ChecksumFileSystem` (the file plus its
  * `.crc`) costs two `chmod`s, and one FileContext create-and-rename of a
  * checkpoint log entry costs about eight `readlink`s, each ~4 ms of
  * process start. Streaming's offsets and commits logs and the file
  * sink's `_spark_metadata` write one entry per micro-batch on the query
  * thread, so those forks were most of each batch's `walCommit` and
  * `commitOffsets` time (BUILD_NOTES "no native Hadoop: forks per file
  * op").
  *
  * [[ForkFreeRawLocalFileSystem]] changes only those two calls; everything
  * else is Hadoop's own code. It is served twice, as Hadoop serves its
  * stock class: [[ForkFreeLocalFileSystem]] (a checksummed
  * `LocalFileSystem`) for the FileSystem API (CSV writers, `Swap`,
  * `publishTgz`, `MergeTable`), and [[ForkFreeLocalFs]] (`ChecksumFs` over
  * `DelegateToFileSystem`) for the FileContext API that Spark's checkpoint
  * and sink-log managers use. Permission bits, `.crc` companions and
  * on-disk names are exactly the stock ones.
  *
  * [[ForkFree.install]] names both classes in a Hadoop `Configuration`.
  * FileContext builds a new AbstractFileSystem on every call, so every
  * checkpoint and sink-log write after the install uses it. FileSystems
  * are cached per JVM by scheme and user, and the conf is not part of the
  * key: a `file:` FileSystem created before the install (by a parquet
  * writer on a fresh `Configuration`, or by Spark's event-log writer while
  * the SparkContext starts) would keep serving the FileSystem API. So the
  * install also drops a stock `file:` instance from that cache, and the
  * next `FileSystem.get` builds the fork-free one.
  */
object ForkFree {
  private val FileImpl = "fs.file.impl"
  private val AbstractFileImpl = "fs.AbstractFileSystem.file.impl"
  private val Root = URI.create("file:///")
  // Hadoop's own choices; anything else in the conf is a caller's choice
  // and is kept
  private val stock = Set("", classOf[LocalFileSystem].getName,
    "org.apache.hadoop.fs.local.LocalFs")
  /** The `file:` classes a JVM caches when no conf chose one: Hadoop's
    * `LocalFileSystem`, and the scheme's service-loaded default (with no
    * conf, `getFileSystemClass` skips `fs.file.impl`), which in Spark's
    * distribution is Hive's `ProxyLocalFileSystem`. */
  private lazy val stockFs: Set[Class[_]] =
    Set(classOf[LocalFileSystem], FileSystem.getFileSystemClass("file", null))

  /** Points `conf`'s `file:` scheme at the fork-free classes, unless the
    * conf already names a non-Hadoop class there. Idempotent: a conf that
    * already names them is not written to.
    *
    * When `conf` then names [[ForkFreeLocalFileSystem]], a stock `file:`
    * FileSystem cached for the current user is closed, which is Hadoop's
    * way to drop it from the cache, and the fork-free one is cached in
    * its place. A cached instance of any other class (a caller's own) is
    * kept, and a conf naming a caller's class never looks up the cache.
    * Closing a local FileSystem also deletes the paths registered with
    * its `deleteOnExit` at once instead of at JVM exit: graft registers
    * none, and in Spark's jars only Hive code does (`spark-hive`'s
    * `HiveTempPath`, Hive's own session and operators), which graft does
    * not run. Code that still holds the closed instance keeps working
    * through it.
    */
  def install(conf: Configuration): Unit = {
    def swap(key: String, cls: Class[_]): Unit = {
      val cur = Option(conf.get(key)).getOrElse("").trim
      if (stock(cur)) conf.set(key, cls.getName)
    }
    swap(FileImpl, classOf[ForkFreeLocalFileSystem])
    swap(AbstractFileImpl, classOf[ForkFreeLocalFs])
    if (conf.get(FileImpl).trim == classOf[ForkFreeLocalFileSystem].getName) {
      val cached = FileSystem.get(Root, conf)
      if (stockFs(cached.getClass)) {
        cached.close()
        FileSystem.get(Root, conf)
      }
    }
  }

  /** `conf` with `spark.hadoop.fs.file.impl` and
    * `spark.hadoop.fs.AbstractFileSystem.file.impl` naming the fork-free
    * classes, for a SparkContext that has not started yet. Spark copies
    * `spark.hadoop.*` keys into every Hadoop conf it builds, including
    * the one its event-log writer uses to open its files while the context
    * starts; that writer keeps its FileSystem for the application's life,
    * so [[install]] comes too late for it. A key the caller set is kept,
    * whether in `conf` or as a non-Hadoop class in the Hadoop site files.
    */
  def sparkConf(conf: SparkConf): SparkConf = {
    lazy val site = new Configuration()
    def name(key: String, cls: Class[_]): Unit = {
      val sparkKey = "spark.hadoop." + key
      if (!conf.contains(sparkKey) && stock(Option(site.get(key)).getOrElse("").trim))
        conf.set(sparkKey, cls.getName)
    }
    name(FileImpl, classOf[ForkFreeLocalFileSystem])
    name(AbstractFileImpl, classOf[ForkFreeLocalFs])
    conf
  }

  /** The POSIX set for the low nine mode bits, e.g. 0644 → rw-r--r--. */
  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE, the
    // same order as the mode bits from 0400 down to 0001
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `RawLocalFileSystem` with `setPermission` and the link lookups done
  * through `java.nio.file` instead of a forked `chmod`/`readlink`.
  *
  *  - `setPermission` sets the nine rwx bits with
  *    `Files.setPosixFilePermissions` (which, like `chmod`, follows a
  *    link). With the native library loaded, for a mode carrying the
  *    sticky bit (NIO cannot set it), or on a store without POSIX
  *    attributes, Hadoop's own code runs.
  *  - `getFileLinkStatus` and `getLinkTarget` ask `Files.isSymbolicLink`.
  *    Hadoop's version forks `readlink` on `new File(path.toString)`,
  *    which for a qualified `file:/…` path names a file that does not
  *    exist, so it finds links only for unqualified paths. This one finds
  *    them for both forms; a file, a directory and a missing path
  *    (`FileNotFoundException`) report exactly as before.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFree.posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The status of `f` itself, its link target unqualified: Hadoop's
    * non-native shape, with the link read by NIO. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    if (!Files.isSymbolicLink(file)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
          s.getGroup, target, f)
      } catch {
        // a dangling link: Hadoop reports it with default attributes
        case _: FileNotFoundException =>
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

/** The FileSystem-API face: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]], named by `fs.file.impl`. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** [[ForkFreeRawLocalFileSystem]] as an AbstractFileSystem, with the same
  * defaults as Hadoop's `RawLocalFs`. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The FileContext face: `ChecksumFs` over [[ForkFreeRawLocalFs]], named by
  * `fs.AbstractFileSystem.file.impl`. Hadoop builds it through this
  * `(URI, Configuration)` constructor; like Hadoop's `LocalFs` it serves
  * `file:///` whatever URI it is given. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))
