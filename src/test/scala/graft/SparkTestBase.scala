package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per test JVM (lazy, UTC, quiet): each
  * suite's `getOrCreate` returns the session the first suite built. Like every
  * graft session ([[graft.GraftSession]]) it serves `file:` through the
  * fork-free filesystem, installed right after the session is built; the
  * install replaces a stock `file:` FileSystem the JVM cached before it,
  * so every suite's FileSystem-API writes use the fork-free one. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", SparkTestBase.warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.fs.ForkFree.install(s.sparkContext.hadoopConfiguration)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh dir under `java.io.tmpdir`, deleted when the JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = SparkTestBase.tempDir(prefix)
}

object SparkTestBase {
  private val exitDeletes = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(dirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d)))
    dirs
  }

  /** A fresh dir under `java.io.tmpdir`, deleted with everything in it
    * when the JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    exitDeletes.add(d.toFile)
    d
  }

  /** The session's warehouse dir: made once per JVM. */
  private lazy val warehouse: String = tempDir("graft-wh").toString
}
