package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per test JVM (lazy, UTC, quiet): each
  * suite's `getOrCreate` returns the session the first suite built. Like every
  * graft session ([[graft.GraftSession]]) it serves `file:` through the
  * fork-free filesystem, installed before any suite touches a file, so the
  * `file:` FileSystem the JVM caches is the fork-free one. */
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
}

object SparkTestBase {
  /** The session's warehouse dir: made once per JVM, removed when it exits. */
  private lazy val warehouse: String = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(wh))
    wh.toString
  }
}
