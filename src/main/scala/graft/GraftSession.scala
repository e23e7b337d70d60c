package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The one session rule and the one cost timer every graft main uses.
  *
  *  - A session that already exists (a main called in-JVM, as the
  *    pipeline tests do) is returned with its SQL and Spark conf
  *    unchanged; no conf is re-applied.
  *  - Otherwise a `spark.master` already in the SparkConf wins — that is
  *    where spark-submit's `--master` and `-Dspark.master` put it — and
  *    the session keeps its cluster defaults. A master set in code would
  *    outrank spark-submit, so nothing here ever sets one for a cluster.
  *  - With no master set, the session is the local harness: `local[N]`,
  *    N = `SPARK_GRAFT_CPUS` or else the host's processors, with N
  *    shuffle partitions, UTC, no UI, 16m file splits and WARN logging.
  *    The testdata tables are single parquet files well under the 128m
  *    default split size, which would serialize each scan on one core;
  *    a cluster keeps its own split size.
  *  - Either way `file:` is served by the fork-free local filesystem
  *    ([[graft.fs.ForkFree.install]]): two `fs.*` keys in the
  *    SparkContext's Hadoop conf, and a stock `file:` FileSystem that the
  *    JVM cached earlier (Spark's event-log writer caches one while the
  *    SparkContext starts) is dropped from Hadoop's cache. No other conf
  *    is touched.
  */
object GraftSession {
  def apply(appName: String): SparkSession = {
    val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse {
        val conf = new SparkConf() // loads spark.* system properties
        val local = !conf.contains("spark.master")
        val spark = SparkSession.builder()
          .config(resolve(conf, sys.env.get("SPARK_GRAFT_CPUS"))
            .setIfMissing("spark.app.name", appName))
          .getOrCreate()
        if (local) spark.sparkContext.setLogLevel("WARN")
        spark
      }
    graft.fs.ForkFree.install(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** `conf` unchanged when it carries a master; else the local harness. */
  private[graft] def resolve(conf: SparkConf, cpusEnv: Option[String]): SparkConf =
    if (conf.contains("spark.master")) conf
    else {
      val n = cpusEnv.map(_.trim.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors())
      conf.setMaster(s"local[$n]")
        .set("spark.sql.shuffle.partitions", n.toString)
        .set("spark.sql.session.timeZone", "UTC")
        .set("spark.ui.enabled", "false")
        .set("spark.sql.files.maxPartitionBytes", "16m")
    }

  /** Run `body` with each of `settings` set in the session conf, then put
    * every key back as it was: its previous value, or unset if it had
    * none. Restored on failure too. */
  def withConf[A](spark: SparkSession, settings: (String, String)*)(body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** What a block cost: wall, process-CPU and JVM GC seconds. `cpuSec` is
    * -1 when the JVM exposes no process-CPU counter. Local executors run
    * in this JVM, so process CPU covers the whole job's work there.
    */
  final case class Cost(wallSec: Double, cpuSec: Double, gcSec: Double)

  private val osBean = scala.util.Try(java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]).toOption

  private def cpuNanos: Long = osBean.map(_.getProcessCpuTime).getOrElse(-1L)

  private def gcMillis: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def cost(body: => Any): Cost = {
    val c0 = cpuNanos
    val g0 = gcMillis
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = cpuNanos
    Cost(wall, if (c0 < 0 || c1 < 0) -1.0 else (c1 - c0) / 1e9,
      (gcMillis - g0) / 1000.0)
  }
}
