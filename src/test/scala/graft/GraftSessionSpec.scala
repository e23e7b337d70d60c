package graft

import org.apache.spark.SparkConf

class GraftSessionSpec extends SparkTestBase {
  private val harnessKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone", "spark.ui.enabled",
    "spark.sql.files.maxPartitionBytes")

  test("a master already in the SparkConf wins and keeps its cluster defaults") {
    // spark-submit --master / -Dspark.master land here; a master set in
    // code would outrank them and pin a cluster job to local mode
    val conf = GraftSession.resolve(
      new SparkConf(false).set("spark.master", "spark://h:7077"), Some("3"))
    assert(conf.get("spark.master") == "spark://h:7077")
    harnessKeys.foreach(k => assert(!conf.contains(k), s"$k must stay unset"))
  }

  test("no master: local[N] with N from SPARK_GRAFT_CPUS, else the host's processors") {
    val pinned = GraftSession.resolve(new SparkConf(false), Some("3"))
    assert(pinned.get("spark.master") == "local[3]")
    assert(pinned.get("spark.sql.shuffle.partitions") == "3")
    assert(pinned.get("spark.sql.session.timeZone") == "UTC")
    assert(pinned.get("spark.ui.enabled") == "false")
    assert(pinned.get("spark.sql.files.maxPartitionBytes") == "16m")
    val host = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.resolve(new SparkConf(false), None)
      .get("spark.master") == s"local[$host]")
  }

  test("an existing session is returned unchanged") {
    val before = harnessKeys.map(k => k -> spark.conf.get(k))
    assert(GraftSession("graft-test-main") eq spark)
    assert(harnessKeys.map(k => k -> spark.conf.get(k)) == before)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("an existing session's Hadoop conf gains the fork-free file: classes") {
    val hc = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    keys.foreach(hc.unset)
    assert(GraftSession("graft-test-main") eq spark)
    assert(keys.map(hc.get) == Seq(classOf[graft.fs.ForkFreeLocalFileSystem].getName,
      classOf[graft.fs.ForkFreeLocalFs].getName))
  }

  test("a new session's SparkConf names the fork-free file: classes unless the caller did") {
    val keys = Seq("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl")
    val named = graft.fs.ForkFree.sparkConf(new SparkConf(false))
    assert(keys.map(named.get) == Seq(classOf[graft.fs.ForkFreeLocalFileSystem].getName,
      classOf[graft.fs.ForkFreeLocalFs].getName))
    val own = graft.fs.ForkFree.sparkConf(new SparkConf(false)
      .set(keys.head, "com.example.OwnFileSystem"))
    assert(own.get(keys.head) == "com.example.OwnFileSystem")
    assert(own.get(keys(1)) == classOf[graft.fs.ForkFreeLocalFs].getName)
  }

  test("withConf restores a key that was not set to unset, not to its default") {
    val key = "spark.sql.csv.filterPushdown.enabled"
    spark.conf.unset(key)
    GraftSession.withConf(spark, key -> "false")(assert(spark.conf.get(key) == "false"))
    assert(!spark.conf.getAll.contains(key))
    GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> "2") {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
