package graft.queries

import graft.Tables
import graft.ingest.Ingest
import graft.sources.KafkaLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** q78: the kafka-log DSv2 source under the oracle gate.
  *
  * The orders table is produced into a 4-partition segmented log (the
  * Kafka-shaped source fixture, one JSON record per order — all-string
  * fields, mirroring the reference's all-string envelope schema,
  * `scripts/spark_processing.py:77-88`), then read back through the REAL
  * `Ingest.kafkaBatchSource` wiring with `minPartitions` splitting the
  * offset ranges, JSON-parsed, and aggregated. The oracle states the same
  * aggregate over the ORIGINAL parquet, so the hash-match proves the
  * whole produce → segment scan → envelope → parse chain is lossless and
  * duplicate-free at SF scale — the per-round twin of KafkaLogSpec's
  * unit-level offset/admission/resume checks.
  */
object KafkaLogQueries {
  import Exact.{sumD, sumDSql}

  val Partitions = 4

  /** The orders log of `dir`, staged once per orders-fixture content
    * ([[graft.streaming.Stage]], the log is INPUT data, not an
    * intermediate): partition by `o_orderkey % 4`, offset order =
    * orderkey order within a partition, several segments per partition so
    * scans cross segment boundaries.
    *
    * The PRODUCER side of the fixture (a real deployment's producer is
    * the upstream service; the engine under test is the reader) writes
    * from EXECUTORS (r18, the repo's last full-table driver collect):
    * each topic partition is wholly owned by one task — hash
    * repartition on `o_orderkey % 4` — with rows offset-ordered by
    * `sortWithinPartitions`, so `produce` calls per partition stay
    * sequential and the emitted segments are byte-identical to the old
    * driver-side build (same sort, same ~4-segment roll). The only
    * driver collect left is the per-partition COUNT (≤ `Partitions`
    * rows, metadata-scale) that sizes the segment rolls. Executors
    * write the local build dir directly — valid in the `local[*]`
    * harness this fixture exists for; a cluster deployment's producer
    * is not Spark at all. */
  private[graft] def ordersLog(spark: SparkSession, dir: String): String =
    graft.streaming.Stage(spark, s"$dir/orders.parquet", "kafkalog") { root =>
      val nParts = Partitions
      val recs = Tables.orders(spark, dir)
        .select(col("o_orderkey"),
          to_json(struct(
            col("o_orderkey").cast("string").as("orderkey"),
            col("o_custkey").cast("string").as("custkey"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").cast("string").as("totalprice"))).as("v"))
        .withColumn("__p", (col("o_orderkey") % nParts).cast("int"))
      val segSize = recs.groupBy(col("__p")).count().collect()
        .map(r => r.getInt(0) -> math.max(1L, r.getLong(1) / 4 + 1).toInt)
        .toMap
      KafkaLog.createTopic(root, "orders", nParts)
      recs.repartition(nParts, col("__p"))
        .sortWithinPartitions(col("__p"), col("o_orderkey"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          // contiguous runs of one topic partition per task: roll ~4
          // segments per partition so offset ranges span segment
          // boundaries (the reader's segment-walk path, not one file)
          val buf = scala.collection.mutable.ArrayBuffer.empty[KafkaLog.Record]
          var cur = -1
          def flush(): Unit = if (buf.nonEmpty) {
            KafkaLog.produce(root, "orders", cur, buf.toSeq)
            buf.clear()
          }
          it.foreach { r =>
            val p = r.getAs[Int]("__p")
            if (p != cur) { flush(); cur = p }
            val k = r.getAs[Long]("o_orderkey")
            buf += KafkaLog.Record(k.toString, r.getAs[String]("v"),
              1700000000000L + k)
            if (buf.size >= segSize(p)) flush()
          }
          flush()
        }
    }

  private val valueSchema: StructType = new StructType()
    .add("orderkey", StringType).add("custkey", StringType)
    .add("status", StringType).add("totalprice", StringType)

  /** q78: order-status totals through the log round trip. Map-only until
    * the 3-group aggregate; the scan carries 8 input partitions from
    * `minPartitions` over 4 topic-partitions. */
  def roundtripTotals(spark: SparkSession, dir: String): DataFrame = {
    val root = ordersLog(spark, dir)
    val env = Ingest.kafkaBatchSource(spark, root, "orders",
      minPartitions = 8, format = KafkaLog.Format)
    env
      .select(from_json(col("value").cast("string"), valueSchema).as("r"))
      .select(col("r.status").as("o_orderstatus"),
        col("r.totalprice").cast("double").as("price"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sumD(col("price")).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  val roundtripTotalsSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
       |  ${sumDSql("o_totalprice")} AS revenue
       |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q78_kafkalog_roundtrip" -> (roundtripTotals _))

  val oracle: Map[String, String] = Map(
    "q78_kafkalog_roundtrip" -> roundtripTotalsSql)
}
