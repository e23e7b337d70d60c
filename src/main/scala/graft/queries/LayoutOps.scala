package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout queries: declared-surface proof that the Z-order clustered
  * layout ([[graft.ops.ScaleOps.writeZOrdered]]) answers real predicates
  * from a fraction of the files.
  *
  * q72 writes lineitem Z-ordered by (l_shipdate, l_partkey), runs a 2-D
  * predicate box over the CLUSTERED copy, and hash-matches the DuckDB
  * oracle running the same box over the PLAIN table — so the oracle gate
  * proves the layout move is row-preserving and the box scan correct,
  * while ScaleOpsSpec's footer technique proves the same layout reads
  * fewer files than it holds (files whose (z-ranged) min/max exclude the
  * box are skipped by parquet row-group stats pruning). At 100 TB this
  * is the difference between "filter on the second column = full scan"
  * and "read the matching stripe" — and unlike a lexicographic sort it
  * holds for BOTH box dimensions at once.
  */
object LayoutOps {
  /** File count for the clustered copy — enough files that skipping is
    * observable at every testdata SF while keeping each file a healthy
    * size at sf0.1. */
  val ZFiles = 16

  /** The 2-D predicate box: a ship-date half-year × a part-key band.
    * Chosen to be non-empty at every SF (testdata ship dates span
    * 1995-2001 and part keys start at 0). */
  val ShipLo = "1996-01-01"
  val ShipHi = "1996-07-01"
  val PartLo = 20L
  val PartHi = 150L

  /** The Z-ordered lineitem copy of `dir`, staged once per
    * lineitem-fixture content ([[graft.streaming.Stage]]). The write is
    * the one-time layout cost a deployment pays at ingest or compaction
    * time; every later box query amortizes it.
    */
  private[graft] def zorderedLineitem(spark: SparkSession, dir: String): String =
    graft.streaming.Stage(spark, s"$dir/lineitem.parquet", "zorder") { out =>
      // Timestamp encoding note: l_shipdate reads as TIMESTAMP_NTZ, which
      // parquet stores as int64 micros WITH min/max statistics. (A
      // session-zoned TimestampType column would hit Spark's legacy INT96
      // default, which carries no stats and would make the date dimension
      // unprunable — ScaleOpsSpec's footer assertions guard the layout
      // against silently regressing into that.)
      graft.ops.ScaleOps.writeZOrdered(Tables.lineitem(spark, dir), out,
        ZFiles, Seq("l_shipdate", "l_partkey"))
    }

  /** q72: 2-D box scan over the Z-ordered layout. Result is identical to
    * the same box over the plain table (the oracle's side) — the layout
    * changes I/O, never rows. */
  def zorderBoxScan(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(zorderedLineitem(spark, dir))
      .filter(col("l_shipdate") >= to_timestamp(lit(ShipLo)) &&
        col("l_shipdate") < to_timestamp(lit(ShipHi)) &&
        col("l_partkey").between(PartLo, PartHi))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        Exact.sumD(col("l_quantity")).as("sum_qty"),
        Exact.sumD(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))

  val zorderBoxScanSql: String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       |  ${Exact.sumDSql("l_quantity")} AS sum_qty,
       |  ${Exact.sumDSql("l_extendedprice")} AS sum_price
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '$ShipLo'
       |  AND l_shipdate < TIMESTAMP '$ShipHi'
       |  AND l_partkey BETWEEN $PartLo AND $PartHi
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q72_zorder_scan" -> (zorderBoxScan _))

  val oracle: Map[String, String] = Map(
    "q72_zorder_scan" -> zorderBoxScanSql)
}
