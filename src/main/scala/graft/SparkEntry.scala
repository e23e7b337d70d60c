package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ClusterOps, EventOps, KafkaLogQueries, LayoutOps, MultimodalOps, PipelineOps, PlayParse, PrivacyOps, Profiling, Relational, Relational2, ScaleQueries, StreamingQueries, TextOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps operator names (SURVEY.md §2 inventory) to functions of
  * (session, testdata dir) → DataFrame; `oracleSql` carries the DuckDB
  * twin of each query for the driver's hash-compare correctness gate.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracle),
      (PlayParse.queries, PlayParse.oracle),
      (TextOps.queries, TextOps.oracle),
      (VectorOps.queries, VectorOps.oracle),
      (EventOps.queries, EventOps.oracle),
      (MultimodalOps.queries, MultimodalOps.oracle),
      (Relational2.queries, Relational2.oracle),
      (Profiling.queries, Profiling.oracle),
      (PipelineOps.queries, PipelineOps.oracle),
      (ClusterOps.queries, ClusterOps.oracle),
      (PrivacyOps.queries, PrivacyOps.oracle),
      (LayoutOps.queries, LayoutOps.oracle),
      (ScaleQueries.queries, ScaleQueries.oracle),
      (KafkaLogQueries.queries, KafkaLogQueries.oracle),
      (StreamingQueries.queries, StreamingQueries.oracle))

  /** Declared query names matching the given name prefixes, in argument
    * order; every declared query, sorted, when no prefix is given. */
  def queryNames(prefixes: Seq[String]): Seq[String] = {
    val all = queries.keys.toSeq.sorted
    if (prefixes.isEmpty) all
    else prefixes.flatMap { a =>
      val hits = all.filter(_.startsWith(a))
      require(hits.nonEmpty, s"no query matches '$a'")
      hits
    }.distinct
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
