package graft.ingest

import graft.functions.{PlayFunctions => PF}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructType}

/** The reference's ingest pipeline (scripts/spark_processing.py:43-135),
  * Spark-first: Kafka envelope → cast → from_json → flatten → native
  * derived-column expressions → CSV sink.
  *
  * The whole transform is projection-only (no shuffle): physically it
  * plans as `Scan → Project` inside one WholeStageCodegen span, because
  * every derived column is a native expression (PlayFunctions), not a UDF.
  */
object Ingest {
  /** The reference's fixed 9-field all-string JSON schema
    * (spark_processing.py:77-88). */
  val shotJsonSchema: StructType = new StructType()
    .add("game_id", StringType).add("year", StringType)
    .add("month", StringType).add("day", StringType)
    .add("winner", StringType).add("loser", StringType)
    .add("x", StringType).add("y", StringType)
    .add("play", StringType)

  /** Kafka scan options shared by both source flavors — a pure function
    * so the wiring is unit-testable without a broker on the classpath
    * (this environment ships no Kafka jars; see BUILD_NOTES "Kafka
    * verification boundary").
    *
    * Scale knobs for a multi-partition topic at 100 TB/day rates:
    *  - `minPartitions`: Spark's Kafka scan defaults to one input
    *    partition per topic-partition. A topic carved into fewer
    *    partitions than the cluster has cores (the reference's topic has
    *    ONE — dags/kafka_stream_dag.py:44) serializes the read;
    *    minPartitions > #topic-partitions makes the scan split offset
    *    ranges so every core pulls concurrently. Left unset when <= 0.
    *  - `maxOffsetsPerTrigger`: caps records per micro-batch so a
    *    first drain of a deep topic (or a catch-up after downtime)
    *    becomes N bounded batches instead of one giant batch that must
    *    fit executor memory/spill budgets. With AvailableNow the drain
    *    still runs to completion — in bounded steps, each
    *    checkpointed. Left unset when <= 0 (batch reads ignore it).
    */
  private[graft] def kafkaOptions(servers: String, topic: String,
      minPartitions: Int = 0, maxOffsetsPerTrigger: Long = 0L): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> servers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest") ++
      (if (minPartitions > 0) Map("minPartitions" -> minPartitions.toString)
       else Map.empty) ++
      (if (maxOffsetsPerTrigger > 0L)
        Map("maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString)
       else Map.empty)

  /** S1, batch flavor: drain the topic earliest→latest once
    * (spark_processing.py:53-59).
    *
    * `format` defaults to the real Kafka connector; tests pass
    * [[graft.sources.KafkaLog.Format]] (a DSv2 source implementing the
    * same option/envelope/offset contract over a local segmented log) so
    * this exact wiring executes end-to-end in an environment that ships
    * no Kafka jars — swapping back to the broker is a format-string
    * change only.
    */
  def kafkaBatchSource(spark: SparkSession, servers: String, topic: String,
      minPartitions: Int = 0, format: String = "kafka"): DataFrame =
    spark.read.format(format)
      .options(kafkaOptions(servers, topic, minPartitions))
      .load()

  /** S1, idiomatic flavor: Structured Streaming with Trigger.AvailableNow
    * — "drain everything currently in the topic, then stop", restart-safe
    * via checkpointed offsets (replaces the reference DAG's destroy-the-
    * topic progress tracking, kafka_stream_dag.py:41-45). See
    * [[kafkaOptions]] for the multi-partition scale knobs and
    * [[kafkaBatchSource]] for the `format` seam.
    */
  def kafkaStreamSource(spark: SparkSession, servers: String, topic: String,
      minPartitions: Int = 0, maxOffsetsPerTrigger: Long = 0L,
      format: String = "kafka"): DataFrame =
    spark.readStream.format(format)
      .options(kafkaOptions(servers, topic, minPartitions, maxOffsetsPerTrigger))
      .load()

  /** P1→P4: the full transform chain (spark_processing.py:68-135). Works
    * identically on batch and streaming frames. Output column order matches
    * the reference: 9 parsed fields then the 10 derived columns.
    */
  def transform(envelope: DataFrame): DataFrame = {
    val parsed = envelope
      .selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)")
      .withColumn("parsed_value", from_json(col("value"), shotJsonSchema))
      .select("parsed_value.*")
    // Fused single-pass parse (spec-pinned field-equal to the composed
    // PlayFunctions columns, incl. dirty-input degradation): the composed
    // ten-column projection re-split the play per column. Output column
    // names and order are unchanged (FIXTURES.md A3 schema parity).
    val s = graft.functions.expressions.PlayParsed
      .playParsed(col("play"), col("winner"), col("loser"))
    parsed
      .withColumn("__p", s)
      .withColumn("time_remaining", col("__p.time_remaining"))
      .withColumn("quarter", col("__p.quarter"))
      .withColumn("shots_by", col("__p.shots_by"))
      .withColumn("outcome", col("__p.outcome"))
      .withColumn("attempt", col("__p.attempt"))
      .withColumn("distance", col("__p.distance"))
      .withColumn("team", col("__p.team"))
      .withColumn("winner_score", col("__p.winner_score"))
      .withColumn("loser_score", col("__p.loser_score"))
      .drop("__p")
  }

  /** Single-pass data-quality metrics via the Observation API: malformed
    * JSON and unparseable plays are counted during whatever action the
    * caller runs — no second scan of a 100 TB input. Read the counters
    * from the returned Observation after the action completes.
    *
    * Caller caveat (the zero-task observation hazard, BUILD_NOTES R16):
    * if the observed plan executes NO tasks — an empty source under
    * AQE's empty-relation propagation — the observation completes with
    * an EMPTY row and the counter keys are ABSENT from `obs.get`, not
    * zero. Read counters with `obs.get.getOrElse(key, 0L)`, never
    * `obs.get(key)`.
    */
  def observedTransform(envelope: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("ingest_quality")
    val out = transform(envelope).observe(obs,
      count(lit(1)).as("rows_total"),
      count(when(col("game_id").isNull, 1)).as("rows_malformed_json"),
      count(when(col("game_id").isNotNull && col("team").isNull, 1))
        .as("rows_unparseable_play"))
    (out, obs)
  }

  /** Typed normalization layer (SURVEY.md §1.2): the reference keeps
    * everything StringType end-to-end; this additive layer derives typed
    * twins — int coordinates/scores, a real DateType game date, and the
    * clock as seconds remaining — without touching the legacy all-string
    * columns, so the reference-shaped CSV output stays producible from
    * the same frame.
    */
  def typedLayer(df: DataFrame): DataFrame =
    df
      .withColumn("x_i", col("x").cast("int"))
      .withColumn("y_i", col("y").cast("int"))
      .withColumn("winner_score_i", col("winner_score").cast("int"))
      .withColumn("loser_score_i", col("loser_score").cast("int"))
      .withColumn("quarter_i", col("quarter").cast("int"))
      .withColumn("game_date",
        make_date(col("year").cast("int"), col("month").cast("int"),
          col("day").cast("int")))
      // "M:SS.f" → seconds remaining (double); null-safe on dirty rows
      .withColumn("seconds_remaining",
        get(split(col("time_remaining"), ":"), lit(0)).cast("double") * 60 +
          get(split(col("time_remaining"), ":"), lit(1)).cast("double"))

  /** S4: headered CSV sink, overwrite (spark_processing.py:258). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Streaming sink with checkpoint — the restart-safe equivalent of the
    * reference's write (its checkpoint path is computed but unused,
    * spark_processing.py:275). Returns after draining (AvailableNow).
    */
  def streamToCsv(df: DataFrame, path: String, checkpoint: String): Unit =
    graft.streaming.Streaming.drain(df.sparkSession, df.writeStream.format("csv")
      .option("header", "true")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()))
}
