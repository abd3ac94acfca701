package graft.streaming

import graft.core.SeriesId
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/**
 * Kafka-shaped ingest input (S1) — the reference's KAFKA input mode
 * (opentsdb/.../AuraMetricsService.java:150-155 `InputMode {KAFKA,
 * PULSAR, DATA_GEN}`) expressed as the parse stage between the broker
 * wire schema and the one shared ingest pipeline ([[IngestJob
 * .processBatch]]).
 *
 * [[WireSchema]] is exactly what Spark's `format("kafka")` source emits
 * (key/value binary + topic/partition/offset/timestamp), so [[parse]]
 * serves both the real broker stream and broker-free tests that feed
 * hand-built wire-schema DataFrames through the same code path — the
 * environment has no broker, so only the `format("kafka")` handshake
 * itself is untested here.
 *
 * Payload: UTF-8 JSON `{"metric","tags","ts","value"}` on the value side
 * (the classic TSDB put shape); the key carries the series identity so
 * a producer partitions by series. That keying is what makes [[seq]]
 * last-write-wins-correct: a series' points live in one Kafka partition,
 * where `offset` is the arrival order, so `seq = partition << 44 |
 * offset` preserves per-series write order (cross-series seq order is
 * meaningless, as in the reference's per-shard sequences).
 */
object KafkaSource {

  /** The spark-sql-kafka source schema (what `format("kafka")` yields). */
  val WireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** The JSON datapoint payload carried in `value`. */
  val PayloadSchema: StructType = StructType(Seq(
    StructField("metric", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("ts", LongType),
    StructField("value", DoubleType)))

  /** Wire rows → points rows (the ingest schema `processBatch` expects).
   *  Malformed payloads (unparseable JSON / missing fields) are dropped,
   *  mirroring the reference consumer skipping undecodable messages. */
  def parse(kafka: DataFrame): DataFrame = {
    val p = from_json(col("value").cast("string"), PayloadSchema)
    kafka
      .select(
        p.getField("metric").as("metric"),
        p.getField("tags").as("tags"),
        p.getField("ts").as("ts"),
        p.getField("value").as("value"),
        (shiftleft(col("partition").cast("long"), 44) + col("offset")).as("seq"))
      .filter(col("metric").isNotNull && col("ts").isNotNull && col("value").isNotNull)
      .withColumn("tags", coalesce(col("tags"), typedLit(Map.empty[String, String])))
      .withColumn("series_id", SeriesId.seriesId(col("metric"), col("tags")))
      .withColumn("segment_start", SeriesId.segmentStart(col("ts")))
  }

  /** Points rows → wire rows. Producer-side encoding for tests and for
   *  a loopback data-gen topic: key = series identity, value = JSON
   *  payload. `partition`/`offset` simulate a by-series-keyed producer:
   *  one partition per series-hash residue, offsets in `seq` order. */
  def toWire(points: DataFrame, topic: String, numPartitions: Int = 4): DataFrame =
    points.select(
      encode(concat(col("metric"), lit("\u0000"), to_json(col("tags"))), "UTF-8").as("key"),
      encode(to_json(struct(col("metric"), col("tags"), col("ts"), col("value"))), "UTF-8")
        .as("value"),
      lit(topic).as("topic"),
      pmod(col("series_id"), lit(numPartitions)).cast("int").as("partition"),
      col("seq").as("offset"),
      to_timestamp(col("ts")).as("timestamp"),
      lit(0).as("timestampType"))

  /** The real broker stream: `format("kafka")` → [[parse]] → the same
   *  foreachBatch body as every other input mode
   *  ([[IngestJob.batchBody]], which passes each micro-batch's id, so a
   *  replayed batch overwrites its own sketch partials). No spec starts
   *  it, since that needs a broker and the kafka connector jar;
   *  KafkaSourceSpec drives [[parse]] and the batch body without one. */
  def run(spark: SparkSession, brokers: String, topic: String,
      cfg: IngestJob.Config): StreamingQuery =
    parse(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .load())
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch(IngestJob.batchBody(cfg))
      .start()
}
