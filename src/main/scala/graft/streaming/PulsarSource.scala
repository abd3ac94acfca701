package graft.streaming

import graft.core.SeriesId
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/**
 * Pulsar-shaped ingest input (S1) — the reference's PULSAR input mode
 * (opentsdb/.../AuraMetricsService.java:150-155 `InputMode {KAFKA,
 * PULSAR, DATA_GEN}`), completing InputMode parity alongside
 * [[KafkaSource]] and the data-gen source. Like Kafka, this is the parse
 * stage between the connector wire schema and the one shared pipeline
 * ([[IngestJob.processBatch]]); only the broker handshake itself is
 * unexecutable here (no broker, no connector jar in the environment).
 *
 * [[WireSchema]] mirrors what the open-source pulsar-spark connector
 * emits for a bytes-schema topic: `value` plus `__key`, `__topic`,
 * `__messageId`, `__publishTime`, `__eventTime`, `__messageProperties`.
 * The payload is the same UTF-8 JSON datapoint as Kafka's
 * ([[KafkaSource.PayloadSchema]]).
 *
 * Ordering: Pulsar's per-partition publish order is the (ledgerId,
 * entryId) pair inside `__messageId`, the role Kafka's flat `offset`
 * plays. [[seq]] packs them as `ledgerId << 28 | entryId` — monotone in
 * publish order per partition as long as a ledger holds < 2^28 entries
 * (brokers roll ledgers at ~50k entries by default), which is all
 * last-write-wins needs; cross-partition seq order is meaningless, as in
 * the reference's per-shard sequences. The connector ships the protobuf
 * `MessageId` bytes; [[toWire]]/[[parse]] use the fixed-width layout
 * below so the decode stays a codegen'd column expression — a production
 * deployment would swap [[messageIdLedgerEntry]] for the connector's own
 * id decoder, leaving every other stage untouched.
 */
object PulsarSource {

  /** The pulsar-spark source schema for a bytes-schema topic. */
  val WireSchema: StructType = StructType(Seq(
    StructField("__key", BinaryType),
    StructField("value", BinaryType),
    StructField("__topic", StringType),
    StructField("__messageId", BinaryType),
    StructField("__publishTime", TimestampType),
    StructField("__eventTime", TimestampType),
    StructField("__messageProperties", MapType(StringType, StringType))))

  /** Fixed-width `__messageId` layout used by [[toWire]]:
   *  big-endian ledgerId(8) ‖ entryId(8) ‖ partitionIdx(4). */
  private def beLong(bin: Column, offset: Int): Column =
    conv(hex(substring(bin, offset, 8)), 16, 10).cast("long")

  /** (ledgerId, entryId) from the message id bytes. */
  def messageIdLedgerEntry(messageId: Column): (Column, Column) =
    (beLong(messageId, 1), beLong(messageId, 9))

  /** Wire rows → points rows (the ingest schema `processBatch` expects).
   *  Malformed payloads are dropped, like the Kafka path. */
  def parse(pulsar: DataFrame): DataFrame = {
    val p = from_json(col("value").cast("string"), KafkaSource.PayloadSchema)
    val (ledger, entry) = messageIdLedgerEntry(col("__messageId"))
    pulsar
      .select(
        p.getField("metric").as("metric"),
        p.getField("tags").as("tags"),
        p.getField("ts").as("ts"),
        p.getField("value").as("value"),
        (shiftleft(ledger, 28) + entry).as("seq"))
      .filter(col("metric").isNotNull && col("ts").isNotNull && col("value").isNotNull)
      .withColumn("tags", coalesce(col("tags"), typedLit(Map.empty[String, String])))
      .withColumn("series_id", SeriesId.seriesId(col("metric"), col("tags")))
      .withColumn("segment_start", SeriesId.segmentStart(col("ts")))
  }

  /** Points rows → wire rows, simulating a by-series-keyed producer with
   *  ledger rollover every `entriesPerLedger` messages: `seq` order maps
   *  to (ledger, entry) order, so the parsed seq is order-isomorphic to
   *  the input seq (the LWW-relevant property), not numerically equal. */
  def toWire(points: DataFrame, topic: String, numPartitions: Int = 4,
      entriesPerLedger: Long = 1000): DataFrame = {
    def be(c: Column, hexWidth: Int): Column = unhex(lpad(hex(c), hexWidth, "0"))
    val entry = pmod(col("seq"), lit(entriesPerLedger))
    val ledger = ((col("seq") - entry) / lit(entriesPerLedger)).cast("long")
    points.select(
      encode(concat(col("metric"), lit("\u0000"), to_json(col("tags"))), "UTF-8").as("__key"),
      encode(to_json(struct(col("metric"), col("tags"), col("ts"), col("value"))), "UTF-8")
        .as("value"),
      lit(topic).as("__topic"),
      concat(be(ledger, 16), be(entry, 16),
        be(pmod(col("series_id"), lit(numPartitions)).cast("int"), 8)).as("__messageId"),
      to_timestamp(col("ts")).as("__publishTime"),
      to_timestamp(col("ts")).as("__eventTime"),
      typedLit(Map.empty[String, String]).as("__messageProperties"))
  }

  /** The real broker stream: `format("pulsar")` → [[parse]] → the same
   *  foreachBatch body as every other input mode
   *  ([[IngestJob.batchBody]], which passes each micro-batch's id). No
   *  spec starts it, since that needs a broker and the pulsar connector
   *  jar; PulsarSourceSpec drives [[parse]] and the batch body without
   *  one. */
  def run(spark: SparkSession, serviceUrl: String, topic: String,
      cfg: IngestJob.Config): StreamingQuery =
    parse(
      spark.readStream.format("pulsar")
        .option("service.url", serviceUrl)
        .option("topic", topic)
        .load())
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch(IngestJob.batchBody(cfg))
      .start()
}
