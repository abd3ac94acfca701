package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Broker-free coverage of the Pulsar input mode (S1): wire-schema parse,
 *  producer round-trip with ledger rollover, and the full processBatch
 *  pipeline fed from pulsar-shaped rows. */
class PulsarSourceSpec extends AnyFunSuite {

  private def points = {
    val spark = TestSpark.spark
    graft.sources.TsdbViews.points(spark, "/root/testdata/sf0.001").limit(200)
  }

  private def msgId(ledger: Long, entry: Long, partition: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(20)
    bb.putLong(ledger).putLong(entry).putInt(partition)
    bb.array()
  }

  test("producer round-trip: toWire then parse preserves the datapoint") {
    val pts = points.cache()
    try {
      // small ledgers force rollover: seq order must survive as
      // (ledger, entry) order even though values change
      val back = PulsarSource.parse(PulsarSource.toWire(pts, "tsdb.points", entriesPerLedger = 7))
      assert(back.schema("tags").dataType === pts.schema("tags").dataType)
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("series_id"), col("ts"), col("value")).collect().toSet
      assert(key(back) === key(pts))
      // per-series write order survives the ledger<<28|entry encoding
      val ordered = back
        .groupBy("series_id").agg(max_by(col("ts"), col("seq")).as("last_ts"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = pts.groupBy("series_id").agg(max_by(col("ts"), col("seq")).as("last_ts"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ordered === expect)
    } finally pts.unpersist(): Unit
  }

  test("messageId decode matches a hand-built big-endian id") {
    val spark = TestSpark.spark
    val rows = java.util.Arrays.asList(
      Row("k".getBytes, """{"metric":"cpu","tags":{"h":"a"},"ts":100,"value":1.5}""".getBytes,
        "t", msgId(ledger = 5, entry = 9, partition = 2),
        new java.sql.Timestamp(0), new java.sql.Timestamp(0), Map.empty[String, String]))
    val parsed = PulsarSource.parse(spark.createDataFrame(rows, PulsarSource.WireSchema)).collect()
    assert(parsed.length === 1)
    assert(parsed(0).getAs[Long]("seq") === ((5L << 28) | 9L))
  }

  test("malformed payloads are dropped, valid ones survive") {
    val spark = TestSpark.spark
    val ts0 = new java.sql.Timestamp(0)
    val rows = java.util.Arrays.asList(
      Row("k".getBytes, """{"metric":"cpu","tags":{"h":"a"},"ts":100,"value":1.5}""".getBytes,
        "t", msgId(1, 0, 0), ts0, ts0, Map.empty[String, String]),
      Row("k".getBytes, "not json at all".getBytes, "t", msgId(1, 1, 0), ts0, ts0,
        Map.empty[String, String]),
      Row("k".getBytes, """{"metric":null,"ts":5,"value":1.0}""".getBytes,
        "t", msgId(1, 2, 0), ts0, ts0, Map.empty[String, String]))
    val wire = spark.createDataFrame(rows, PulsarSource.WireSchema)
    val parsed = PulsarSource.parse(wire).collect()
    assert(parsed.length === 1)
    assert(parsed(0).getAs[String]("metric") === "cpu")
    assert(parsed(0).getAs[Map[String, String]]("tags") === Map("h" -> "a"))
  }

  test("pulsar-shaped rows drive the full ingest pipeline; entry order is LWW") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_pulsar").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4)
    val ts0 = new java.sql.Timestamp(0)
    def payload(ts: Long, v: Double) =
      s"""{"metric":"cpu","tags":{"host":"a"},"ts":$ts,"value":$v}""".getBytes
    // same (series, ts) produced twice: the later (ledger, entry) must win
    val rows = java.util.Arrays.asList(
      Row("cpu".getBytes, payload(1000, 1.0), "t", msgId(3, 10, 0), ts0, ts0,
        Map.empty[String, String]),
      Row("cpu".getBytes, payload(1000, 9.0), "t", msgId(4, 0, 0), ts0, ts0,
        Map.empty[String, String]),
      Row("cpu".getBytes, payload(1060, 2.0), "t", msgId(4, 1, 0), ts0, ts0,
        Map.empty[String, String]))
    val stats = IngestJob.processBatch(
      PulsarSource.parse(spark.createDataFrame(rows, PulsarSource.WireSchema)), cfg, batchId = 0L)
    assert(stats.total === 3 && stats.admitted === 3)
    val deduped = graft.query.QueryEngine.dedupe(IngestJob.points(spark, cfg))
      .select("ts", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(deduped === Map(1000L -> 9.0, 1060L -> 2.0))
    val latest = IngestJob.latest(spark, cfg).collect()
    assert(latest.length === 1 && latest(0).getAs[Double]("last_value") === 2.0)
  }
}
