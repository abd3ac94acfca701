package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Broker-free coverage of the Kafka input mode (S1): wire-schema parse,
 *  producer round-trip, and the full processBatch pipeline fed from
 *  kafka-shaped rows. */
class KafkaSourceSpec extends AnyFunSuite {

  private def points = {
    val spark = TestSpark.spark
    graft.sources.TsdbViews.points(spark, "/root/testdata/sf0.001").limit(200)
  }

  test("producer round-trip: toWire then parse preserves the datapoint") {
    val pts = points.cache()
    try {
      val back = KafkaSource.parse(KafkaSource.toWire(pts, "tsdb.points"))
      assert(back.schema("tags").dataType === pts.schema("tags").dataType)
      val key = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("series_id"), col("ts"), col("value")).collect().toSet
      assert(key(back) === key(pts))
      // per-series write order survives the partition<<44|offset encoding
      val ordered = KafkaSource.parse(KafkaSource.toWire(pts, "t"))
        .groupBy("series_id").agg(max_by(col("ts"), col("seq")).as("last_ts"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expect = pts.groupBy("series_id").agg(max_by(col("ts"), col("seq")).as("last_ts"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ordered === expect)
    } finally pts.unpersist(): Unit
  }

  test("malformed payloads are dropped, valid ones survive") {
    val spark = TestSpark.spark
    val rows = java.util.Arrays.asList(
      Row("k".getBytes, """{"metric":"cpu","tags":{"h":"a"},"ts":100,"value":1.5}""".getBytes,
        "t", 0, 0L, new java.sql.Timestamp(0), 0),
      Row("k".getBytes, "not json at all".getBytes, "t", 0, 1L, new java.sql.Timestamp(0), 0),
      Row("k".getBytes, """{"metric":null,"ts":5,"value":1.0}""".getBytes,
        "t", 0, 2L, new java.sql.Timestamp(0), 0))
    val wire = spark.createDataFrame(rows, KafkaSource.WireSchema)
    val parsed = KafkaSource.parse(wire).collect()
    assert(parsed.length === 1)
    assert(parsed(0).getAs[String]("metric") === "cpu")
    assert(parsed(0).getAs[Map[String, String]]("tags") === Map("h" -> "a"))
  }

  test("kafka-shaped rows drive the full ingest pipeline; offset order is LWW") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_kafka").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4)
    def payload(ts: Long, v: Double) =
      s"""{"metric":"cpu","tags":{"host":"a"},"ts":$ts,"value":$v}""".getBytes
    // same (series, ts) produced twice: the higher offset must win
    val rows = java.util.Arrays.asList(
      Row("cpu".getBytes, payload(1000, 1.0), "t", 0, 10L, new java.sql.Timestamp(0), 0),
      Row("cpu".getBytes, payload(1000, 9.0), "t", 0, 11L, new java.sql.Timestamp(0), 0),
      Row("cpu".getBytes, payload(1060, 2.0), "t", 0, 12L, new java.sql.Timestamp(0), 0))
    val stats = IngestJob.processBatch(
      KafkaSource.parse(spark.createDataFrame(rows, KafkaSource.WireSchema)), cfg, batchId = 0L)
    assert(stats.total === 3 && stats.admitted === 3)
    val deduped = graft.query.QueryEngine.dedupe(IngestJob.points(spark, cfg))
      .select("ts", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(deduped === Map(1000L -> 9.0, 1060L -> 2.0))
    val latest = IngestJob.latest(spark, cfg).collect()
    assert(latest.length === 1 && latest(0).getAs[Double]("last_value") === 2.0)
  }

  test("the batch body writes sketch partials into the batch's partition; a replay leaves counts unchanged") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_kafka_body").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4,
      cms = Some(IngestJob.CmsConfig("metric")), dds = Seq(IngestJob.DdsConfig("metric")))
    def payload(m: String, ts: Long, v: Double) =
      s"""{"metric":"$m","tags":{"host":"a"},"ts":$ts,"value":$v}""".getBytes
    def wire(offset: Long, rows: (String, Long, Double)*) = KafkaSource.parse(spark.createDataFrame(
      java.util.Arrays.asList(rows.zipWithIndex.map { case ((m, ts, v), i) =>
        Row(m.getBytes, payload(m, ts, v), "t", 0, offset + i, new java.sql.Timestamp(0), 0)
      }: _*), KafkaSource.WireSchema))
    val body = IngestJob.batchBody(cfg)
    body(wire(0, ("cpu", 1000, 1.0), ("cpu", 1060, 2.0), ("mem", 1000, 3.0)), 2L)
    val b3 = wire(3, ("cpu", 1120, 4.0), ("disk", 1120, 5.0))
    body(b3, 3L)
    val conf = spark.sessionState.newHadoopConf()
    for (dir <- Seq(IngestJob.cmsPath(cfg), IngestJob.ddsPath(cfg))) {
      assert(graft.core.Fs.partitions(conf, dir, "batch_id").map(_._2).sorted === Seq("2", "3"), dir)
      assert(graft.core.Fs.dataFiles(conf, dir).isEmpty, s"partials appended under the store root of $dir")
    }
    def counts() = (IngestJob.cmsCells(spark, cfg).collect().toSet,
      IngestJob.ddsBuckets(spark, cfg).collect().toSet)
    val before = counts()
    // 5 points, each adding 1 to one cell of every count-min row
    assert(before._1.toSeq.map(_.getAs[Long]("cnt")).sum === 5L * IngestJob.CmsConfig("metric").depth)
    body(b3, 3L) // foreachBatch replays batch 3 after a failure
    assert(counts() === before)
  }
}
