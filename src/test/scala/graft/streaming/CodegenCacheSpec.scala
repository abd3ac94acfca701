package graft.streaming

import graft.TestSpark
import graft.core.TsdbSchema
import graft.query.TsdbJson
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generated-code reuse across micro-batches. One ingest cycle — a
 *  `processBatch` on a 1h+1d ladder with CMS and DDS, routed reads, the
 *  latest store and a `Maintenance.run` — needs more distinct generated
 *  classes than Spark's default codegen class cache holds (100), so
 *  without [[graft.core.GraftSession]]'s larger cache every batch
 *  recompiles what the reads and maintenance evicted. */
class CodegenCacheSpec extends AnyFunSuite {

  private val seg = TsdbSchema.SegmentSeconds
  private val hour = 3600L
  // day-aligned, so the 26 h history closes one 1d rung window
  private val t0 = 100 * 86400L

  /** `n` events over `segments` 2h segments from `segStart`, with 2%
   *  planted late rows, 1% far-future rows and 1% stragglers into recent
   *  segments (the shape of a steady-state micro-batch). */
  private def events(batch: Int, segStart: Long, segments: Int, n: Int, now: Long,
      cfg: IngestJob.Config): DataFrame = {
    val id = col("id")
    val slot = pmod(id, lit(100L))
    val sec = when(slot < 2, lit(now - cfg.retentionSec - hour) - pmod(id, lit(7L)) * 60)
      .when(slot < 3, lit(now + cfg.maxFutureSec + hour) + pmod(id, lit(11L)) * 60)
      .when(slot < 4, lit(now - seg - 1) - pmod(id, lit(17L)) * 600)
      .otherwise(lit(segStart) + (id * lit(segments * seg) / lit(n.toLong)).cast("long"))
    TestSpark.spark.range(n).select(
      (id + lit(batch * 1000000L)).as("event_id"),
      (sec * 1000000000L).as("ts"),
      pmod(id * 7, lit(150L)).as("user_id"),
      element_at(array(lit("cpu"), lit("mem"), lit("disk")), (pmod(id, lit(3L)) + 1).cast("int"))
        .as("event_type"),
      pmod(id, lit(97L)).cast("double").as("value"),
      lit("{}").as("props"))
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a steady-state ingest batch reuses its generated classes after reads and maintenance") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_codegen").toString
    var clock = t0 + 13 * seg
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = 30 * hour, maxFutureSec = hour,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => clock),
      cms = Some(IngestJob.CmsConfig("metric")), dds = Seq(IngestJob.DdsConfig("metric")))
    def batch(b: Int, segStart: Long, segments: Int, n: Int): IngestJob.BatchStats = {
      clock = segStart + segments * seg
      IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(
        events(b, segStart, segments, n, clock, cfg)), cfg, batchId = b.toLong)
    }
    def cycle(): Unit = {
      val cutoff = clock - cfg.retentionSec - Math.floorMod(clock - cfg.retentionSec, seg)
      Seq(
        s"""{"start":${clock - 24 * hour},"end":$clock,""" +
          """"filter":{"type":"MetricLiteral","metric":"cpu"},""" +
          """"downsample":{"interval":"1h","aggregator":"sum"}}""",
        s"""{"start":$cutoff,"end":$clock,"filter":{"type":"MetricLiteral","metric":"mem"},""" +
          """"downsample":{"interval":"1d","aggregator":"sum"},""" +
          """"groupBy":{"tagKeys":["colo"],"aggregator":"sum"}}""")
        .foreach(json => graft.Graft.queryRouted(spark, cfg, TsdbJson.parseQuery(json)).collect())
      IngestJob.latest(spark, cfg).filter(col("metric") === "disk").collect()
      Maintenance.run(spark, cfg, retentionCutoffSec = Some(cutoff), idleCutoffSec = Some(cutoff))
    }
    batch(0, t0, segments = 13, n = 2600) // 26 h of history
    val first = batch(1, t0 + 13 * seg, segments = 1, n = 400)
    cycle()
    val c0 = compiles
    val second = batch(2, t0 + 14 * seg, segments = 1, n = 400)
    val compiled = compiles - c0
    assert(first.total === 400 && second.total === 400)
    assert(second.admitted === first.admitted)
    info(s"the second batch compiled $compiled classes")
    // a handful of classes are new every batch; everything else is
    // reused. With Spark's default cache of 100 entries this batch
    // recompiles most of its working set (86 classes).
    assert(compiled <= 25, s"the second batch compiled $compiled classes")
  }
}
