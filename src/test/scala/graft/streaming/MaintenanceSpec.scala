package graft.streaming

import graft.TestSpark
import graft.core.TsdbSchema
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-call composed maintenance pass: every sub-pass fires, the
 *  report names what ran, and the surviving reads are unchanged. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def eventsDf(rows: (Long, Long, Double)*) =
    rows.toSeq.toDF("event_id", "tsec", "value")
      .select(col("event_id"), (col("tsec") * 1000000000L).as("ts"),
        (col("event_id") % 150).as("user_id"), lit("m").as("event_type"),
        col("value"), lit("{}").as("props"))

  test("composed pass: purge + idle cleanup + consolidation + sketch folds, one call") {
    val base = java.nio.file.Files.createTempDirectory("graft_mnt_spec").toString
    val seg = TsdbSchema.SegmentSeconds
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 32)),
      dds = Seq(IngestJob.DdsConfig(
        "concat_ws('#', metric, cast(ts - ts % 86400 as string))", "value",
        0.02, name = "dds_daily")))
    val oldSeg = 10 * seg; val newSeg = 40 * seg
    // batch 0: an old segment (user 1 goes idle) + a young one;
    // batches 1-2: more young-segment data → 3 closed-able partials
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, oldSeg + 5, 1.0), (2L, newSeg + 5, 2.0))), cfg, batchId = 0L)
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (2L, newSeg + 10, 3.0), (3L, newSeg + 20, 4.0))), cfg, batchId = 1L)
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (3L, newSeg + 30, 5.0))), cfg, batchId = 2L)

    val keptDds = spark.read.parquet(IngestJob.ddsPath(cfg, "dds_daily"))
      .filter(split(col("key"), "#").getItem(1).cast("long") >= newSeg - newSeg % 86400)
      .groupBy(col("key"), col("sgn"), col("idx")).agg(sum(col("cnt")).as("cnt"))
      .collect().toSet

    val report = Maintenance.run(spark, cfg,
      retentionCutoffSec = Some(20 * seg), // drops the old segment
      idleCutoffSec = Some(20 * seg),      // user 1 only wrote before it
      sketchRetain = Map("dds_daily" ->
        (split(col("key"), "#").getItem(1).cast("long") >= newSeg - newSeg % 86400)))

    assert(report.purgedSegments === Seq(oldSeg))
    assert(report.sketchStoresFolded.toSet === Set("cms", "dds_daily"))
    // the old segment's partition is gone; young points intact
    assert(IngestJob.points(spark, cfg).select("ts").collect()
      .map(_.getLong(0)).forall(_ >= newSeg))
    // idle series (user 1) left the dim and latest views
    assert(IngestJob.seriesDim(spark, cfg)
      .select(col("tags")("user")).collect().map(_.getString(0)).toSet === Set("2", "3"))
    assert(IngestJob.latest(spark, cfg)
      .select(col("tags")("user")).collect().map(_.getString(0)).toSet === Set("2", "3"))
    // the cms fold preserved the merged cells (counts include the purged
    // segment's point: sketch stores answer "ever observed", the
    // retention axes are segment (points) and key (sketchRetain))
    assert(IngestJob.cmsCells(spark, cfg)
      .agg(sum(col("cnt"))).head.getLong(0) === 4 * 5L) // depth x total points
    // the day-keyed store dropped the expired day during its fold and
    // kept the retained day's buckets bit-exactly
    val after = spark.read.parquet(IngestJob.ddsPath(cfg, "dds_daily"))
      .groupBy(col("key"), col("sgn"), col("idx")).agg(sum(col("cnt")).as("cnt"))
      .collect().toSet
    assert(after === keptDds)
  }

  test("retention purge through the pass repairs a straddling rung window (round 15)") {
    val base = java.nio.file.Files.createTempDirectory("graft_mnt_spec3").toString
    val day = 86400L
    val t0 = 70 * day
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => t0 + 2 * day))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, t0 + 10, 1.0),        // expires under the mid-day cutoff
      (2L, t0 + 5 * 3600, 2.0),  // survives
      (3L, t0 + 7 * 3600, 4.0))), cfg, batchId = 0L)
    IngestJob.finalizeRollup(spark, cfg)
    // cutoff 4 h into the 1d window: the composed pass must drop the
    // expired segment AND re-flush the straddling day from the survivors
    // (purgeAndRepair), so the rung frontier never retreats
    val report = Maintenance.run(spark, cfg,
      retentionCutoffSec = Some(t0 + 4 * 3600))
    assert(report.purgedSegments === Seq(t0))
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === Long.MaxValue)
    assert(IngestJob.rungFrontier(spark, cfg, "1h") === Long.MaxValue)
    val rung = spark.read.parquet(IngestJob.rungPath(cfg, "1d"))
    assert(rung.agg(sum(col("sum"))).head.getDouble(0) === 6.0)
  }

  test("no cutoffs: the pass degrades to log compaction + folds, nothing purged") {
    val base = java.nio.file.Files.createTempDirectory("graft_mnt_spec2").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4)
    val t = 40 * TsdbSchema.SegmentSeconds
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(
      eventsDf((1L, t, 1.0), (2L, t + 5, 2.0))), cfg, batchId = 0L)
    val before = IngestJob.points(spark, cfg)
      .select("series_id", "ts", "value").collect().toSet
    val report = Maintenance.run(spark, cfg)
    assert(report.purgedSegments.isEmpty && report.sketchStoresFolded.isEmpty)
    // consolidation still runs: the batch's many tiny part files fold to
    // the segment's target count (that's the R6 job working, not a purge)
    assert(report.compactedSegments === Seq(t))
    assert(IngestJob.points(spark, cfg)
      .select("series_id", "ts", "value").collect().toSet === before)
    // the series log is snapshotted to one row per series
    assert(IngestJob.seriesDim(spark, cfg).count() === 2)
  }

  test("a failing chain settles its siblings; a rerun after removing the fault equals a clean pass") {
    val seg = TsdbSchema.SegmentSeconds
    val oldSeg = 10 * seg; val newSeg = 40 * seg
    def lake(prefix: String): IngestJob.Config = {
      val base = java.nio.file.Files.createTempDirectory(prefix).toString
      val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
        retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
        cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 32)),
        dds = Seq(IngestJob.DdsConfig("metric"), IngestJob.DdsConfig(
          "concat_ws('#', metric, cast(ts - ts % 86400 as string))", name = "dds_daily")))
      Seq(Seq((1L, oldSeg + 5, 1.0), (2L, newSeg + 5, 2.0)),
        Seq((2L, newSeg + 10, 3.0), (3L, newSeg + 20, 4.0)),
        Seq((3L, newSeg + 30, 5.0))).zipWithIndex.foreach { case (rows, i) =>
        IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(rows: _*)),
          cfg, batchId = i.toLong)
      }
      cfg
    }
    def pass(cfg: IngestJob.Config): Maintenance.Report =
      Maintenance.run(spark, cfg, retentionCutoffSec = Some(20 * seg), idleCutoffSec = Some(20 * seg))
    val conf = spark.sessionState.newHadoopConf()
    def exists(p: String): Boolean = java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    val cfg = lake("graft_mnt_fault")
    val liveSeg = s"${IngestJob.pointsPath(cfg)}/segment_start=$newSeg"
    assert(graft.core.Fs.dataFiles(conf, liveSeg).size > 1)
    val seriesBefore = graft.core.Fs.dataFiles(conf, IngestJob.seriesLogPath(cfg)).toSet
    val latestBefore = graft.core.Fs.dataFiles(conf, IngestJob.latestLogPath(cfg)).toSet
    // the fault: a corrupt data file in the latest log fails that chain
    val fault = java.nio.file.Paths.get(IngestJob.latestLogPath(cfg), "part-00000-corrupt.parquet")
    java.nio.file.Files.write(fault, "not a parquet file".getBytes)
    val e = intercept[RuntimeException](pass(cfg))
    assert(e.getMessage === "maintenance chain 'latest_log' failed", e.getMessage)
    // the sibling chains settled: points purged and consolidated, the
    // series log rewritten, every sketch store folded
    assert(graft.core.Fs.partitions(conf, IngestJob.pointsPath(cfg), "segment_start")
      .map(_._2.toLong) === Seq(newSeg))
    assert(graft.core.Fs.dataFiles(conf, liveSeg).size === 1)
    assert((graft.core.Fs.dataFiles(conf, IngestJob.seriesLogPath(cfg)).toSet & seriesBefore).isEmpty)
    Seq(IngestJob.cmsPath(cfg), IngestJob.ddsPath(cfg), IngestJob.ddsPath(cfg, "dds_daily"))
      .foreach(d => assert(exists(s"$d/batch_id=${StoreCompaction.SnapshotBatchId}"), s"$d not folded"))
    // the failed chain left its store as it was, with no staging dir
    assert(graft.core.Fs.dataFiles(conf, IngestJob.latestLogPath(cfg)).toSet ===
      latestBefore + new org.apache.hadoop.fs.Path(fault.toUri))
    assert(!exists(s"${cfg.lakeDir}/.latest_log_compact_tmp"))

    java.nio.file.Files.delete(fault)
    pass(cfg)
    val clean = lake("graft_mnt_clean")
    val report = pass(clean)
    assert(report.purgedSegments === Seq(oldSeg))
    assert(report.compactedSegments === Seq(newSeg))
    assert(report.sketchStoresFolded === Seq("cms", "dds", "dds_daily"))
    assert(report.chainMs.keys.toSeq === Seq("points", "series_log", "latest_log", "cms", "dds", "dds_daily"))
    assert(report.chainMs.values.forall(_ >= 0))
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().toSet
    def stores(c: IngestJob.Config) = Seq(
      rows(IngestJob.points(spark, c), "series_id", "ts", "value", "seq", "segment_start"),
      rows(IngestJob.seriesDim(spark, c), "series_id", "metric", "first_seen", "last_seen"),
      rows(IngestJob.latest(spark, c), "series_id", "last_ts", "last_value"),
      rows(IngestJob.cmsCells(spark, c), "i", "j", "cnt"),
      rows(IngestJob.ddsBuckets(spark, c), "key", "sgn", "idx", "cnt"),
      rows(IngestJob.ddsBuckets(spark, c, "dds_daily"), "key", "sgn", "idx", "cnt"))
    val want = stores(clean)
    assert(want.forall(_.nonEmpty), "every store of the clean pass holds rows")
    stores(cfg).zip(want).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got === exp, s"store #$i differs after the rerun")
    }
    assert(graft.core.Fs.dataFiles(conf, IngestJob.latestLogPath(cfg)).toSet.intersect(latestBefore).isEmpty,
      "the rerun compacted the latest log")
  }
}
