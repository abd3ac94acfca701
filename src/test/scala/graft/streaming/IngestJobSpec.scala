package graft.streaming

import graft.TestSpark
import graft.core.TsdbSchema
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ingest behavior: admission, lake layout, log-structured
 *  dims, purge, compaction (S1-S3, R2-R5). */
class IngestJobSpec extends AnyFunSuite {

  private def freshCfg(retention: Long = TsdbSchema.RetentionSeconds): IngestJob.Config = {
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    IngestJob.Config(s"$base/lake", s"$base/ckpt", retentionSec = retention)
  }

  private def eventsDf(rows: (Long, Long, String, Double)*) = {
    val spark = TestSpark.spark
    import spark.implicits._
    // (event_id, ts-seconds, event_type, value) in the driver's schema shape
    rows.toSeq.toDF("event_id", "tsec", "event_type", "value")
      .select(col("event_id"), (col("tsec") * 1000000000L).as("ts"),
        (col("event_id") % 150).as("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
  }

  private val seg = TsdbSchema.SegmentSeconds

  /** A plain `interval` sum downsample over [start, end). */
  private def ds(interval: String, start: Long, end: Long) =
    graft.query.TsdbQuery(graft.filters.MatchAll, start, end,
      downsample = Some(graft.query.DownsampleSpec(interval, "sum")))

  /** Which of the lake's points and rung stores `df` scans. */
  private def scans(df: org.apache.spark.sql.DataFrame, cfg: IngestJob.Config): Set[String] =
    graft.ScanStats.scanned(df, (IngestJob.pointsPath(cfg) +:
      cfg.rollupRungs.map(IngestJob.rungPath(cfg, _))): _*)

  test("admission drops too-late and too-future points (R2)") {
    val cfg = freshCfg(retention = 3600)
    val now = 100000L
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, now, "m", 1.0), // fresh
      (2L, now - 3601, "m", 2.0), // beyond retention vs hwm → dropped
      (3L, now - 100, "m", 3.0), // fine
      (4L, now + 7200, "m", 4.0))) // absurd future → dropped, and NOT the hwm
    // robust hwm: median ts = 99950; the outlier at now+7200 is beyond
    // median+maxFutureSec so it neither becomes the mark nor evicts the
    // valid fresh points. hwm = 100000; retention floor 96400.
    val stats = IngestJob.processBatch(batch, cfg)
    assert(stats === IngestJob.BatchStats(4, 2, now))
    assert(stats.dropped === 2)
    val kept = IngestJob.points(TestSpark.spark, cfg).select("seq").collect()
      .map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("a future outlier within tolerance of the true mark is admitted (R2)") {
    val cfg = freshCfg(retention = 3600)
    val now = 200000L
    // point at now+3000: ahead of the bulk but <= hwm+maxFutureSec — legal
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, now, "m", 1.0), (2L, now - 10, "m", 2.0), (3L, now + 3000, "m", 3.0)))
    val stats = IngestJob.processBatch(batch, cfg)
    assert(stats === IngestJob.BatchStats(3, 3, now + 3000))
  }

  test("wall-clock admission: isEarly vs the injected clock (R2)") {
    val now = 400000L
    val cfg = freshCfg(retention = 3600).copy(nowSec = Some(() => now))
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, now - 10, "m", 1.0), // fresh
      (2L, now + 3599, "m", 2.0), // within tolerance of the clock
      (3L, now + 3601, "m", 3.0))) // early → dropped
    val stats = IngestJob.processBatch(batch, cfg)
    assert(stats === IngestJob.BatchStats(3, 2, now + 3599))
  }

  test("lake is partitioned by segment window; dims and latest match (S3)") {
    val cfg = freshCfg()
    val t0 = 10 * seg
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, t0, "cpu", 1.0), (2L, t0 + 100, "cpu", 5.0),
      (3L, t0 + seg, "cpu", 7.0), (4L, t0 + seg + 50, "mem", 9.0)))
    IngestJob.processBatch(batch, cfg)

    val partDirs = new java.io.File(IngestJob.pointsPath(cfg)).listFiles()
      .filter(_.getName.startsWith("segment_start=")).map(_.getName).sorted
    assert(partDirs.toSeq ===
      Seq(s"segment_start=${t0}", s"segment_start=${t0 + seg}"))

    val spark = TestSpark.spark
    val dim = IngestJob.seriesDim(spark, cfg)
    assert(dim.count() === batch.select("series_id").distinct.count())

    val latest = IngestJob.latest(spark, cfg)
      .collect().map(r => r.getAs[String]("metric") + "/" +
        r.getAs[Map[String, String]]("tags")("user") -> r.getAs[Double]("last_value")).toMap
    // cpu series for user 1 (events 1,2): doubled user ids — event_id%150 ⇒ users 1,2,3,4
    assert(latest.values.toSet === Set(1.0, 5.0, 7.0, 9.0))
  }

  test("second batch appends; latest log folds to the newest value (R3)") {
    val cfg = freshCfg()
    val t0 = 20 * seg
    val ev1 = graft.sources.TsdbViews.pointsFromEvents(eventsDf((150L, t0, "cpu", 1.0)))
    val ev2 = graft.sources.TsdbViews.pointsFromEvents(eventsDf((300L, t0 + 10, "cpu", 42.0)))
    IngestJob.processBatch(ev1, cfg)
    IngestJob.processBatch(ev2, cfg) // same user (both ids % 150 == 0) → same series
    val spark = TestSpark.spark
    val lat = IngestJob.latest(spark, cfg).collect()
    assert(lat.length === 1)
    assert(lat(0).getAs[Double]("last_value") === 42.0)
    assert(IngestJob.seriesDim(spark, cfg).count() === 1)
    // compaction preserves the folded state and shrinks the log to 1 row
    IngestJob.compact(spark, cfg)
    assert(spark.read.parquet(IngestJob.latestLogPath(cfg)).count() === 1)
    assert(IngestJob.latest(spark, cfg).head.getAs[Double]("last_value") === 42.0)
  }

  test("points compactor bounds file count per segment; data unchanged (R6)") {
    val spark = TestSpark.spark
    val cfg = freshCfg(retention = Long.MaxValue / 4)
    val t0 = 40 * seg
    // 4 micro-batches into the same segment → ≥4 files in one partition
    for (i <- 0 until 4)
      IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(
        eventsDf((i.toLong + 1, t0 + i * 10, "cpu", i.toDouble))), cfg)
    val before = IngestJob.points(spark, cfg)
      .select("seq", "ts", "value").collect().toSet
    def fileCount(): Int = {
      val dir = new java.io.File(s"${IngestJob.pointsPath(cfg)}/segment_start=$t0")
      dir.listFiles().count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.endsWith(".crc"))
    }
    assert(fileCount() >= 4)
    val rewritten = IngestJob.compactPoints(spark, cfg)
    assert(rewritten === Seq(t0))
    assert(fileCount() === 1) // tiny partition → one target file
    assert(IngestJob.points(spark, cfg).select("seq", "ts", "value").collect().toSet === before)
    // idempotent: already at target → nothing rewritten
    assert(IngestJob.compactPoints(spark, cfg) === Seq.empty)
  }

  test("rollup is maintained at ingest and exact under cross-batch duplicate ts (A10)") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_ru").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, rollupInterval = Some("1h"))
    val t0 = 50 * seg
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0, "cpu", 1.0), (300L, t0 + 60, "cpu", 5.0))), cfg)
    // second batch re-sends ts=t0 for the same series (user 0) with a
    // higher seq — LWW: the rollup must use 7.0, not 1.0 or 1.0+7.0
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (450L, t0, "cpu", 7.0), (600L, t0 + 3600, "cpu", 9.0))), cfg)
    // segment t0 is still open (hwm inside it) → close-gated, no flush yet;
    // a later batch pushes the hwm past t0's end and triggers the flush
    assert(!new java.io.File(IngestJob.rollupPath(cfg)).exists())
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (750L, t0 + seg + 60, "mem", 3.0))), cfg)
    val ru = IngestJob.rollup(spark, cfg)
      .filter(col("metric") === "cpu")
      .select(col("bucket_ts").cast("long"), col("sum"), col("cnt"), col("last"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(ru(t0) === ((12.0, 2L, 5.0))) // 7.0 (LWW) + 5.0; last by ts = 5.0
    assert(ru(t0 + 3600) === ((9.0, 1L, 9.0)))
    // a routed read of the closed segment scans the MAINTAINED table,
    // never raw points
    val served = graft.Graft.queryRouted(spark, cfg, ds("2h", t0, t0 + seg))
    assert(scans(served, cfg) === Set(IngestJob.rollupPath(cfg)),
      "must scan the maintained rollup table only")
    assert(served.filter(col("metric") === "cpu").collect()
      .map(r => r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value")).toMap ===
      Map(t0 -> 21.0))
  }

  test("close gate: mid-segment batches never rewrite the open segment's rollup; late data re-flushes a closed one") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_gate").toString
    val now = 80 * seg + 2 * seg + 100 // wall clock inside the third segment
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, rollupInterval = Some("1h"),
      nowSec = Some(() => now))
    val t0 = 80 * seg
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0), (300L, t0 + seg + 10, "cpu", 2.0),
      (450L, t0 + 2 * seg + 10, "cpu", 4.0))), cfg)
    def rollupParts(): Map[String, Long] = {
      val d = new java.io.File(IngestJob.rollupPath(cfg))
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.startsWith("segment_start="))
        .flatMap(p => p.listFiles().filter(_.isFile).map(f => f.getPath -> f.lastModified()))
        .toMap
    }
    // the two closed segments flushed; the open (clock's) segment did not
    val after1 = rollupParts()
    assert(after1.keys.exists(_.contains(s"segment_start=$t0")))
    assert(after1.keys.exists(_.contains(s"segment_start=${t0 + seg}")))
    assert(!after1.keys.exists(_.contains(s"segment_start=${t0 + 2 * seg}")))
    // a mid-segment batch into the open segment: NO rollup write at all
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (600L, t0 + 2 * seg + 200, "cpu", 8.0))), cfg)
    assert(rollupParts() === after1, "open-segment batch must not touch the rollup")
    // late data into a CLOSED segment: exactly that partition re-flushes
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (751L, t0 + 20, "cpu", 16.0))), cfg)
    val after3 = rollupParts()
    assert(after3.keys.exists(_.contains(s"segment_start=$t0")))
    assert(after3.filter(_._1.contains(s"segment_start=${t0 + seg}")) ===
      after1.filter(_._1.contains(s"segment_start=${t0 + seg}")),
      "untouched closed segment must not be rewritten")
    assert(!after3.keys.exists(_.contains(s"segment_start=${t0 + 2 * seg}")))
    val frontier = IngestJob.rollupFrontier(spark, cfg)
    assert(frontier === t0 + 2 * seg)
    // hybrid routing: closed segments from the rollup, the open tail raw
    val res = graft.Graft.queryRouted(spark, cfg, ds("2h", t0, t0 + 3 * seg))
    assert(scans(res, cfg) === Set(IngestJob.rollupPath(cfg), IngestJob.pointsPath(cfg)),
      "closed segments from the rollup scan, the open tail from a raw scan")
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains(s">= ${t0 + 2 * seg}"),
      s"raw side must carry the segment_start pruning conjunct:\n$plan")
    val byBucket = res.filter(col("metric") === "cpu")
      .groupBy(col("bucket_ts").cast("long").as("b")).agg(sum(col("value")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byBucket === Map(
      t0 -> 17.0, // 1.0 + late-arriving 16.0 (re-flushed closed segment)
      (t0 + seg) -> 2.0,
      (t0 + 2 * seg) -> 12.0)) // 4.0 + 8.0 from the raw open tail
  }

  test("a rollup LADDER is maintained at ingest: per-rung close gates, frontiers, coarsest-rung serving (round 14)") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_ladder").toString
    val day = 86400L
    val t0 = 10 * day // day- and segment-aligned
    // frozen clock at 10:00 on day 1: every touched 2h segment is closed
    // (1h rung fully flushed) but day 1 itself is still open — the 1d
    // rung's frontier must LAG the 1h rung's
    val now = t0 + day + 10 * 3600
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => now))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0), (300L, t0 + 3600, "cpu", 2.0),
      (450L, t0 + day + 10, "cpu", 4.0),
      (600L, t0 + day + 21600, "cpu", 8.0))), cfg)
    // the 1d rung holds exactly the closed day; the open day is absent
    val rungDir = new java.io.File(IngestJob.rungPath(cfg, "1d"))
    val parts = rungDir.listFiles().filter(_.getName.startsWith("segment_start="))
      .map(_.getName).toSet
    assert(parts === Set(s"segment_start=$t0"))
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === t0 + day)
    // every lake segment is closed and flushed on the 1h rung
    assert(IngestJob.rungFrontier(spark, cfg, "1h") === Long.MaxValue)
    // engine-path ladder routing (round-15 rung choice): the straddling
    // daily range serves ENTIRELY from the fully-flushed 1h rung — its
    // frontier (∞) reaches further than the lagging 1d rung's, so no raw
    // scan of the open day happens at all
    val ladder = IngestJob.rollupLadder(spark, cfg)
    assert(ladder.map(_._2).toSet === Set("1h", "1d"))
    val (rung1h, rung1d) = (IngestJob.rungPath(cfg, "1h"), IngestJob.rungPath(cfg, "1d"))
    val res = graft.Graft.queryRouted(spark, cfg, ds("1d", t0, t0 + 2 * day))
    // the 1h primary rung's store path is lake/rollup (historical name)
    assert(scans(res, cfg) === Set(rung1h),
      "the fresher 1h rung must serve the whole straddling range, no raw scan")
    val byBucket = res.collect().map(r =>
      r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value")).toMap
    assert(byBucket === Map(t0 -> 3.0, (t0 + day) -> 12.0))
    // equal served frontiers tie-break COARSER: with both rungs clamped
    // to the same finite frontier, the straddle serves day 1 from the 1d
    // rung (fewer store rows) and the open day raw
    val clamped = ladder.map { case (df, iv, _) => (df, iv, t0 + day) }
    val tied = graft.Routed.run(IngestJob.points(spark, cfg), clamped,
      ds("1d", t0, t0 + 2 * day))
    assert(scans(tied, cfg) === Set(rung1d, IngestJob.pointsPath(cfg)),
      "equal frontiers must tie-break to the coarser rung + raw tail")
    assert(tied.collect().map(r =>
      r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value")).toMap ===
      Map(t0 -> 3.0, (t0 + day) -> 12.0))
    // a fully-closed daily range reads ONLY the 1d rung
    val closedOnly = graft.Graft.queryRouted(spark, cfg, ds("1d", t0, t0 + day))
    assert(scans(closedOnly, cfg) === Set(rung1d),
      "closed range must serve entirely from the 1d rung")
    // the SQL one-liner attaches the whole ladder: the closed daily SQL
    // serves from the 1d rung (no raw scan, no dedupe window); the
    // straddling one splits hybrid on the 1d rung's own frontier
    graft.Graft.registerRouted(spark, cfg, "v_live_ladder")
    val sqlClosed = spark.sql(
      s"""SELECT metric, ts - ts % 86400 AS b,
         |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
         |                      ELSE value END), 4) AS s
         |FROM v_live_ladder WHERE ts >= $t0 AND ts < ${t0 + day}
         |GROUP BY 1, 2""".stripMargin)
    assert(scans(sqlClosed, cfg) === Set(rung1d),
      "closed daily SQL must read the maintained 1d rung")
    assert(sqlClosed.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap ===
      Map(t0 -> 3.0))
    val sqlStraddle = spark.sql(
      s"""SELECT metric, ts - ts % 86400 AS b,
         |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
         |                      ELSE value END), 4) AS s
         |FROM v_live_ladder WHERE ts >= $t0 AND ts < ${t0 + 2 * day}
         |GROUP BY 1, 2""".stripMargin)
    // round-15 rung choice: the fully-flushed 1h rung outranks the
    // lagging 1d rung, so the straddling daily SQL serves entirely from
    // the 1h store — no hybrid split, no raw scan
    assert(scans(sqlStraddle, cfg) === Set(rung1h),
      "straddling daily SQL must serve whole from the fresher 1h rung")
    assert(sqlStraddle.collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap ===
      Map(t0 -> 3.0, (t0 + day) -> 12.0))
  }

  test("a routed raw side reads only the segments it spans: hybrid tail and refused query") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_raw_side").toString
    val day = 86400L
    val t0 = 100 * day
    // the clock 6h into day 1: the 1h rung is flushed up to t0 + day + 6h
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), nowSec = Some(() => t0 + day + 6 * 3600 + 100))
    // a point every 30 min over two days: 24 segments
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (0 until 96).map(i => (i.toLong + 1, t0 + i * 1800L, "cpu", i.toDouble)): _*)), cfg)
    assert(IngestJob.rollupFrontier(spark, cfg) === t0 + day + 6 * 3600)
    val points = IngestJob.pointsPath(cfg)
    def pointFiles(df: org.apache.spark.sql.DataFrame): Long = {
      val read = graft.ScanStats(df).filter(_.under(points))
      assert(read.nonEmpty, "no raw scan")
      read.map(_.numFiles).sum
    }
    graft.Graft.registerRouted(spark, cfg, "v_raw_side")
    def daily(view: String) = spark.sql(
      s"""SELECT metric, ts - ts % 86400 AS b,
         |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
         |                      ELSE value END), 4) AS s
         |FROM $view WHERE ts >= $t0 AND ts < ${t0 + 2 * day}
         |GROUP BY 1, 2""".stripMargin)
    // hybrid: day 0 from the store, the open day 1 raw — its tail scan
    // opens day 1's 12 segments, not all 24
    val hybrid = daily("v_raw_side")
    assert(scans(hybrid, cfg) === Set(IngestJob.rollupPath(cfg), points))
    assert(pointFiles(hybrid) === graft.ScanStats.segmentFiles(points, t0 + day, t0 + 2 * day))
    graft.query.QueryEngine.dedupeConfigured(IngestJob.points(spark, cfg))
      .createOrReplaceTempView("v_raw_side_plain")
    assert(hybrid.collect().map(_.toString).sorted.toSeq ===
      daily("v_raw_side_plain").collect().map(_.toString).sorted.toSeq)
    // a refused 90m bucket runs raw over the three segments it spans
    val (lo, hi) = (t0 + 6 * 3600, t0 + 12 * 3600)
    val refused = spark.sql(
      s"""SELECT metric, ts - ts % 5400 AS b, count(*) AS n FROM v_raw_side
         |WHERE ts >= $lo AND ts < $hi GROUP BY 1, 2""".stripMargin)
    assert(scans(refused, cfg) === Set(points))
    assert(pointFiles(refused) === graft.ScanStats.segmentFiles(points, lo, hi))
    assert(refused.collect().map(_.getLong(2)).sum === 12)
    // the engine path's refused shape (a rate over the marked points)
    // reads the same three segments
    val rate = graft.Graft.queryRouted(spark, cfg, graft.query.TsdbQuery(
      graft.filters.MatchAll, lo, hi, rate = Some(graft.query.RateSpec())))
    assert(pointFiles(rate) === graft.ScanStats.segmentFiles(points, lo, hi))
  }

  test("queryRouted serves the JSON ladder reads from a rung") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_json_routed").toString
    val day = 86400L
    val t0 = 200 * day
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => t0 + 3 * day + 100))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (0 until 144).map(i => (i.toLong + 1, t0 + i * 1800L,
        if (i % 3 == 0) "click" else "view", (i % 7).toDouble)): _*)), cfg)
    def check(json: String, expect: Set[String]): Unit = {
      val q = graft.query.TsdbJson.parseQuery(json)
      val df = graft.Graft.queryRouted(spark, cfg, q)
      assert(scans(df, cfg) === expect, json)
      def sorted(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("value", round(col("value"), 4)).collect().map(_.toString).sorted.toSeq
      assert(sorted(df) === sorted(graft.query.QueryEngine.run(IngestJob.points(spark, cfg), q)))
    }
    // the q_json_rollup_ladder shape: a metric filter and a daily sum
    check(s"""{"start": $t0, "end": ${t0 + 3 * day},
      "filter": {"type": "MetricLiteral", "metric": "click"},
      "downsample": {"interval": "1d", "aggregator": "sum"}}""",
      Set(IngestJob.rungPath(cfg, "1d")))
    // the ingest_routed group-by: a daily sum from a segment boundary 2h
    // past midnight — the 1d rung cannot clip there, the 1h rung can
    val groupBy = s""""downsample": {"interval": "1d", "aggregator": "sum"},
      "groupBy": {"tagKeys": ["user"], "aggregator": "sum"}}"""
    check(s"""{"start": ${t0 + 7200}, "end": ${t0 + 3 * day}, $groupBy""",
      Set(IngestJob.rungPath(cfg, "1h")))
    // ...and with the end off the grid (a wall-clock `now`), the 1h rung
    // serves up to the last midnight and the rest reads raw
    check(s"""{"start": ${t0 + 7200}, "end": ${t0 + 3 * day - 600}, $groupBy""",
      Set(IngestJob.rungPath(cfg, "1h"), IngestJob.pointsPath(cfg)))
  }

  test("finalize and purge cover every ladder rung") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_ladder_maint").toString
    val day = 86400L
    val t0 = 20 * day
    val now = t0 + day + 3600 // inside day 1: day 1 open on the 1d rung
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => now))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0), (300L, t0 + day + 10, "cpu", 2.0))), cfg)
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === t0 + day)
    // shutdown finalize flushes the open day on EVERY rung
    IngestJob.finalizeRollup(spark, cfg)
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === Long.MaxValue)
    assert(IngestJob.rungFrontier(spark, cfg, "1h") === Long.MaxValue)
    // retention purge drops expired windows from the lake AND both rungs
    IngestJob.purge(cfg, t0 + day)
    def parts(iv: String): Set[String] = {
      val dir = new java.io.File(IngestJob.rungPath(cfg, iv))
      Option(dir.listFiles()).map(_.map(_.getName)
        .filter(_.startsWith("segment_start=")).toSet).getOrElse(Set.empty)
    }
    assert(parts("1d") === Set(s"segment_start=${t0 + day}"))
    assert(!parts("1h").contains(s"segment_start=$t0"))
    assert(IngestJob.points(spark, cfg).select("ts").collect()
      .map(_.getLong(0)).toSet === Set(t0 + day + 10))
    // the surviving rung still serves the surviving day exactly
    val served = graft.Graft.queryRouted(spark, cfg, ds("1d", t0 + day, t0 + 2 * day))
    assert(scans(served, cfg) === Set(IngestJob.rungPath(cfg, "1d")))
    assert(served.collect().map(r =>
      r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value")).toMap ===
      Map((t0 + day) -> 2.0))
  }

  test("rollupFrontier degrades to the coarsest rung on a ladder-only config (round 15)") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_ladderonly").toString
    val day = 86400L
    val t0 = 50 * day
    val now = t0 + day + 3600 // day 1 open on the 1d rung
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = None, rollupLadder = Seq("1h", "1d"),
      nowSec = Some(() => now))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0), (300L, t0 + day + 10, "cpu", 2.0))), cfg)
    // the primary frontier is the MINIMUM over all rungs' — under one
    // close-gated ingest that is the coarsest rung's (widest windows
    // close last), and min stays conservative even if a crash skewed
    // one rung behind — previously an IllegalArgumentException
    assert(IngestJob.rollupFrontier(spark, cfg) ===
      IngestJob.rungFrontier(spark, cfg, "1d"))
    assert(IngestJob.rollupFrontier(spark, cfg) === t0 + day)
    // a config with no maintained rung at all still refuses: there is no
    // store for a frontier to describe
    val bare = IngestJob.Config(s"$base/lake2", s"$base/ckpt2")
    intercept[IllegalArgumentException](IngestJob.rollupFrontier(spark, bare))
  }

  test("rollupFrontier is the minimum of the rung frontiers when one rung lags") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_frontier_min").toString
    val day = 86400L
    val t0 = 50 * day
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = None, rollupLadder = Seq("1h", "1d"),
      nowSec = Some(() => t0 + day + 3600))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0), (300L, t0 + day + 10, "cpu", 2.0))), cfg)
    def perRungMin = cfg.rollupRungs.map(IngestJob.rungFrontier(spark, cfg, _)).min
    assert(IngestJob.rollupFrontier(spark, cfg) === perRungMin)
    // a crash lost the fine rung's first window: it now lags the 1d rung
    val lost = new java.io.File(IngestJob.rungPath(cfg, "1h"), s"segment_start=$t0")
    assert(lost.isDirectory)
    org.apache.commons.io.FileUtils.deleteDirectory(lost)
    assert(IngestJob.rungFrontier(spark, cfg, "1h") === t0)
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === t0 + day)
    assert(IngestJob.rollupFrontier(spark, cfg) === perRungMin)
    assert(IngestJob.rollupFrontier(spark, cfg) === t0)
  }

  test("mid-window purge re-flushes the straddling rung window from survivors (round 15)") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_purge_repair").toString
    val day = 86400L
    val t0 = 60 * day
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => t0 + 2 * day))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0),          // expires under the cutoff
      (300L, t0 + 5 * 3600, "cpu", 2.0),    // survives
      (450L, t0 + 7 * 3600, "cpu", 4.0))), cfg)
    IngestJob.finalizeRollup(spark, cfg)
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === Long.MaxValue)
    // retention cutoff 4 h into the day: the 1d window straddles it, so a
    // bare purge would drop it whole and this quiesced lake would serve
    // the surviving 20 h raw forever — purgeAndRepair re-flushes it from
    // the surviving segments and the frontier never retreats
    IngestJob.purgeAndRepair(spark, cfg, t0 + 4 * 3600)
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === Long.MaxValue)
    assert(IngestJob.rungFrontier(spark, cfg, "1h") === Long.MaxValue)
    val served = graft.Graft.queryRouted(spark, cfg, ds("1d", t0, t0 + day))
    assert(scans(served, cfg) === Set(IngestJob.rungPath(cfg, "1d")),
      "the repaired window must serve from the store, not raw")
    // the rebuilt composite agrees with the post-purge lake: survivors only
    assert(served.collect().map(r =>
      r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value")).toMap ===
      Map(t0 -> 6.0))
  }

  test("purge repair refuses a still-OPEN window; the close gate self-heals it (round 15)") {
    // repairing an open window would hand it a partition the ingest's
    // close gate never refreshes (the missing-partition trigger sees
    // one; the touched trigger fires on closed windows only) — points
    // ingested after the repair would silently never reach the store
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_purge_open").toString
    val day = 86400L
    val t0 = 80 * day
    var now = t0 + 20 * 3600 // INSIDE day 0: its 1d window is open
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      nowSec = Some(() => now))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 + 10, "cpu", 1.0), (300L, t0 + 5 * 3600, "cpu", 2.0))), cfg)
    // a quiesce-style finalize wrote the open day's partition; the purge
    // drops it (start < cutoff) and must NOT rewrite it while open
    IngestJob.finalizeRollup(spark, cfg)
    IngestJob.purgeAndRepair(spark, cfg, t0 + 4 * 3600)
    val rungDir = new java.io.File(IngestJob.rungPath(cfg, "1d"))
    assert(!Option(rungDir.listFiles()).exists(
      _.exists(_.getName == s"segment_start=$t0")),
      "an open window must stay dropped, not repaired")
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === t0,
      "the frontier must retreat so the surviving range serves raw")
    // ingest resumes; the day eventually closes → the missing-partition
    // trigger re-flushes it from everything that survived or arrived
    now = t0 + 2 * day
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (450L, t0 + 23 * 3600, "cpu", 4.0))), cfg)
    assert(IngestJob.rungFrontier(spark, cfg, "1d") === Long.MaxValue)
    val rung = spark.read.parquet(IngestJob.rungPath(cfg, "1d"))
      .filter(col("segment_start") === t0)
    assert(rung.agg(sum(col("sum"))).head.getDouble(0) === 6.0) // 2.0 + 4.0
  }

  test("replaying a micro-batch is harmless: dedupe, latest, dims, rollup all unchanged") {
    // foreachBatch is at-least-once on failure/restart; the lake absorbs a
    // replay because every reader resolves duplicates by (ts, seq) LWW and
    // the rollup flush recomputes its segments from the deduped lake.
    // The batch spans two segments so the earlier one closes and flushes —
    // the replay must re-run that flush idempotently.
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some("1h"))
    val t0 = 60 * seg
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0 - seg, "cpu", 1.0), (300L, t0 + 60, "cpu", 5.0)))
    IngestJob.processBatch(batch, cfg)
    def snapshot() = (
      graft.query.QueryEngine.dedupe(IngestJob.points(spark, cfg))
        .select("ts", "value").collect().toSet,
      IngestJob.latest(spark, cfg).select("last_ts", "last_value").collect().toSet,
      IngestJob.seriesDim(spark, cfg).select("series_id", "first_seen", "last_seen").collect().toSet,
      IngestJob.rollup(spark, cfg).select("bucket_ts", "sum", "cnt").collect().toSet)
    val before = snapshot()
    IngestJob.processBatch(batch, cfg) // the replay
    assert(snapshot() === before)
  }

  test("purge drops expired segment partitions (R5)") {
    val t0 = 30 * seg
    // wall-clock admission mode: this batch legitimately spans 4h
    val cfg = freshCfg(retention = Long.MaxValue / 4)
      .copy(nowSec = Some(() => t0 + 2 * seg))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, t0, "cpu", 1.0), (2L, t0 + seg, "cpu", 2.0), (3L, t0 + 2 * seg, "cpu", 3.0))), cfg)
    val dropped = IngestJob.purge(cfg, cutoffSec = t0 + seg)
    assert(dropped === Seq(t0))
    val remaining = IngestJob.points(TestSpark.spark, cfg)
      .select(col("segment_start").cast("long")).distinct.collect().map(_.getLong(0)).toSet
    assert(remaining === Set(t0 + seg, t0 + 2 * seg))
  }

  test("a lake whose segments were all purged reads as 0 rows; a missing lake still fails") {
    val spark = TestSpark.spark
    val t0 = 35 * seg
    val cfg = freshCfg(retention = Long.MaxValue / 4)
      .copy(nowSec = Some(() => t0 + seg))
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, t0, "cpu", 1.0), (2L, t0 + seg, "cpu", 2.0))), cfg)
    // retention deletes segment dirs outside a Spark commit, so no
    // parquet footer is left to infer a schema from
    assert(IngestJob.purge(cfg, cutoffSec = t0 + 2 * seg) === Seq(t0, t0 + seg))
    val pts = IngestJob.points(spark, cfg)
    assert(pts.schema.fieldNames.toSeq === TsdbSchema.points.fieldNames.toSeq)
    assert(pts.count() === 0)
    val q = graft.query.TsdbQuery(graft.filters.MetricLiteral(Seq("cpu")), t0, t0 + 2 * seg,
      downsample = Some(graft.query.DownsampleSpec("1h", "sum")))
    assert(graft.Graft.queryRouted(spark, cfg, q).count() === 0)
    val missing = cfg.copy(lakeDir = s"${cfg.lakeDir}_missing")
    val e = intercept[org.apache.spark.sql.AnalysisException](IngestJob.points(spark, missing))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
  }

  test("idle-series purge removes silent series from dim + latest; rewrite resurrects (R5)") {
    val spark = TestSpark.spark
    val t0 = 40 * seg
    val cfg = freshCfg(retention = Long.MaxValue / 4)
      .copy(nowSec = Some(() => t0 + seg))
    // user 0 (event_id 150) goes idle at t0; user 1 (event_id 151) stays active
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (150L, t0, "cpu", 1.0), (151L, t0 + seg, "cpu", 2.0))), cfg)
    IngestJob.compact(spark, cfg, idleCutoffSec = Some(t0 + 1))
    def users() = IngestJob.seriesDim(spark, cfg)
      .select(col("tags")("user")).collect().map(_.getString(0)).toSet
    assert(users() === Set("1"))
    assert(IngestJob.latest(spark, cfg).count() === 1)
    // the purged series writes again → re-created, first_seen restarts
    IngestJob.processBatch(graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (300L, t0 + seg + 10, "cpu", 9.0))), cfg) // event 300 % 150 == user 0
    assert(users() === Set("0", "1"))
    val reborn = IngestJob.seriesDim(spark, cfg)
      .filter(col("tags")("user") === "0").select("first_seen").head.getLong(0)
    assert(reborn === t0 + seg + 10)
  }

  test("end-to-end stream: file source → lake equals batch mapping (S1)") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_e2e")
    val srcDir = s"$base/src"
    eventsDf((1L, 1000L, "cpu", 1.0), (2L, 2000L, "mem", 2.0), (3L, 3000L, "cpu", 3.0))
      .write.parquet(srcDir)
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt", retentionSec = Long.MaxValue / 4)
    IngestJob.run(spark, srcDir, cfg).awaitTermination()
    val streamed = IngestJob.points(spark, cfg)
    assert(streamed.count() === 3)
    val expect = graft.sources.TsdbViews.pointsFromEvents(spark.read.parquet(srcDir))
    assert(streamed.select("series_id", "ts", "value").collect().toSet ===
      expect.select("series_id", "ts", "value").collect().toSet)
  }

  test("maintained count-min cells across micro-batches equal the one-shot sketch") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_cms").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 32)))
    val now = 100000L
    // two genuinely different batches with overlapping users
    val b1 = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1 to 40).map(i => (i.toLong, now + i, "m", i.toDouble)): _*))
    val b2 = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (41 to 90).map(i => (i.toLong, now + i, "m", i.toDouble)): _*))
    IngestJob.processBatch(b1, cfg, batchId = 0L)
    IngestJob.processBatch(b2, cfg, batchId = 1L)
    def cellMap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("i").cast("long"), col("j").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val maintained = cellMap(IngestJob.cmsCells(spark, cfg))
    val oneShot = cellMap(graft.operators.CountMin.sketch(
      b1.unionByName(b2), expr("tags['user']"), 4, 32))
    assert(maintained === oneShot)
    // foreachBatch is at-least-once: REPLAYING a batch must rewrite its
    // own cms partition, not double-count its cells (the points side is
    // covered by the LWW fold; sums need the dynamic-overwrite path)
    IngestJob.processBatch(b2, cfg, batchId = 1L)
    assert(cellMap(IngestJob.cmsCells(spark, cfg)) === oneShot,
      "replayed batch must not change the merged sketch")
    // and the estimate over the maintained cells never undercounts.
    // Exact side from the LOGICAL batches: the replayed append below
    // leaves duplicate rows in the points lake that only the readers'
    // LWW fold collapses — a raw lake count would double-count b2.
    val exact = b1.unionByName(b2)
      .groupBy(expr("tags['user']").as("key")).agg(count(lit(1)).as("exact_n"))
    val rep = graft.operators.CountMin
      .reportAgainst(IngestJob.cmsCells(spark, cfg), exact, 4, 32)
      .collect()
    assert(rep.nonEmpty)
    rep.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
  }

  test("maintained DDSketch buckets: two grains, replay-safe, merge equals one-shot") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_dds").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      dds = Seq(
        IngestJob.DdsConfig("metric", "value", 0.02),
        IngestJob.DdsConfig("concat_ws('#', metric, cast(ts - ts % 86400 as string))",
          "value", 0.02, name = "dds_daily")))
    val now = 100000L
    val b1 = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1 to 40).map(i => (i.toLong, now + i * 3000, "m", i * 1.5)): _*))
    val b2 = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (41 to 90).map(i => (i.toLong, now + i * 3000, "m", i * 1.5)): _*))
    IngestJob.processBatch(b1, cfg, batchId = 0L)
    IngestJob.processBatch(b2, cfg, batchId = 1L)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key"), col("sgn").cast("int"), col("idx").cast("long"),
        col("cnt").cast("long"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val all = b1.unionByName(b2)
    // per-metric grain
    assert(rows(IngestJob.ddsBuckets(spark, cfg)) ===
      rows(graft.operators.QuantileSketch.sketch(all, col("metric"), col("value"), 0.02)))
    // per metric×day grain — and the two stores are independent
    val daily = rows(IngestJob.ddsBuckets(spark, cfg, "dds_daily"))
    assert(daily === rows(graft.operators.QuantileSketch.sketch(all,
      expr("concat_ws('#', metric, cast(ts - ts % 86400 as string))"),
      col("value"), 0.02)))
    assert(daily.keys.map(_._1).toSet.size > 1, "multiple day keys expected")
    // replay safety: re-processing batch 1 rewrites its partition in BOTH stores
    IngestJob.processBatch(b2, cfg, batchId = 1L)
    assert(rows(IngestJob.ddsBuckets(spark, cfg, "dds_daily")) === daily,
      "replayed batch must not change the merged buckets")
    // name collisions are config errors: among sketches, and against
    // reserved lake stores
    assertThrows[IllegalArgumentException](IngestJob.processBatch(b1,
      cfg.copy(dds = Seq(IngestJob.DdsConfig("metric"), IngestJob.DdsConfig("metric")))))
    assertThrows[IllegalArgumentException](IngestJob.processBatch(b1,
      cfg.copy(dds = Seq(IngestJob.DdsConfig("metric", name = "cms")))))
  }

  test("building a Config refuses duplicate or reserved DdsConfig names") {
    val cfg = freshCfg()
    assertThrows[IllegalArgumentException](
      cfg.copy(dds = Seq(IngestJob.DdsConfig("metric"), IngestJob.DdsConfig("metric"))))
    assertThrows[IllegalArgumentException](
      cfg.copy(dds = Seq(IngestJob.DdsConfig("metric", name = "cms"))))
    // a ladder rung's store is reserved too: a 1d rung writes rollup_1d
    assertThrows[IllegalArgumentException](cfg.copy(rollupInterval = Some("1h"),
      rollupLadder = Seq("1d"), dds = Seq(IngestJob.DdsConfig("metric", name = "rollup_1d"))))
    // distinct, unreserved names still build
    val ok = cfg.copy(rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      dds = Seq(IngestJob.DdsConfig("metric"), IngestJob.DdsConfig("metric", name = "dds_daily")))
    assert(ok.dds.map(_.name) === Seq("dds", "dds_daily"))
  }

  test("data-gen source streams synthetic points through the same pipeline (S1 DATA_GEN)") {
    val spark = TestSpark.spark
    val base = java.nio.file.Files.createTempDirectory("graft_gen").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt", retentionSec = Long.MaxValue / 4)
    val q = IngestJob.runDataGen(spark, cfg, rowsPerSecond = 500, numSeries = 10)
    // wait until a whole batch (points + both logs) is committed: the
    // appends happen sequentially, so the latest log landing implies all
    def ready(): Boolean =
      try {
        IngestJob.points(spark, cfg).count() > 0 &&
        IngestJob.seriesDim(spark, cfg).count() > 0 &&
        IngestJob.latest(spark, cfg).count() > 0
      } catch { case _: Throwable => false }
    try {
      val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
      while (!ready() && System.nanoTime() < deadline) Thread.sleep(250)
    } finally { q.stop(); q.awaitTermination() }
    val pts = IngestJob.points(spark, cfg)
    assert(pts.count() > 0)
    assert(pts.columns.toSet ===
      Set("metric", "tags", "ts", "value", "seq", "series_id", "segment_start"))
    assert(IngestJob.seriesDim(spark, cfg).count() > 0)
  }
  test("a failing store flush settles its siblings, then rethrows with the store name (round 16)") {
    // direct pin of the shared-pool contract: every submitted flush runs
    // to completion before the first failure propagates (no orphaned jobs)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val boom = new IllegalStateException("disk full")
    val e = intercept[RuntimeException](IngestJob.runFlushes(Seq(
      "ok_a" -> (() => { Thread.sleep(25); ran.incrementAndGet(): Unit }),
      "bad" -> (() => throw boom),
      "ok_b" -> (() => { Thread.sleep(25); ran.incrementAndGet(): Unit }))))
    assert(e.getMessage.contains("bad"))
    assert(e.getCause eq boom)
    assert(ran.get() === 2, "sibling flushes must settle before the rethrow")

    // end-to-end: a cms store whose path is an unwritable regular file
    // fails ITS flush; processBatch surfaces it as that store's failure
    val spark = TestSpark.spark
    val cfg0 = freshCfg()
    val cfg = cfg0.copy(cms = Some(IngestJob.CmsConfig("tags['user']", depth = 2, width = 8)))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(cfg.lakeDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(IngestJob.cmsPath(cfg)),
      "not a directory".getBytes)
    val b = graft.sources.TsdbViews.pointsFromEvents(
      eventsDf((1L, 100000L, "m", 1.0), (2L, 100001L, "m", 2.0)))
    val e2 = intercept[RuntimeException](IngestJob.processBatch(b, cfg, batchId = 0L))
    assert(e2.getMessage.contains("store flush 'cms' failed"), e2.getMessage)
    // the independent sibling stores still flushed before the rethrow
    assert(spark.read.parquet(IngestJob.seriesLogPath(cfg)).count() > 0)
    assert(spark.read.parquet(IngestJob.latestLogPath(cfg)).count() > 0)
  }

  test("an interrupted batch thread still settles every store flush before rethrowing") {
    // StreamingQuery.stop() interrupts the batch thread inside runFlushes;
    // the batch is replayed later, so no flush of this attempt may still
    // be writing a store once runFlushes has returned
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    val gate = new CountDownLatch(1)
    val started = new CountDownLatch(2)
    val events = new ConcurrentLinkedQueue[String]()
    @volatile var thrown: Throwable = null
    @volatile var flagRestored = false
    val batch = new Thread(() => {
      try IngestJob.runFlushes(Seq(
        "blocked" -> (() => { started.countDown(); gate.await(); events.add("blocked"): Unit }),
        "sibling" -> (() => {
          started.countDown(); gate.await(); Thread.sleep(50); events.add("sibling"): Unit })))
      catch { case t: Throwable => thrown = t }
      flagRestored = Thread.currentThread().isInterrupted
      events.add("returned"): Unit
    })
    batch.start()
    try {
      assert(started.await(10, TimeUnit.SECONDS))
      batch.interrupt()
      Thread.sleep(100)
    } finally gate.countDown()
    batch.join(10000)
    assert(events.toArray.toSeq === Seq("blocked", "sibling", "returned"))
    assert(thrown.isInstanceOf[InterruptedException], thrown)
    assert(flagRestored, "the interrupt flag must be restored for the caller")
  }

  test("with a clock, admission reads the batch in one aggregate before the append") {
    val spark = TestSpark.spark
    val now = 500000L
    val cfg = freshCfg(retention = 3600).copy(nowSec = Some(() => now))
    val jobs = new graft.GroupJobs(spark.sparkContext)
    // counts the jobs started before the append, then appends as usual
    val sink = new graft.sinks.PointsSink {
      @volatile var jobsBefore = -1
      def name = "recording"
      def append(b: org.apache.spark.sql.DataFrame): Unit = {
        jobsBefore = jobs.started()
        new graft.sinks.PartitionedParquetSink(IngestJob.pointsPath(cfg)).append(b)
      }
    }
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (1L, now - 10, "m", 1.0), // fresh
      (2L, now - 3599, "m", 2.0), // inside retention of the clock
      (3L, now - 3601, "m", 3.0), // too late → dropped
      (4L, now + 3000, "m", 4.0), // tolerated future: the high-water mark
      (5L, now + 7200, "m", 5.0))) // far future → dropped, and NOT the mark
    val stats = jobs(IngestJob.processBatch(batch, cfg, sink = Some(sink)))
    assert(stats === IngestJob.BatchStats(5, 3, now + 3000))
    // no median pass and no second high-water-mark pass: one aggregate
    // (its shuffle-map job and its result job)
    assert(sink.jobsBefore >= 1 && sink.jobsBefore <= 2,
      s"${sink.jobsBefore} jobs before the append")
    assert(IngestJob.points(spark, cfg).select("seq").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 4L))
    // a batch of future garbage only: counted, nothing admitted, no mark
    val allFuture = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (6L, now + 7200, "m", 6.0), (7L, now + 9000, "m", 7.0)))
    assert(IngestJob.processBatch(allFuture, cfg) === IngestJob.BatchStats(2, 0, Long.MinValue))
    val empty = graft.sources.TsdbViews.pointsFromEvents(eventsDf())
    assert(IngestJob.processBatch(empty, cfg) === IngestJob.BatchStats(0, 0, Long.MinValue))
  }

  test("the flush pool runs at most FlushThreads flushes at once, across concurrent batches") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
    import java.util.concurrent.atomic.AtomicInteger
    val running, peak, done = new AtomicInteger
    val n = IngestJob.FlushThreads + 2
    def flush(): Unit = {
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(60)
      running.decrementAndGet()
      done.incrementAndGet(): Unit
    }
    val start = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val callers = (1 to 3).map { c =>
      new Thread(() =>
        try { start.await(); IngestJob.runFlushes((1 to n).map(i => s"f$c.$i" -> (() => flush()))) }
        catch { case t: Throwable => errors.add(t): Unit })
    }
    callers.foreach(_.start())
    start.countDown()
    callers.foreach(_.join(60000))
    assert(errors.isEmpty, errors)
    assert(done.get === 3 * n, "every flush completes")
    assert(peak.get <= IngestJob.FlushThreads, s"peak ${peak.get} running at once")
    assert(peak.get > 1, "flushes still overlap")
  }

  test("a crash at the 1d rung flush settles its siblings; replaying the batch equals a clean run") {
    val spark = TestSpark.spark
    val day = 86400L
    val t0 = 30 * day
    // day 0 closed on both rungs; day 1 open on the 1d rung, its first
    // segments closed on the 1h rung: both rungs have windows due
    val now = t0 + day + 10 * 3600
    def ladderCfg(prefix: String) = {
      val base = java.nio.file.Files.createTempDirectory(prefix).toString
      IngestJob.Config(s"$base/lake", s"$base/ckpt",
        retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
        rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
        nowSec = Some(() => now),
        cms = Some(IngestJob.CmsConfig("tags['user']", depth = 2, width = 16)),
        dds = Seq(IngestJob.DdsConfig("metric"),
          IngestJob.DdsConfig("concat_ws('#', metric, cast(ts - ts % 86400 as string))",
            name = "dds_daily")))
    }
    val batch = graft.sources.TsdbViews.pointsFromEvents(eventsDf(
      (151L, t0 + 10, "cpu", 1.0), (302L, t0 + 3600, "cpu", 2.0),
      (453L, t0 + 3600, "mem", 3.0), (604L, t0 + day + 10, "cpu", 4.0),
      (755L, t0 + day + 21600, "mem", 8.0), (906L, t0 + day + 36000, "cpu", 16.0)))
    val cfg = ladderCfg("graft_crash")
    // a regular file where the 1d rung's directory belongs: its write fails
    val planted = java.nio.file.Paths.get(IngestJob.rungPath(cfg, "1d"))
    java.nio.file.Files.createDirectories(planted.getParent)
    java.nio.file.Files.write(planted, "not a directory".getBytes)
    val e = intercept[RuntimeException](IngestJob.processBatch(batch, cfg, batchId = 1L))
    assert(e.getMessage.contains("rung_1d"), e.getMessage)
    // the six sibling flushes settled before the rethrow
    Seq(IngestJob.seriesLogPath(cfg), IngestJob.latestLogPath(cfg), IngestJob.cmsPath(cfg),
      IngestJob.ddsPath(cfg), IngestJob.ddsPath(cfg, "dds_daily"), IngestJob.rungPath(cfg, "1h"))
      .foreach(p => assert(spark.read.parquet(p).count() > 0, s"$p did not settle"))
    // replay the same batch and batchId once the fault is gone
    java.nio.file.Files.delete(planted)
    IngestJob.processBatch(batch, cfg, batchId = 1L)
    val clean = ladderCfg("graft_clean")
    IngestJob.processBatch(batch, clean, batchId = 1L)
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().toSet
    def stores(c: IngestJob.Config) = Seq(
      rows(graft.query.QueryEngine.dedupe(IngestJob.points(spark, c)),
        "series_id", "ts", "value", "seq"),
      rows(IngestJob.seriesDim(spark, c), "series_id", "metric", "first_seen", "last_seen"),
      rows(IngestJob.latest(spark, c), "series_id", "last_ts", "last_value"),
      rows(IngestJob.cmsCells(spark, c), "i", "j", "cnt"),
      rows(IngestJob.ddsBuckets(spark, c), "key", "sgn", "idx", "cnt"),
      rows(IngestJob.ddsBuckets(spark, c, "dds_daily"), "key", "sgn", "idx", "cnt")) ++
      c.rollupRungs.map(iv => rows(IngestJob.rollupRung(spark, c, iv),
        "series_id", "bucket_ts", "sum", "cnt", "min", "max", "last", "sumsq", "segment_start"))
    val want = stores(clean)
    assert(want.forall(_.nonEmpty), "every store of the clean run holds rows")
    stores(cfg).zip(want).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got === exp, s"store #$i differs after the replay")
    }
  }

  test("a flush body that calls runFlushes runs it inline: 8 + 1 concurrent callers all complete") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val callers = IngestJob.FlushThreads + 1
    val innerDone = new AtomicInteger
    // every pool thread holds an outer body before any body nests a
    // barrier: queued nested flushes would wait behind outer bodies that
    // wait on them
    val poolFull = new CountDownLatch(IngestJob.FlushThreads)
    def inner(): Unit = { Thread.sleep(10); innerDone.incrementAndGet(): Unit }
    def outer(): Unit = {
      poolFull.countDown()
      poolFull.await(10, TimeUnit.SECONDS)
      IngestJob.runFlushes(Seq("inner_a" -> (() => inner()), "inner_b" -> (() => inner())))
    }
    val start = new CountDownLatch(1)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to callers).map { c =>
      val t = new Thread(() =>
        try { start.await(); IngestJob.runFlushes(Seq(s"o$c.a" -> (() => outer()), s"o$c.b" -> (() => outer()))) }
        catch { case e: Throwable => errors.add(e): Unit })
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    start.countDown()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    threads.foreach(t => t.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
    assert(threads.forall(!_.isAlive), "a nested barrier deadlocked the flush pool")
    assert(errors.isEmpty, errors)
    assert(innerDone.get === callers * 2 * 2)

    // inline, a nested barrier keeps the settle-then-rethrow contract
    val ran = new AtomicInteger
    val boom = new IllegalStateException("nested failure")
    @volatile var nested: Throwable = null
    IngestJob.runFlushes(Seq(
      "outer" -> (() =>
        try IngestJob.runFlushes(Seq(
          "bad" -> (() => throw boom),
          "ok" -> (() => ran.incrementAndGet(): Unit)))
        catch { case e: Throwable => nested = e }),
      "sibling" -> (() => ())))
    assert(nested.getMessage.contains("store flush 'bad' failed"), nested)
    assert(nested.getCause eq boom)
    assert(ran.get === 1, "the nested sibling settles before the rethrow")
  }
}
