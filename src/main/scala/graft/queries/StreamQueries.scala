package graft.queries

import graft.query.{DownsampleSpec, QueryEngine, TsdbQuery}
import graft.streaming.IngestJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Streaming-ingest correctness queries: the driver's events table is
 * streamed through [[IngestJob]] (file source → foreachBatch appends into
 * a partitionBy(segment_start) lake + series/latest logs), then queried
 * from the streamed lake and checked against the same DuckDB oracles as
 * the batch path — proving ingest loses/duplicates nothing.
 */
object StreamQueries {
  import OracleCommon._

  type Q = (SparkSession, String) => DataFrame

  /** The main streamed lake: ingest runs once per source dir per JVM and
   *  every q_stream_* read below shares it. */
  private val lakeFor = Build("stream_lake") { (s, d) =>
    // retention + future tolerance wide open here: the synthetic table
    // spans 30 days in one batch; admission-drop behavior is
    // unit-tested and oracle-checked (q_stream_admission) separately
    val cfg = ingested(s, d, "graft_stream")(base => IngestJob.Config(s"$base/lake",
      s"$base/ckpt", retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      rollupInterval = Some(RollupInterval),
      // the maintained LADDER (round 14): a 1d rung beside the 1h
      // primary, each close-gated on its own window — daily dashboards
      // read 24× fewer rows (q_stream_rollup_ladder,
      // q_sql_rollup_ladder_streamed)
      rollupLadder = Seq("1d"),
      // maintained count-min cells over the user tag (A15 sketch
      // family): per-batch partials, merged at read
      cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 512)),
      // maintained DDSketch quantile buckets at TWO grains (A15
      // sketch family): per metric, and per metric×day — the
      // p99-dashboard serving grain. Same α as the batch queries so
      // both streamed reads share their batch oracles verbatim.
      dds = Seq(
        IngestJob.DdsConfig("metric", "value", TsdbQueries.DdsAlpha),
        IngestJob.DdsConfig(TsdbQueries.DdsDailyKeyExpr,
          "value", TsdbQueries.DdsAlpha, name = "dds_daily"))))
    // post-ingest maintenance, as a production shutdown would: complete
    // the close-gated rollup over the final open tail, then consolidate
    // files — every q_stream_* read below exercises that layout
    IngestJob.finalizeRollup(s, cfg)
    IngestJob.compactPoints(s, cfg)
    cfg
  }

  /** The hybrid lake's frozen ingest clock: mid-query-range, so the lake
   *  is a genuine live-deployment snapshot — segments before the clock
   *  are closed (rolled up), the clock's own segment is open, and the
   *  reference's isEarly check drops everything past clock+tolerance. */
  private val HybridNowSec = OracleCommon.Start + 15 * 86400 // 2024-01-20 00:00
  private val HybridFutureSec = 3600L

  private val RollupInterval = "1h"

  /** A plain downsample over [from, to), as the routed front ends get it. */
  private def dsQuery(spec: DownsampleSpec, from: Long = Start,
      to: Long = End): TsdbQuery =
    TsdbQuery(graft.filters.MatchAll, from, to, downsample = Some(spec))

  /** The routed rows' output: one (metric, user, bucket) sum per row. */
  private def sums(df: DataFrame): DataFrame =
    df.select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
      round(col("value"), 4).as("sum_value"))

  /** Stream `events` through [[IngestJob]] into a fresh temp lake whose
   *  config `cfg` derives from the temp base dir; returns that config. */
  private def ingested(s: SparkSession, d: String, prefix: String)(
      cfg: String => IngestJob.Config): IngestJob.Config = {
    val base = java.nio.file.Files.createTempDirectory(prefix)
    val c = cfg(base.toString)
    IngestJob.run(s, streamSource(base, d, "events.parquet"), c).awaitTermination()
    c
  }

  /** Ingest WITHOUT the shutdown flush, under the frozen wall clock: the
   *  close gate leaves the clock's segment un-rolled, so this lake has a
   *  genuine open tail inside [Start, End) — q_rollup_hybrid must route
   *  closed segments to the rollup and the tail to raw points. */
  private val hybridLakeFor = Build("stream_hybrid") { (s, d) =>
    ingested(s, d, "graft_hybrid")(base => IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = HybridFutureSec,
      rollupInterval = Some(RollupInterval),
      // the live ladder: the 1d rung close-gates on whole DAYS, so its
      // frontier lags the 1h rung's under the frozen mid-range clock —
      // registerRouted attaches both and the daily SQL serves from the
      // coarsest rung whose frontier covers each query
      rollupLadder = Seq("1d"),
      nowSec = Some(() => HybridNowSec)))
  }

  /** Finite-retention lake for the admission oracle (S2/R2): the whole
   *  events table arrives as one batch with no wall clock, so the
   *  event-time admission heuristic decides — and DuckDB replays the
   *  identical median/high-water-mark arithmetic. */
  private val AdmissionRetention = 10L * 86400
  private val AdmissionFuture = 86400L

  private val admissionLakeFor = Build("stream_admission") { (s, d) =>
    ingested(s, d, "graft_adm")(base => IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = AdmissionRetention, maxFutureSec = AdmissionFuture))
  }

  /** Lake with idle-series purge applied after ingest (R5 second half):
   *  series silent since [[OracleCommon.End]] leave the dim/latest logs. */
  private val idleLakeFor = Build("stream_idle") { (s, d) =>
    val cfg = ingested(s, d, "graft_idle")(base => IngestJob.Config(s"$base/lake",
      s"$base/ckpt", retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4))
    IngestJob.compact(s, cfg, idleCutoffSec = Some(OracleCommon.End))
    cfg
  }

  /** Sampling modulus for the seeded-approx admission variant (~6% of the
   *  batch feeds the median sort). */
  private val AdmissionSampleMod = 16

  /** Same admission lake, but the median is the md5-seeded sampled one
   *  (Config.admissionSampleMod) — the large-batch configuration. The
   *  oracle replays the identical sample + median arithmetic. */
  private val admissionApproxLakeFor = Build("stream_admission_approx") { (s, d) =>
    ingested(s, d, "graft_adm_approx")(base => IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = AdmissionRetention, maxFutureSec = AdmissionFuture,
      admissionSampleMod = Some(AdmissionSampleMod)))
  }

  /** Segments strictly before this are purged in the maintenance lake —
   *  inside the admitted window, so the purge visibly removes rows. */
  private val PurgeCutoff = OracleCommon.Start + 5 * 86400

  /** MULTI-BATCH sketch lake, then COMPACTED (round 12): the source is
   *  split into four micro-batches (maxFilesPerTrigger = 1) so the
   *  maintained cms/dds stores accumulate several closed batch_id
   *  partitions — the 1-min-cadence production shape in miniature —
   *  and [[graft.streaming.StoreCompaction.foldSketches]] folds the
   *  closed ones into a snapshot partition. The queries below read the
   *  compacted stores against the SAME one-shot batch oracles: a
   *  compaction that loses, duplicates, or mis-sums one cell fails the
   *  hash. */
  private val sketchCompactedLakeFor = Build("stream_sketch") { (s, d) =>
    val base = java.nio.file.Files.createTempDirectory("graft_sketchcomp")
    s.read.parquet(s"$d/events.parquet").repartition(4)
      .write.parquet(s"$base/src")
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 512)),
      dds = Seq(IngestJob.DdsConfig("metric", "value", TsdbQueries.DdsAlpha),
        IngestJob.DdsConfig(TsdbQueries.DdsDailyKeyExpr, "value",
          TsdbQueries.DdsAlpha, name = "dds_daily")),
      compactEvery = Some(2)) // the IN-BAND fold runs at batch 2 (folds 0,1)
    IngestJob.run(s, s"$base/src", cfg, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    // the OFFLINE maintenance pass folds the rest (snapshot + 2 →
    // snapshot, batch 3 stays open) — both compaction paths feed the
    // same oracle-gated reads
    graft.streaming.StoreCompaction.foldSketches(s, cfg): Unit
    cfg
  }

  /** The daily-grain DDS store RETENTION-purged (round 12): a copy of
   *  the 4-batch compacted lake's dds_daily store with days before the
   *  query window dropped during the fold
   *  ([[graft.streaming.StoreCompaction.compactRetained]] — the R5
   *  retention posture on the summary store's TIME axis).
   *  q_stream_dds_range_purged serves the SAME day range against
   *  q_stream_dds_range's raw-scan oracle verbatim: a purge predicate
   *  that clips one in-range day fails the hash; the spec pins that
   *  expired days actually left the snapshot. */
  private val ddsDailyPurgedDir = Build("stream_dds_purged") { (s, d) =>
    val src = IngestJob.ddsPath(sketchCompactedLakeFor(s, d), "dds_daily")
    val dst = java.nio.file.Files.createTempDirectory("graft_ddspurge").toString + "/dds_daily"
    graft.core.Fs.copyDir(s.sessionState.newHadoopConf(), src, dst)
    graft.streaming.StoreCompaction.compactRetained(s, dst,
      TsdbQueries.ddsKeyPart(1).cast("long") >= lit(OracleCommon.Start),
      graft.operators.QuantileSketch.merge)
    dst
  }

  /** The mapGroupsWithState latest path (A18, third engine for the same
   *  semantics): stream → stateful latest → update-mode memory sink,
   *  snapshotted to parquet once per source dir. One file ⇒ one batch ⇒
   *  exactly one update row per series. */
  private val latestStateLakeFor = Build("stream_latest_state") { (s, d) =>
    val base = java.nio.file.Files.createTempDirectory("graft_lstate")
    val srcDir = streamSource(base, d, "events.parquet")
    val schema = s.read.parquet(srcDir).schema
    val stream = s.readStream.schema(schema).parquet(srcDir)
    val tableName = s"graft_latest_state_${Integer.toHexString(d.hashCode)}"
    val q = graft.streaming.StreamOps
      .latestByState(graft.sources.TsdbViews.pointsFromEvents(stream))
      .writeStream.format("memory").queryName(tableName)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(tableName).write.parquet(s"$base/latest_state")
    IngestJob.Config(s"$base", s"$base/ckpt") // lakeDir doubles as the snapshot root
  }

  /** The ops-cycle lake (S7/R5/R6): same admission as above, then the
   *  full maintenance pass — log compaction, points-file compaction,
   *  retention purge — BEFORE any query reads it. Compaction must
   *  preserve every row hash; purge must remove exactly the segments the
   *  oracle's cutoff clause removes. */
  private val maintenanceLakeFor = Build("stream_maintenance") { (s, d) =>
    val cfg = ingested(s, d, "graft_mnt")(base => IngestJob.Config(s"$base/lake",
      s"$base/ckpt", retentionSec = AdmissionRetention, maxFutureSec = AdmissionFuture))
    // the ONE-CALL composed pass (round 12): purge → log compaction →
    // points consolidation, same primitives as before behind
    // Maintenance.run — the reads below still owe the oracles the
    // exact same rows
    graft.streaming.Maintenance.run(s, cfg,
      retentionCutoffSec = Some(PurgeCutoff)): Unit
    cfg
  }

  /** A point-keyed streamed twin: the (optionally range-filtered) point
   *  rows go through [[OracleCommon.replay]] into `node`, sentinels keyed
   *  on series_id Long.MinValue + a reserved metric name; `post` shapes
   *  the frame that is kept (e.g. lwwWindows' projection+persist).
   *  Daily-bucket nodes pass a 2-day gap, point nodes 2 h. */
  private def pointReplay(name: String, gapSec: Long, rangeFilter: Boolean = true,
      post: DataFrame => DataFrame = identity)(
      node: DataFrame => org.apache.spark.sql.Dataset[_]): Build[DataFrame] =
    Build(name, driverHeavy = true) { (s, d) =>
      import s.implicits._
      val src0 = graft.sources.TsdbViews.points(s, d)
      val src = if (rangeFilter)
        src0.filter(col("ts") >= lit(OracleCommon.Start) && col("ts") < lit(OracleCommon.End))
      else src0
      val pts = src.select(col("series_id"), col("metric"), col("tags"),
        col("ts"), col("value"), col("seq")).as[graft.streaming.PointRow]
      post(replay(name, s, d, pts, (_: graft.streaming.PointRow).ts,
        graft.streaming.PointRow(Long.MinValue, "__sentinel", Map("user" -> "-1"), _, 0.0, 0L),
        gapSec, keyCol = "series_id")(node))
    }

  /** True streamed EWMA: [[graft.streaming.StreamOps.ewmaStream]]
   *  (stateful per-series daily-bucket finalization + trailing weighted
   *  mean); 2-day sentinel gaps close every daily bucket. Shares
   *  q_ds_ewma's batch oracle verbatim. */
  private val streamedEwma = pointReplay("replay_ewma", gapSec = 2 * 86400)(
    graft.streaming.StreamOps.ewmaStream(_, samples = 4, alpha = 0.5))

  /** The equal-weight (simple) MA mode as the same stream — shares
   *  q_ds_movavg_simple's batch oracle verbatim. */
  private val streamedMovavgSimple = pointReplay("replay_movavg", gapSec = 2 * 86400)(
    graft.streaming.StreamOps.ewmaStream(_, samples = 4, exponential = false))

  /** True streamed rate: [[graft.streaming.StreamOps.rateStream]]
   *  (stateful per-series delta chains, LWW on resends). The batch
   *  q_rate oracle is shared verbatim: the streamed derivative must
   *  replay the batch column math bit-for-bit. */
  private val streamedRate = pointReplay("replay_rate", gapSec = 7200)(
    graft.streaming.StreamOps.rateStream(_))

  /** Event-type transitions as a pure stream — the same replay over the
   *  per-entity (ts, seq)-ordered pair machine
   *  ([[graft.streaming.StreamOps.transitionsStream]]); finalized
   *  pairs aggregate through the SAME Transitions.fromPairs stage as
   *  the batch lag chain, so q_events_transitions' oracle is shared
   *  verbatim. */
  private val streamedTransitions = Build("replay_transitions", driverHeavy = true) { (s, d) =>
    import s.implicits._
    val evTab = graft.sources.TsdbViews.table(s, d, "events")
    val rows = evTab.select(
        col("user_id").as("k"), col("event_type").as("t"),
        graft.sources.TsdbViews.toEpochSeconds(evTab, "ts").as("ts"),
        col("event_id").as("seq"))
      .as[graft.streaming.TransRow]
    replay("replay_transitions", s, d, rows, (_: graft.streaming.TransRow).ts,
      graft.streaming.TransRow(Long.MinValue, "__sentinel", _, 0L),
      gapSec = 7200, keyCol = "k")(graft.streaming.StreamOps.transitionsStream(_))
  }

  /** The TimeDifference node as a pure stream — the [[streamedRate]]
   *  protocol verbatim (same sentinel close, same chained state
   *  machine), the scalar swapped for the per-point gap in minutes.
   *  Shares q_ds_timediff's batch oracle. */
  private val streamedTimediff = pointReplay("replay_timediff", gapSec = 7200)(
    graft.streaming.StreamOps.timeDifferenceStream(_, 60L))

  /** The watermark-finalized streaming 1h composite over the WHOLE
   *  table (no range filter — every window closes via the 2h sentinel
   *  gaps: wm after sentinel #1 = maxTs + 2h − 30m covers all ends). */
  private val lwwWindows = pointReplay("replay_lww", gapSec = 7200, rangeFilter = false,
    post = _.select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
        round(col("sum"), 4).as("sum_value"), col("cnt"),
        round(col("min"), 4).as("min_value"), round(col("max"), 4).as("max_value"),
        round(col("last"), 4).as("last_value"))
      .persist())(
    graft.streaming.StreamOps.windowedDownsampleLww(_, "1h", "30 minutes"))

  val defs: Map[String, Q] = Map(
    // the PURE-streaming A10 composite (R3 last-write-wins included):
    // every 1h window of every series, finalized by watermark through
    // flatMapGroupsWithState, must equal the batch composite the oracle
    // computes from the deduped points — the streaming rollup path with
    // no exactly-once-producer assumption
    "q_stream_lww_windows" -> ((s, d) => lwwWindows(s, d)),

    // W1 as a pure stream: stateful per-series derivative, finalized by
    // watermark — surfaces exactly like q_rate and shares its oracle
    "q_stream_rate" -> ((s, d) =>
      streamedRate(s, d)
        .select(col("metric"), col("tags")("user").as("tag_user"), col("ts"),
          round(col("value"), 6).as("rate"))),

    // Event-type transitions as a pure stream (round 11): the per-
    // entity (ts, seq)-ordered pair machine finalizes against the
    // watermark; the aggregation stage is literally the batch
    // operator's fromPairs, so the oracle is shared verbatim — a
    // mis-chained or dropped pair fails the hash
    "q_stream_transitions" -> ((s, d) =>
      graft.operators.Transitions.fromPairs(
        streamedTransitions(s, d).select(col("prev_type"), col("next_type")))
        .orderBy(col("prev_type"), col("next_type"))),

    // The TimeDifference node as a pure stream: same chained state
    // machine as q_stream_rate, gap-in-minutes scalar — surfaces
    // exactly like q_ds_timediff and shares its oracle
    "q_stream_timediff" -> ((s, d) =>
      streamedTimediff(s, d)
        .select(col("metric"), col("tags")("user").as("tag_user"), col("ts"),
          round(col("value"), 6).as("tdiff"))),

    // The moving-average analytic node as a PURE stream: stateful
    // per-series daily-bucket finalization + trailing weighted mean,
    // surfacing exactly like q_ds_ewma and sharing its oracle
    "q_stream_ewma" -> ((s, d) =>
      streamedEwma(s, d)
        .select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
          round(col("value"), 4).as("ewma"))),

    // The equal-weight MA mode as the same stream — shares
    // q_ds_movavg_simple's oracle
    "q_stream_movavg_simple" -> ((s, d) =>
      streamedMovavgSimple(s, d)
        .select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
          round(col("value"), 4).as("mavg"))),

    // Bucket-quantile over the STREAMED store: histogram counters built
    // from the ingest lake's deduped points, quantiles from the same
    // node — shares q_bucket_quantile's oracle verbatim.
    "q_stream_bucket_quantile" -> { (s, d) =>
      val pts = IngestJob.points(s, lakeFor(s, d))
        .filter(col("segment_start") >= lit(Start) && col("segment_start") < lit(End))
        .filter(col("ts") >= lit(Start) && col("ts") < lit(End))
      val deduped = QueryEngine.dedupe(pts)
      val bucketMetric = when(col("value") < 1, "lat_0_1")
        .when(col("value") < 5, "lat_1_5")
        .when(col("value") < 20, "lat_5_20")
        .when(col("value") < 50, "lat_20_50")
        .when(col("value") < 100, "lat_50_100")
        .when(col("value") < 250, "lat_100_250")
        .otherwise("lat_250_inf")
      val counters = deduped
        .withColumn("metric", bucketMetric)
        .groupBy(col("metric"), col("tags")("user").as("tag_user"),
          (col("ts") - col("ts") % 86400).as("bucket_ts"))
        .agg(count(lit(1)).cast("double").as("value"))
      graft.operators.SeriesAnalytics
        .bucketQuantile(counters, Seq("tag_user"), Seq(0.5, 0.95, 0.99))
        .select(col("tag_user"), col("bucket_ts"), col("quantile"),
          col("value").as("latency_bound"))
    },

    // A18 served from the streaming-maintained latest log (no fact scan)
    "q_stream_latest" -> { (s, d) =>
      IngestJob.latest(s, lakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"),
          col("tags")("host").as("tag_host"), col("tags")("colo").as("tag_colo"),
          col("last_ts"), round(col("last_value"), 4).as("last_value"))
    },

    // Staleness page served from the streaming-maintained latest log:
    // one filter over the O(|series|) state — the alert-time query
    // never scans facts (the q_stale_series batch twin does the
    // aggregate; here ingest already paid it)
    "q_stream_stale" -> { (s, d) =>
      IngestJob.latest(s, lakeFor(s, d))
        .filter(col("last_ts") < lit(End - 3 * 86400))
        .select(col("metric"), col("tags")("user").as("tag_user"),
          col("last_ts"), round(col("last_value"), 4).as("last_value"))
    },

    // S4/F10 over the streamed partitioned lake: the segment_start
    // conjunct prunes partitions (bounds are segment-aligned)
    "q_stream_ds_sum" -> { (s, d) =>
      val pts = IngestJob.points(s, lakeFor(s, d))
        .filter(col("segment_start") >= lit(Start) && col("segment_start") < lit(End))
        .filter(col("ts") >= lit(Start) && col("ts") < lit(End))
      QueryEngine.downsample(QueryEngine.dedupe(pts), DownsampleSpec("1d", "sum"), Start, End)
        .select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
          round(col("value"), 4).as("sum_value"))
    },

    // The anomaly node over the STREAMED store: the same expanding
    // z-score chain as q_anomaly_zscore (whose oracle this shares
    // verbatim), reading the ingest lake instead of the batch table —
    // ingest that lost or duplicated a point would shift a daily count
    // and surface as a hash mismatch.
    "q_stream_anomaly" -> { (s, d) =>
      val pts = IngestJob.points(s, lakeFor(s, d))
        .filter(col("segment_start") >= lit(Start) && col("segment_start") < lit(End))
        .filter(col("ts") >= lit(Start) && col("ts") < lit(End))
      val ds = QueryEngine.downsample(
        QueryEngine.dedupe(pts), DownsampleSpec("1d", "count"), Start, End)
      val g = QueryEngine.groupBySpatial(ds, graft.query.GroupBySpec(Seq("user"), "sum"))
        .withColumn("value", round(col("value"), 4))
      graft.operators.SeriesAnalytics.zscore(g, Seq(col("user")))
        .select(col("user").as("tag_user"), col("bucket_ts"),
          col("value").as("cnt"), col("zscore"), col("anomaly"))
    },

    // series_dim maintained by the stream matches the batch-derived one
    "q_stream_series_dim" -> { (s, d) =>
      IngestJob.seriesDim(s, lakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"), col("tag_count"),
          col("first_seen"), col("last_seen"))
    },

    // The KMV cardinality sketch served from the ingest-MAINTAINED dim —
    // the production alert/overview read (dim-sized, no fact scan).
    // Shares q_meta_cardinality_sketch's oracle verbatim, so any
    // ingest-side series drift (a lost or duplicated series) surfaces as
    // a hash mismatch in the sketch itself.
    "q_stream_cardinality_sketch" -> { (s, d) =>
      val ident = concat_ws("|", col("metric"), col("tags")("user"),
        col("tags")("host"), col("tags")("colo"),
        coalesce(col("tags")("env"), lit("")))
      graft.meta.MetaQueries.cardinalitySketch(
        IngestJob.seriesDim(s, lakeFor(s, d)), graft.filters.MatchAll, ident, k = 8)
    },

    // R5 idle-series purge: series silent since the cutoff are gone from
    // the dim; the oracle replays the cutoff as a HAVING clause
    "q_stream_idle_purge" -> { (s, d) =>
      IngestJob.seriesDim(s, idleLakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"), col("tag_count"),
          col("first_seen"), col("last_seen"))
    },

    // A10 served from the ingest-MAINTAINED 1h rollup table alone: the
    // engine path over the lake marked with that one rung, served by the
    // RollupRouting rule — the query scans only rollup rows, never raw
    // points
    "q_rollup_streamed" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      val primary = IngestJob.rollupLadder(s, cfg).filter(_._2 == RollupInterval)
      sums(QueryEngine.run(
        graft.plans.RollupRouting.routed(s, IngestJob.points(s, cfg), primary),
        dsQuery(DownsampleSpec("1d", "sum")), assumeDeduped = true))
    },

    // TRANSPARENT SQL over the STREAMED deployment (round 12): the marked
    // facade view pairs the lake's raw points with the ingest-MAINTAINED
    // rollup table, and the plain daily-sum SQL a dashboard user writes
    // is rewritten by the RollupRouting optimizer rule to scan ONLY the
    // maintained store — ingest maintains, SQL serves, no engine API in
    // between. Shares q_rollup_streamed's oracle verbatim; the routing
    // itself is plan-pinned in RollupRoutingSpec.
    "q_sql_rollup_streamed" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      graft.plans.RollupRouting.registerView(s, IngestJob.points(s, cfg),
        IngestJob.rollup(s, cfg), RollupInterval, "graft_points_streamed")
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_streamed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },

    // LADDER over the LIVE streamed lake (round 14, verdict #3): the
    // ingest maintains 1h AND 1d rungs (each close-gated on its own
    // window); Graft.queryRouted serves this daily query from the 1d
    // rung — 24× fewer rows than the 1h rung (plan-asserted in
    // IngestJobSpec). Shares q_rollup_streamed's oracle verbatim: a 1d
    // rung that lost or double-flushed a window fails the hash.
    "q_stream_rollup_ladder" -> ((s, d) =>
      sums(graft.Graft.queryRouted(s, lakeFor(s, d), dsQuery(DownsampleSpec("1d", "sum"))))),

    // the TRANSPARENT-SQL twin over the SAME live ladder: registerRouted
    // attaches every maintained rung and the RollupRouting rewrite picks
    // the 1d store for the daily SQL (plan-asserted in IngestJobSpec).
    // Same oracle verbatim.
    "q_sql_rollup_ladder_streamed" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      graft.Graft.registerRouted(s, cfg, "graft_points_ladder_live")
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_ladder_live
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },

    // the JSON front end through the ladder (round 14, verdict #5): a
    // client JSON query (literal metric filter + daily sum) parsed by
    // TsdbJson and served via the Graft.queryRouted facade one-liner —
    // the filter applies to the RUNG scans too (composite rows carry
    // metric/tags), so the 1d store is read pre-pruned. Own
    // single-slice oracle.
    "q_json_rollup_ladder" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      val json = s"""{
        "start": $Start, "end": $End,
        "filter": {"type": "MetricLiteral", "metric": "click"},
        "downsample": {"interval": "1d", "aggregator": "sum"}
      }"""
      graft.Graft.queryRouted(s, cfg, graft.query.TsdbJson.parseQuery(json))
        .select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
          round(col("value"), 4).as("sum_value"))
    },

    // the SPATIAL dashboard through the JSON ladder route (round 14):
    // downsample served from the maintained 1d rung, then the group-by
    // collapses series per host — applied over the served frame exactly
    // where the raw engine applies it (sums of stored sums per (host,
    // day) equal the raw sums). Own host-grain oracle.
    "q_json_rollup_ladder_spatial" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      val json = s"""{
        "start": $Start, "end": $End,
        "downsample": {"interval": "1d", "aggregator": "sum"},
        "groupBy": {"tagKeys": ["host"], "aggregator": "sum"}
      }"""
      graft.Graft.queryRouted(s, cfg, graft.query.TsdbJson.parseQuery(json))
        .select(col("host").as("tag_host"), col("bucket_ts"),
          round(col("value"), 4).as("sum_value"))
    },

    // A10 × timezone from the ingest-MAINTAINED rollup (round 11): the
    // Denver local-day serve over the streamed ladder — the deployment
    // shape for tz dashboards (whole-hour offsets, so the rule serves
    // the zone label from stored 1h rows, no raw scan). Shares q_ds_tz's
    // oracle verbatim.
    "q_stream_rollup_tz" -> ((s, d) =>
      sums(graft.Graft.queryRouted(s, lakeFor(s, d),
        dsQuery(DownsampleSpec("1d", "sum", timezone = Some("America/Denver")))))),

    // A15 sketch family, STREAMED (round 11): heavy-hitter frequency
    // estimates from the ingest-MAINTAINED count-min cells — per-batch
    // partial d×w grids merged by cell-wise sum at read, which equals
    // the one-shot batch sketch EXACTLY (cells are sums). The exact
    // side here is the evaluation harness (reads the lake); production
    // keeps only the ≤ d·w cells. Shares q_meta_cms_users' oracle
    // verbatim — a maintained cell off by one count fails the hash.
    "q_stream_cms_users" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      val exact = IngestJob.points(s, cfg)
        .select(col("tags")("user").as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
      val top = exact.orderBy(col("exact_n").desc, col("key").asc).limit(16)
      graft.operators.CountMin
        .reportAgainst(IngestJob.cmsCells(s, cfg), top, depth = 4, width = 512)
        .select(col("key").as("tag_user"), col("exact_n"), col("est_n"))
    },

    // the COMPACTED maintained count-min store (round 12): four
    // micro-batch partials folded to a snapshot partition + the one
    // open batch; the merged read must still equal the one-shot batch
    // sketch EXACTLY — q_meta_cms_users' oracle verbatim
    "q_stream_cms_compacted" -> { (s, d) =>
      val cfg = sketchCompactedLakeFor(s, d)
      val exact = IngestJob.points(s, cfg)
        .select(col("tags")("user").as("key"))
        .groupBy(col("key")).agg(count(lit(1)).as("exact_n"))
      val top = exact.orderBy(col("exact_n").desc, col("key").asc).limit(16)
      graft.operators.CountMin
        .reportAgainst(IngestJob.cmsCells(s, cfg), top, depth = 4, width = 512)
        .select(col("key").as("tag_user"), col("exact_n"), col("est_n"))
    },

    // the RETENTION-purged daily store (round 12): days before the
    // window were dropped during the fold; the served day range must be
    // bit-identical — q_stream_dds_range's raw-scan oracle verbatim
    "q_stream_dds_range_purged" -> { (s, d) =>
      import graft.operators.QuantileSketch
      val days = QuantileSketch.merge(
        graft.streaming.StoreCompaction.read(s, ddsDailyPurgedDir(s, d)))
        .withColumn("day", TsdbQueries.ddsKeyPart(1).cast("long"))
        .filter(col("day") >= lit(Start) && col("day") < lit(End))
        .select(TsdbQueries.ddsKeyPart(0).as("key"), col("sgn"), col("idx"), col("cnt"))
      QuantileSketch
        .quantiles(QuantileSketch.merge(days), Seq(0.99), TsdbQueries.DdsAlpha)
        .select(col("key").as("metric"), col("q"), col("est_v"))
    },

    // the COMPACTED maintained DDSketch store (round 12): same fold,
    // same contract — q_dds_quantiles' oracle verbatim
    "q_stream_dds_compacted" -> { (s, d) =>
      graft.operators.QuantileSketch
        .quantiles(IngestJob.ddsBuckets(s, sketchCompactedLakeFor(s, d)),
          Seq(0.5, 0.9, 0.99), TsdbQueries.DdsAlpha)
        .select(col("key").as("metric"), col("q"), col("est_v"))
    },

    // A15 sketch family, STREAMED (round 11): per-metric quantile
    // estimates from the ingest-MAINTAINED DDSketch buckets — per-batch
    // partial (key, sgn, idx, cnt) rows merged by count sum at read,
    // which equals the one-shot batch sketch EXACTLY (bucket counts are
    // sums). Shares q_dds_quantiles' oracle verbatim — a maintained
    // bucket off by one count fails the hash.
    "q_stream_dds_q" -> { (s, d) =>
      graft.operators.QuantileSketch
        .quantiles(IngestJob.ddsBuckets(s, lakeFor(s, d)),
          Seq(0.5, 0.9, 0.99), TsdbQueries.DdsAlpha)
        .select(col("key").as("metric"), col("q"), col("est_v"))
    },

    // RANGE-served percentile from the maintained daily store (the
    // dashboard zoom): day sketches inside [Start, End) re-aggregate by
    // metric — bucket indices don't depend on the grouping key, so the
    // merged day sketches equal a direct sketch over the range EXACTLY
    // (the rollup-routing argument, for percentiles). The oracle is an
    // independent raw scan restricted to the same day-aligned range.
    "q_stream_dds_range" -> { (s, d) =>
      import graft.operators.QuantileSketch
      val days = IngestJob.ddsBuckets(s, lakeFor(s, d), "dds_daily")
        .withColumn("metric", TsdbQueries.ddsKeyPart(0))
        .withColumn("day", TsdbQueries.ddsKeyPart(1).cast("long"))
        .filter(col("day") >= lit(Start) && col("day") < lit(End))
        .select(col("metric").as("key"), col("sgn"), col("idx"), col("cnt"))
      QuantileSketch
        .quantiles(QuantileSketch.merge(days), Seq(0.99), TsdbQueries.DdsAlpha)
        .select(col("key").as("metric"), col("q"), col("est_v"))
    },

    // the DASHBOARD serving grain from the maintained store: p99 per
    // (metric, day) read from STORED per-batch bucket partials at the
    // metric×day key — raw points never rescanned. Shares q_dds_daily's
    // raw-scan oracle verbatim.
    "q_stream_dds_daily" -> { (s, d) =>
      TsdbQueries.ddsDailyDecode(graft.operators.QuantileSketch
        .quantiles(IngestJob.ddsBuckets(s, lakeFor(s, d), "dds_daily"),
          Seq(0.99), TsdbQueries.DdsAlpha))
    },

    // A10 × CALENDAR from the ingest-MAINTAINED rollup (round 11): the
    // Denver MONTHLY serve over the streamed ladder — month starts are
    // whole-hour local midnights here, so every stored 1h row lies
    // inside one month and the rule serves the engine's boundary CASE
    // from stored rows. The early-January rows must surface as the
    // December-2023 bucket from STORED rows; shares q_ds_month_tz's
    // raw-scan oracle verbatim.
    "q_stream_rollup_month_tz" -> ((s, d) =>
      sums(graft.Graft.queryRouted(s, lakeFor(s, d),
        dsQuery(DownsampleSpec("1n", "sum", timezone = Some("America/Denver")),
          OracleCommon.DataStart, OracleCommon.TzFillEnd)))),

    // A10+A14 hybrid: closed segments from the maintained rollup UNION
    // the open tail from raw points (split at the serving rung's flush
    // frontier), through Graft.queryRouted. The answer must equal the
    // all-raw oracle exactly — the straddling query bucket reads raw, so
    // no partial-merge error can hide here.
    "q_rollup_hybrid" -> ((s, d) =>
      sums(graft.Graft.queryRouted(s, hybridLakeFor(s, d),
        dsQuery(DownsampleSpec("1d", "sum"))))),

    // The TRANSPARENT-SQL twin of q_rollup_hybrid (round 12): the marked
    // view pairs the live hybrid lake's raw points with its
    // ingest-MAINTAINED rollup table at the REAL flush frontier (the
    // close gate left the frozen clock's segment un-rolled), and the
    // plain daily-sum SQL a dashboard runs over [Start, End) is split by
    // the RollupRouting rewrite — closed days from the maintained store
    // UNION the genuine open tail raw. End-to-end production shape:
    // ingest maintains, SQL serves, the frontier is the ingest's own —
    // registered through the user facade's one-liner
    // ([[graft.Graft.registerRouted]], round 13).
    // Shares q_rollup_hybrid's all-raw oracle verbatim.
    "q_sql_rollup_hybrid_streamed" -> { (s, d) =>
      val cfg = hybridLakeFor(s, d)
      graft.Graft.registerRouted(s, cfg, "graft_points_hybrid_live")
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_hybrid_live
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },

    // S2/R2: the admitted row set under a finite retention window
    "q_stream_admission" -> { (s, d) =>
      IngestJob.points(s, admissionLakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"),
          col("ts"), col("value"), col("seq"))
    },

    // S2/R2 with the seeded-approx median (the large-batch admission
    // configuration): DuckDB replays the md5 sample + median exactly
    "q_stream_admission_approx" -> { (s, d) =>
      IngestJob.points(s, admissionApproxLakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"),
          col("ts"), col("value"), col("seq"))
    },

    // R5+R6: the lake after the full maintenance cycle — points-file
    // compaction must keep every admitted row bit-identical, purge must
    // drop exactly the pre-cutoff segments
    "q_stream_maintenance" -> { (s, d) =>
      IngestJob.points(s, maintenanceLakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"),
          col("ts"), col("value"), col("seq"))
    },

    // S7: series_dim served from the COMPACTED log (one snapshot row per
    // series) still equals the dimension derived from admitted points
    "q_stream_dim_compacted" -> { (s, d) =>
      IngestJob.seriesDim(s, maintenanceLakeFor(s, d))
        .select(col("metric"), col("tags")("user").as("tag_user"), col("tag_count"),
          col("first_seen"), col("last_seen"))
    },

    // A18 via mapGroupsWithState: the stateful-streaming latest agrees
    // with the latest-log fold and the batch aggregate on the same oracle
    "q_stream_latest_state" -> { (s, d) =>
      s.read.parquet(s"${latestStateLakeFor(s, d).lakeDir}/latest_state")
        .select(col("metric"), col("tags")("user").as("tag_user"),
          col("tags")("host").as("tag_host"), col("tags")("colo").as("tag_colo"),
          col("last_ts"), round(col("last_value"), 4).as("last_value"))
    },

    // P3 inside the correctness gate: both sides of the union come from
    // scheme-resolved source factories (`stream:` = the ingest-maintained
    // lake, `events:` = the raw table). The two sources carry the same
    // logical rows, so the cross-source LWW dedupe must collapse the
    // union back to the single-copy answer — any factory-plumbing drift
    // (schema, seq, partition column) breaks the hash.
    "q_source_factory" -> { (s, d) =>
      val cfg = lakeFor(s, d)
      val hot = graft.sources.Sources.resolve(s"stream:${cfg.lakeDir}").points(s)
      val cold = graft.sources.Sources.resolve(s"events:$d").points(s)
      val pts = hot.unionByName(cold)
        .filter(col("ts") >= lit(Start) && col("ts") < lit(End))
      QueryEngine.downsample(QueryEngine.dedupe(pts), DownsampleSpec("1d", "sum"), Start, End)
        .select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
          round(col("value"), 4).as("sum_value"))
    }
  )

  /** Shared by the engine hybrid route and its transparent-SQL twin. */
  private val HybridOracle: String =
    s"""WITH $pointsCtes
       |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts,
       |       ${rnd("sum(value)")} AS sum_value
       |FROM dedup WHERE ${inRange()} AND ts <= ${HybridNowSec + HybridFutureSec}
       |GROUP BY 1, 2, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    // streamed derivative replays the batch rate restatement verbatim
    "q_stream_rate" -> TsdbQueries.oracles("q_rate"),
    "q_stream_timediff" -> TsdbQueries.oracles("q_ds_timediff"),
    "q_stream_movavg_simple" -> TsdbQueries.oracles("q_ds_movavg_simple"),
    "q_stream_anomaly" -> TsdbQueries.oracles("q_anomaly_zscore"),
    "q_stream_ewma" -> TsdbQueries.oracles("q_ds_ewma"),
    "q_stream_bucket_quantile" -> TsdbQueries.oracles("q_bucket_quantile"),
    // the maintained-dim sketch must hash-match the batch sketch oracle
    "q_stream_cardinality_sketch" -> MetaQueriesSuite.oracles("q_meta_cardinality_sketch"),

    "q_stream_latest" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, tag_host, tag_colo,
         |       ts AS last_ts, ${rnd("value")} AS last_value
         |FROM points
         |QUALIFY row_number() OVER (PARTITION BY metric, tag_user
         |                           ORDER BY ts DESC, seq DESC) = 1""".stripMargin,

    "q_stream_stale" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, last_ts, last_value FROM (
         |  SELECT metric, tag_user, ts AS last_ts, ${rnd("value")} AS last_value
         |  FROM points
         |  QUALIFY row_number() OVER (PARTITION BY metric, tag_user
         |                             ORDER BY ts DESC, seq DESC) = 1)
         |WHERE last_ts < ${End - 3 * 86400}""".stripMargin,

    "q_stream_ds_sum" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts, ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_stream_series_dim" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user,
         |       CASE WHEN tag_env IS NULL THEN 3 ELSE 4 END AS tag_count,
         |       min(ts) AS first_seen, max(ts) AS last_seen
         |FROM points
         |GROUP BY 1, 2, 3""".stripMargin,

    "q_stream_idle_purge" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user,
         |       CASE WHEN tag_env IS NULL THEN 3 ELSE 4 END AS tag_count,
         |       min(ts) AS first_seen, max(ts) AS last_seen
         |FROM points
         |GROUP BY 1, 2, 3
         |HAVING max(ts) >= $End""".stripMargin,

    "q_rollup_streamed" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2, 3""".stripMargin,

    // the ladder routes (engine dispatch + SQL rewrite) read a maintained
    // 1d rung; answers must equal the raw daily sum exactly — the
    // q_rollup_streamed oracle verbatim for both
    "q_stream_rollup_ladder" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_sql_rollup_ladder_streamed" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2, 3""".stripMargin,
    // the spatial JSON ladder route: per-(host, day) sums — stored sums
    // re-aggregated across series equal the raw host sums exactly
    "q_json_rollup_ladder_spatial" ->
      s"""WITH $pointsCtes
         |SELECT tag_host, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2""".stripMargin,
    // the JSON-parsed ladder route: the metric slice of the same daily
    // sum — its own oracle, since the filter narrows the row set
    "q_json_rollup_ladder" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()} AND metric = 'click'
         |GROUP BY 1, 2, 3""".stripMargin,

    // the transparent SQL serve reads the same maintained store the
    // engine serve does — one oracle for both
    "q_sql_rollup_streamed" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2, 3""".stripMargin,

    // maintained-rollup tz serve == the raw tz downsample exactly
    "q_stream_rollup_tz" -> TsdbQueries.oracles("q_ds_tz"),

    // maintained-rollup CALENDAR serve == the raw monthly downsample
    "q_stream_rollup_month_tz" -> TsdbQueries.oracles("q_ds_month_tz"),

    // maintained count-min cells == the one-shot batch sketch
    "q_stream_cms_users" -> MetaQueriesSuite.oracles("q_meta_cms_users"),
    "q_stream_dds_q" -> TsdbQueries.oracles("q_dds_quantiles"),
    // COMPACTED stores: fold-then-merge == merge == one-shot batch
    "q_stream_cms_compacted" -> MetaQueriesSuite.oracles("q_meta_cms_users"),
    "q_stream_dds_compacted" -> TsdbQueries.oracles("q_dds_quantiles"),
    "q_stream_dds_daily" -> TsdbQueries.oracles("q_dds_daily"),
    "q_stream_transitions" -> EventsQueries.oracles("q_events_transitions"),
    // the range-served percentile's oracle: an INDEPENDENT raw scan
    // restricted to the same day-aligned range, per-metric walk
    "q_stream_dds_range" ->
      s"""WITH ${OracleCommon.pointsCtes},
         |${TsdbQueries.ddsCtes(TsdbQueries.DdsAlpha,
              s" AND ts >= $Start AND ts < $End")},
         |qs AS (SELECT 0.99::DOUBLE AS q),
         |sel AS (SELECT c.metric, qs.q,
         |          min_by(${TsdbQueries.ddsEst(TsdbQueries.DdsAlpha)}, cum) AS est
         |        FROM c JOIN n USING (metric) CROSS JOIN qs
         |        WHERE cum > floor(qs.q * (n.n - 1))
         |        GROUP BY 1, 2)
         |SELECT metric, q, ${OracleCommon.rnd("est")} AS est_v FROM sel""".stripMargin,

    // RETENTION-purged daily store: dropping out-of-window days must not
    // move the served window — the range row's raw-scan oracle verbatim
    "q_stream_dds_range_purged" ->
      s"""WITH ${OracleCommon.pointsCtes},
         |${TsdbQueries.ddsCtes(TsdbQueries.DdsAlpha,
              s" AND ts >= $Start AND ts < $End")},
         |qs AS (SELECT 0.99::DOUBLE AS q),
         |sel AS (SELECT c.metric, qs.q,
         |          min_by(${TsdbQueries.ddsEst(TsdbQueries.DdsAlpha)}, cum) AS est
         |        FROM c JOIN n USING (metric) CROSS JOIN qs
         |        WHERE cum > floor(qs.q * (n.n - 1))
         |        GROUP BY 1, 2)
         |SELECT metric, q, ${OracleCommon.rnd("est")} AS est_v FROM sel""".stripMargin,

    // the batch restatement of the watermark-finalized streaming
    // composite: every 1h window over the LWW-deduped points
    "q_stream_lww_windows" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 3600 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value,
         |       count(value) AS cnt,
         |       ${rnd("min(value)")} AS min_value,
         |       ${rnd("max(value)")} AS max_value,
         |       ${rnd("arg_max(value, ts)")} AS last_value
         |FROM dedup
         |GROUP BY 1, 2, 3""".stripMargin,

    // the ingest clock's isEarly check capped admission at now+tolerance;
    // within that, hybrid rollup∪raw must equal the all-raw answer
    "q_rollup_hybrid" -> HybridOracle,
    // the transparent SQL twin splits on the SAME real frontier — one
    // oracle for both routes
    "q_sql_rollup_hybrid_streamed" -> HybridOracle,

    // replay of IngestJob's event-time admission: median → future cutoff
    // → robust high-water mark → (hwm - retention, hwm + tolerance]
    "q_stream_admission" ->
      s"""WITH $pointsCtes,
         |$admittedCtes
         |SELECT metric, tag_user, ts, value, seq FROM admitted""".stripMargin,

    // identical replay, but the median comes from the md5-seeded sample —
    // with IngestJob.processBatch's empty-sample fallback mirrored: a
    // batch too small to hit the 1/m sample anchors on the FULL median
    // (without the COALESCE the subquery yields NULL and admits nothing)
    "q_stream_admission_approx" ->
      s"""WITH $pointsCtes,
         |${admittedCtesFrom(
            s"SELECT coalesce((SELECT median(ts) FROM points WHERE ${sampledSeq(AdmissionSampleMod)}), " +
              "(SELECT median(ts) FROM points)) AS p50")}
         |SELECT metric, tag_user, ts, value, seq FROM admitted""".stripMargin,

    "q_stream_latest_state" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, tag_host, tag_colo,
         |       ts AS last_ts, ${rnd("value")} AS last_value
         |FROM points
         |QUALIFY row_number() OVER (PARTITION BY metric, tag_user
         |                           ORDER BY ts DESC, seq DESC) = 1""".stripMargin,

    "q_stream_maintenance" ->
      s"""WITH $pointsCtes,
         |$admittedCtes
         |SELECT metric, tag_user, ts, value, seq FROM admitted
         |WHERE ts - ts % 7200 >= $PurgeCutoff""".stripMargin,

    "q_stream_dim_compacted" ->
      s"""WITH $pointsCtes,
         |$admittedCtes
         |SELECT metric, tag_user,
         |       CASE WHEN tag_env IS NULL THEN 3 ELSE 4 END AS tag_count,
         |       min(ts) AS first_seen, max(ts) AS last_seen
         |FROM admitted
         |GROUP BY 1, 2, 3""".stripMargin,

    // the factory-resolved hot∪cold union must dedupe to the plain answer
    "q_source_factory" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 86400 AS bucket_ts, ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2, 3""".stripMargin
  )

  /** The admission replay (median → robust hwm → drop bounds) as CTEs
   *  over `points` — shared by the maintenance-path oracles. The median
   *  subquery is pluggable so the seeded-sample variant replays too. */
  private def admittedCtesFrom(medianSql: String): String =
    s"""m AS ($medianSql),
       |h AS (SELECT max(ts) AS hwm FROM points
       |      WHERE ts <= (SELECT p50 + $AdmissionFuture FROM m)),
       |admitted AS (
       |  SELECT * FROM points
       |  WHERE ts > (SELECT hwm - $AdmissionRetention FROM h)
       |    AND ts <= (SELECT hwm + $AdmissionFuture FROM h))""".stripMargin

  private def admittedCtes: String =
    admittedCtesFrom("SELECT median(ts) AS p50 FROM points")

  /** DuckDB side of `md5prefix28(cast(seq as string)) % m == 0`. */
  private def sampledSeq(m: Int): String =
    s"('0x' || substr(md5(CAST(seq AS VARCHAR)), 1, 7))::BIGINT % $m = 0"
}
