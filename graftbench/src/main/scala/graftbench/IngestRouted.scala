package graftbench

import graft.Graft
import graft.query.{QueryEngine, TsdbJson}
import graft.sources.TsdbViews
import graft.streaming.{IngestJob, Maintenance}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/**
 * Writes beside reads. Seeded micro-batches, each about one 2h segment
 * of event time, go through `TsdbViews.pointsFromEvents` →
 * `IngestJob.processBatch` with a 1h + 1d rollup ladder, a count-min
 * sketch, a DDSketch and a retention cutoff; `Maintenance.run` follows
 * every second batch. After each batch the client reads: a routed
 * downsample, a routed group-by, and the maintained latest-value store.
 */
final class IngestRouted(seed: Long, work: String) extends Workload {
  val name = "ingest_routed"
  val opSpan = "batch"
  val minOps = 2
  private val shape = Gen.IngestShape(rowsPerBatch = 20000, retentionSec = 30 * Gen.Hour,
    maxFutureSec = Gen.Hour)
  /** Event time the set-up ingests in one batch: more than a day, so the
   *  1d rung has a closed window before the measured batches start. */
  private val historySegments = 13
  private val historyRows = 13 * 2000L
  private val maintainEvery = 2
  private val lakeDir = s"$work/ingest/lake"
  @volatile private var clock: Long = 0L
  private val cfg = IngestJob.Config(
    lakeDir = lakeDir,
    checkpointDir = s"$work/ingest/ckpt",
    retentionSec = shape.retentionSec,
    maxFutureSec = shape.maxFutureSec,
    rollupInterval = Some("1h"),
    rollupLadder = Seq("1d"),
    nowSec = Some(() => clock),
    cms = Some(IngestJob.CmsConfig("metric")),
    dds = Seq(IngestJob.DdsConfig("metric")))
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var nextBatch = 1

  private def segStartOf(batch: Int): Long = Gen.T0 + (historySegments + batch - 1) * Gen.Segment

  def setup(s: SparkSession): Unit = {
    spark = s
    val root = new java.io.File(s"$work/ingest")
    if (root.exists()) org.apache.commons.io.FileUtils.deleteDirectory(root)
    nextBatch = 1
    clock = Gen.T0 + historySegments * Gen.Segment
    val st = IngestJob.processBatch(TsdbViews.pointsFromEvents(history()), cfg, batchId = 0)
    require(st.admitted == shape.admitted(historyRows),
      s"history batch admitted ${st.admitted}, planted ${shape.admitted(historyRows)}")
  }

  private def history() =
    Gen.ingestBatch(spark, seed, shape, 0, Gen.T0, historySegments, Some(historyRows))

  def inputDigest(): String = Gen.digest(history())

  /** Untimed: the client's reads once, side by side. */
  def warmup(): Unit = {
    tracer = new Tracer(spark.sparkContext, enabled = false)
    Workload.parallel(readOps(clock))(_())
  }

  private def readJson(now: Long): Seq[String] = {
    val m1 = Gen.Metrics((seed + nextBatch).toInt.abs % Gen.Metrics.size)
    val m2 = Gen.Metrics((seed + nextBatch + 2).toInt.abs % Gen.Metrics.size)
    val from = math.max(Gen.T0, cutoff(now))
    Seq(
      s"""{"start":${now - Gen.Day},"end":$now,"filter":{"type":"MetricLiteral","metric":"$m1"},""" +
        """"downsample":{"interval":"1h","aggregator":"sum"}}""",
      s"""{"start":$from,"end":$now,"filter":{"type":"MetricLiteral","metric":"$m2"},""" +
        """"downsample":{"interval":"1d","aggregator":"sum"},""" +
        """"groupBy":{"tagKeys":["colo"],"aggregator":"sum"}}""")
  }

  /** Retention cutoff for maintenance, on a segment boundary so the
   *  segment drop removes exactly the points before it. */
  private def cutoff(now: Long): Long = {
    val c = now - shape.retentionSec
    c - Math.floorMod(c - Gen.T0, Gen.Segment)
  }

  /** One client read: its result, whether a rollup rung served it, and
   *  the same request answered from the points, which the result must
   *  equal. */
  private final case class Read(got: Check.Result, rung: Boolean, reference: DataFrame => DataFrame)

  /** The client's reads after a batch: a routed downsample, a routed
   *  group-by, and the maintained latest values. */
  private def readOps(now: Long): Seq[() => Read] = {
    val routed = readJson(now).map { json => () =>
      val (got, df) = tracer.request("read") {
        val q = tracer.span("query.parse", "query")(TsdbJson.parseQuery(json))
        val df = tracer.span("query.build", "query")(Graft.queryRouted(spark, cfg, q))
        val (result, plan) = Workload.collect(tracer, df)
        tracer.note("routed", 1)
        if (plan.exists(servedFromRung)) tracer.note("rung", 1)
        (result, df)
      }
      Read(got, servedFromRung(PlanStats.of(df.queryExecution.executedPlan)),
        pts => QueryEngine.run(pts, TsdbJson.parseQuery(json)))
    }
    val latest = () => {
      val m = Gen.Metrics((seed + nextBatch + 1).toInt.abs % Gen.Metrics.size)
      val got = tracer.request("read") {
        val df = tracer.span("streaming.latest", "streaming")(IngestJob.latest(spark, cfg))
          .filter(col("metric") === m).select("series_id", "last_ts", "last_value")
        Workload.collect(tracer, df)._1
      }
      Read(got, rung = false, pts => pts.filter(col("metric") === m).groupBy("series_id")
        .agg(max("ts").as("last_ts"),
          max_by(col("value"), struct(col("ts"), col("seq"))).as("last_value")))
    }
    routed :+ latest
  }

  /** The reads, timed one by one. A read that throws keeps its elapsed
   *  time. */
  private def reads(now: Long): Seq[(Try[Read], Double)] =
    readOps(now).map(r => Workload.timeMs(Try(r())))

  /** The differences between reads and their references, answered side
   *  by side from `IngestJob.points` as it stands after the reads. */
  private def differences(rs: Seq[Read]): Seq[String] = {
    val pts = IngestJob.points(spark, cfg)
    Workload.parallel(rs) { r =>
      val want = r.reference(pts)
      Check.diff(r.got, Check.Result(want.columns.toSeq, want.collect().toSeq))
    }.flatten
  }

  private def servedFromRung(p: PlanStats): Boolean =
    p.scannedPaths.exists(_.contains(IngestJob.rollupPath(cfg)))

  def measure(seconds: Double, minOps: Int, tr: Tracer): Phase = {
    tracer = tr
    val batchMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val maintMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val readMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var attempted, failed, routed, rungServed = 0
    var rows = 0L
    var checkMs = 0.0
    val t0 = System.nanoTime()
    // whole cycles of `maintainEvery` batches plus one maintenance pass,
    // so every run pays maintenance in the same proportion
    while ((System.nanoTime() - t0) / 1e9 < seconds || batchMs.size < minOps) {
      for (_ <- 1 to maintainEvery) {
        val b = nextBatch
        nextBatch += 1
        clock = segStartOf(b) + Gen.Segment
        val events = Gen.ingestBatch(spark, seed, shape, b, segStartOf(b))
        attempted += 1
        val (res, ms) = Workload.timeMs(Try(tracer.request("batch") {
          val before = if (tracer.enabled) Workload.dataFiles(lakeDir) else Set.empty[String]
          val st = tracer.span("streaming.process", "streaming") {
            val st = IngestJob.processBatch(TsdbViews.pointsFromEvents(events), cfg, batchId = b)
            tracer.note("total", st.total)
            tracer.note("admitted", st.admitted)
            if (tracer.enabled) tracer.note("files_written", (Workload.dataFiles(lakeDir) -- before).size)
            st
          }
          if (tracer.enabled) tracer.span("rollup.frontier", "rollup") {
            cfg.rollupRungs.foreach { iv =>
              val f = IngestJob.rungFrontier(spark, cfg, iv)
              tracer.note(s"lag_$iv", (st.highWaterMark - math.min(f, st.highWaterMark)).toDouble)
            }
          }
          st
        }))
        batchMs += ms
        val n = shape.rowsPerBatch.toLong
        res match {
          case Failure(e) =>
            System.err.println(s"batch $b failed: $e")
            failed += 1
          case Success(st) =>
            rows += st.total
            if (st.total != n || st.admitted != shape.admitted(n)) {
              System.err.println(s"batch $b: total ${st.total} admitted ${st.admitted}, planted " +
                s"$n rows of which ${shape.late(n)} late and ${shape.future(n)} far-future")
              failed += 1
            }
        }
        val rs = reads(clock)
        attempted += rs.size
        readMs ++= rs.map(_._2)
        rs.foreach(_._1.failed.foreach { e =>
          System.err.println(s"batch $b read failed: $e"); failed += 1 })
        val done = rs.flatMap(_._1.toOption)
        rungServed += done.count(_.rung)
        val (diffs, diffMs) = Workload.timeMs(differences(done))
        checkMs += diffMs
        diffs.foreach { d =>
          System.err.println(s"batch $b read differs from the reference: $d"); failed += 1 }
        routed += 2
      }
      attempted += 1
      val (res, ms) = Workload.timeMs(Try(tracer.request("maintenance") {
        val before = if (tracer.enabled) Workload.dataFiles(lakeDir) else Set.empty[String]
        tracer.span("streaming.maintenance", "streaming") {
          Maintenance.run(spark, cfg, retentionCutoffSec = Some(cutoff(clock)),
            idleCutoffSec = Some(cutoff(clock)))
          if (tracer.enabled) tracer.note("files_removed", (before -- Workload.dataFiles(lakeDir)).size)
        }
      }))
      maintMs += ms
      res.failed.foreach { e => System.err.println(s"maintenance failed: $e"); failed += 1 }
    }
    val ingestS = (batchMs.sum + maintMs.sum) / 1000.0
    System.err.println(f"graftbench: batches ${batchMs.sum / 1000}%.1f s, maintenance ${maintMs.sum / 1000}%.1f s, " +
      f"reads ${readMs.sum / 1000}%.1f s, checked in ${checkMs / 1000}%.1f s")
    val pointsNow = IngestJob.points(spark, cfg).count()
    val lakeBytes = Workload.diskBytes(lakeDir)
    Phase(attempted, failed, batchMs.toSeq, rows / ingestS,
      Seq(
        Metric("ingest_rows_per_s", rows / ingestS, "rows/s"),
        Metric("ingest_batch_p50_ms", Stats.median(batchMs.toSeq).value, "ms"),
        Metric("routed_read_p50_ms", Stats.median(readMs.toSeq).value, "ms"),
        Metric("lake_bytes_per_point", lakeBytes.toDouble / pointsNow, "bytes")),
      Seq(s"batches=${batchMs.size} maintenance_passes=${maintMs.size} reads=${readMs.size} " +
        s"rung_served=$rungServed/$routed retained_points=$pointsNow"))
  }

  def perLayer(v: TraceView): Map[String, Double] = {
    val batches = v.named("streaming.process")
    val maint = v.named("streaming.maintenance")
    val builds = v.named("query.build")
    val routed = v.roots("read").filter(_.notes.contains("routed"))
    val routedExecs = routed.flatMap(v.subtree).filter(_.name == "spark.exec")
    val nRouted = routed.size.max(1).toDouble
    val frontier = v.named("rollup.frontier")
    def medianNote(key: String): Double =
      if (frontier.isEmpty) 0.0 else Stats.median(frontier.map(_.notes.getOrElse(key, 0.0))).value
    val nb = batches.size.max(1).toDouble
    Map(
      "query.parse_ms" -> PerLayer.meanMs(v.named("query.parse")),
      "query.build_ms" -> PerLayer.meanMs(builds),
      "query.build_jobs" -> PerLayer.ratio(builds.map(b => v.jobsUnder(b).size).sum, builds.size),
      "plans.plan_ms" -> PerLayer.meanMs(v.named("plans.plan")),
      "plans.exchanges" -> v.note(routedExecs, "exchanges") / nRouted,
      "plans.rung_served_share" -> PerLayer.ratio(routed.count(_.notes.contains("rung")), routed.size),
      "lake.files_read" -> v.note(routedExecs, "files_read") / nRouted,
      "lake.bytes_read" -> v.note(routedExecs, "bytes_read") / nRouted,
      "lake.rows_read" -> v.note(routedExecs, "rows_read") / nRouted,
      "streaming.batch_jobs" -> batches.map(b => v.jobsUnder(b).size).sum / nb,
      "streaming.batch_task_s" -> batches.flatMap(v.jobsUnder).map(_.taskMs).sum / 1000.0 / nb,
      "streaming.admitted_ratio" -> v.note(batches, "admitted") / v.note(batches, "total").max(1.0),
      "streaming.bytes_written" -> batches.flatMap(v.jobsUnder).map(_.outputBytes).sum / nb,
      "streaming.files_written" -> v.note(batches, "files_written") / nb,
      "streaming.maint_ms" -> PerLayer.meanMs(maint),
      "streaming.maint_bytes_rewritten" ->
        PerLayer.ratio(maint.flatMap(v.jobsUnder).map(_.outputBytes).sum, maint.size),
      "streaming.maint_files_removed" -> PerLayer.ratio(v.note(maint, "files_removed"), maint.size),
      "rollup.frontier_lag_s.1h" -> medianNote("lag_1h"),
      "rollup.frontier_lag_s.1d" -> medianNote("lag_1d"))
  }
}
