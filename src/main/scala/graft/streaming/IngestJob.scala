package graft.streaming

import graft.core.{Fs, Intervals, TsdbSchema}
import graft.sources.TsdbViews
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming ingest (S1-S3, R2-R3, R5-R6): the Structured Streaming
 * equivalent of the reference's Kafka→shard write path
 * (core/.../core/BaseStorage.java:100-144 admission,
 * TimeSeriesShard.java:853-959 addTimeSeries, TSFlusherImp flushes).
 *
 * Shape: `readStream` (file source here; a Kafka source is the same plan
 * with a different format) → events→points mapping → `foreachBatch`:
 *
 *  - **admission** (R2): points older than retention relative to the
 *    batch's high-water mark, or absurdly in the future, are dropped —
 *    the reference's isDelayed/isEarly checks. The high-water mark is a
 *    robust statistic: the max ts among points within `maxFutureSec` of
 *    the injected clock or, without one, of the batch **median**, so a
 *    single absurd-future outlier can neither admit itself nor drag the
 *    mark up and evict valid fresh points.
 *  - **append** points to the lake, `partitionBy("segment_start")` — the
 *    2h-aligned partition IS the reference's segment window; old-window
 *    data lands in old partitions (R4: out-of-order tolerated, ordering
 *    irrelevant in an append lake).
 *  - **series_dim upsert** (S3): per-batch series summaries appended to a
 *    log; [[seriesDim]] folds the log (log-structured merge — the
 *    parquet-level answer to the reference's in-place meta upsert).
 *  - **latest upsert**: per-batch per-series last (ts, value, seq)
 *    appended; [[latest]] folds the log by (last_ts, last_seq) — the same
 *    last-write-wins order as QueryEngine.dedupe — so a last-value query
 *    reads O(|series| × batches) log rows, never the fact table (A18).
 *  - **rollup maintenance** (A10): when `rollupInterval` is set, a
 *    segment's composite rollup is built ONCE, when the segment closes —
 *    the high-water mark passes its end + `rollupLatenessSec` — exactly
 *    the reference's lifecycle (rollups are built at flush-to-LTS time,
 *    not per write: core/.../core/TSFlusherImp.java:168-430 invoking
 *    downsample/DownSampler.java:32-56). A late point landing in an
 *    already-closed segment idempotently re-flushes just that segment.
 *    Queries serve closed segments from [[rollup]] and the open tail
 *    from raw points (the [[graft.plans.RollupRouting]] rule's frontier
 *    split over [[rollupLadder]]); [[finalizeRollup]] completes the table at
 *    stream end/shutdown.
 *  - **retention purge** (R5): [[purge]] drops whole expired
 *    segment_start partitions — the partition-drop analog of the
 *    reference's PurgeJob freeing expired segments.
 *  - [[compact]] (R6): rewrites the dimension logs to one snapshot row
 *    per series; [[compactPoints]] consolidates the lake's per-batch
 *    small files into target-sized files per segment — the
 *    flush-consolidation analog (core/.../core/TSFlusherImp.java:168-430).
 *
 * One batch runs in three steps: the points append; then ONE flush
 * barrier over every independent write (series log, latest log, sketch
 * partials, and each rollup rung whose close gate fired); then, every
 * `compactEvery` batches, one barrier over the sketch folds. Batch
 * accounting and the segments the close gate needs ride on `observe()`
 * metrics collected by the points write itself (one Spark job services
 * all three), not separate count or collect jobs.
 *
 * All file manipulation goes through the Hadoop FileSystem API, so purge
 * and compaction work unchanged on HDFS/S3-style stores, not just local
 * disk.
 *
 * Duplicate (series, ts) points may exist across batches (R3); readers
 * dedupe by the `seq` ingest order exactly like the batch path
 * (QueryEngine.dedupe) — last-write-wins. The maintained rollup is exact
 * under such duplicates too: each flush recomputes its segment from the
 * deduped lake rather than merging per-batch partial aggregates (a
 * sum-of-partials would double-count a timestamp re-sent in a later
 * batch).
 *
 * The same property makes the whole pipeline replay-tolerant
 * (effectively-once on read over foreachBatch's at-least-once): replaying
 * a micro-batch appends rows with the same (ts, seq), which every
 * reader's LWW fold collapses, and re-runs the idempotent per-segment
 * rollup flush — tested in IngestJobSpec ("replaying a micro-batch").
 * The maintained count-min cells are the one SUM-folded artifact, so
 * they get replay tolerance differently: each batch's partial grid
 * lands in its own batch_id partition via dynamic overwrite, and a
 * replay rewrites that partition instead of double-counting.
 */
object IngestJob {

  /** `nowSec`: injectable clock for the reference's wall-clock isEarly
   *  check (deterministic in tests, `System.currentTimeMillis/1000` in
   *  production). When absent, admission falls back to the event-time
   *  heuristic (future cutoff relative to the batch median) — robust to
   *  outliers but, with no external clock, unable to distinguish a sparse
   *  multi-hour backfill batch from future garbage; such deployments
   *  should widen `maxFutureSec` or supply the clock. The batch median
   *  is computed only when there is no clock: with one, the cutoff is
   *  known before any data is read, and one aggregate yields the
   *  high-water mark and count.
   *
   *  `admissionSampleMod`: when set to m, the admission median is the
   *  exact median of the deterministic ~1/m row sample where
   *  `md5prefix28(seq) % m == 0` — the large-batch swap-in for the full
   *  sort-based percentile. This is a *seeded* approximation: Spark's
   *  own `approx_percentile` (a Greenwald-Khanna sketch) merges partial
   *  summaries in partition order and cannot be replayed by another
   *  engine, while a hash-seeded sample + exact median is bit-replayable
   *  in DuckDB with the shared md5 arithmetic (the oracle for
   *  q_stream_admission_approx does exactly that). The admission median
   *  only anchors the future-outlier cutoff, so a sampled median admits
   *  an (acceptably) slightly different boundary set — deterministically.
   *  Like the median itself, it is unused when `nowSec` is set. */
  /** `rollupLatenessSec`: how long after a rollup window's end the flush
   *  waits for stragglers before building its rollup (the close gate). */
  /** `rollupLadder`: additional maintained rollup rungs beyond
   *  `rollupInterval` (e.g. `Seq("1d")` on a 1h primary) — the
   *  reference's LTS stores multiple downsampled aggregation streams per
   *  segment and dispatches per interval
   *  (GorillaDownSampledTimeSeriesEncoder.java:85-120,138-180). Each
   *  rung is close-gated on its OWN window (a 1d rung flushes a day once
   *  the high-water mark passes its end + lateness) and carries its own
   *  flush frontier ([[rungFrontier]]); [[graft.Graft.registerRouted]]
   *  attaches the whole ladder so a daily SQL dashboard reads the
   *  maintained 1d rung instead of re-aggregating 24× more 1h rows. */
  /** `compactEvery`: every N committed batches, fold the closed
   *  sketch-store batch partitions (cms cells, dds buckets) into one
   *  snapshot partition ([[StoreCompaction]]) so merged-read cost stays
   *  bounded as batches accumulate (~1,440/day at a 1-min trigger). */
  final case class Config(
      lakeDir: String,
      checkpointDir: String,
      retentionSec: Long = TsdbSchema.RetentionSeconds,
      maxFutureSec: Long = 3600,
      rollupInterval: Option[String] = None,
      nowSec: Option[() => Long] = None,
      admissionSampleMod: Option[Int] = None,
      rollupLatenessSec: Long = 0,
      cms: Option[CmsConfig] = None,
      dds: Seq[DdsConfig] = Nil,
      compactEvery: Option[Int] = None,
      rollupLadder: Seq[String] = Nil) {
    require(compactEvery.forall(_ >= 1),
      s"compactEvery must be >= 1 when set, got $compactEvery")
    /** Every maintained rung, primary first. */
    def rollupRungs: Seq[String] = (rollupInterval.toSeq ++ rollupLadder).distinct
    // each rung must be a storable interval that tiles cleanly with the
    // segment layout — refuse a dead rung at construction, not at the
    // first flush (the reference's storable-interval whitelist,
    // core/downsample/Interval.java:25-36)
    rollupRungs.foreach { iv =>
      require(Intervals.isRollupInterval(iv),
        s"not a storable rollup interval: $iv (allowed: ${Intervals.RollupVocabulary.toSeq.sorted.mkString(",")})")
      IngestJob.rungWindowSeconds(iv): Unit
    }
    // two sketches sharing one name would silently interleave partials
    // in one lake path, and a name matching a RESERVED store (points,
    // cms, a ladder rung's rollup_<iv>, ...) would corrupt that store —
    // config errors, refused here for writers and readers alike
    require(dds.map(_.name).distinct.size == dds.size,
      s"duplicate DdsConfig names: ${dds.map(_.name)}")
    private def reserved: Set[String] = ReservedStores ++ rollupRungs.map(iv => s"rollup_$iv")
    require(dds.forall(c => !reserved(c.name)),
      s"DdsConfig name collides with a reserved lake store: " +
        s"${dds.map(_.name).filter(reserved)} (reserved: $reserved)")
  }

  /** Ingest-maintained count–min sketch over `keyExpr` (a SQL
   *  expression against the admitted point rows): each micro-batch
   *  appends its partial d×w cell counts; cells are sums, so the
   *  read-side merge equals the one-shot batch sketch exactly
   *  ([[graft.operators.CountMin]]). */
  final case class CmsConfig(keyExpr: String, depth: Int = 4, width: Int = 512)

  /** Ingest-maintained DDSketch quantile buckets, keyed by `keyExpr`
   *  over `valueExpr`: each micro-batch appends its partial (key, sgn,
   *  idx, cnt) bucket rows; bucket counts are sums, so the read-side
   *  merge equals the one-shot batch sketch exactly
   *  ([[graft.operators.QuantileSketch]]). A Config may maintain
   *  several sketches at different key grains (e.g. per metric AND per
   *  metric×day — the p99-dashboard serving grain); `name` keys each
   *  one's lake path. */
  final case class DdsConfig(keyExpr: String, valueExpr: String = "value",
      alpha: Double = 0.02, name: String = "dds")

  def pointsPath(cfg: Config): String = s"${cfg.lakeDir}/points"
  def seriesLogPath(cfg: Config): String = s"${cfg.lakeDir}/series_log"
  def latestLogPath(cfg: Config): String = s"${cfg.lakeDir}/latest_log"
  def rollupPath(cfg: Config): String = s"${cfg.lakeDir}/rollup"
  def cmsPath(cfg: Config): String = s"${cfg.lakeDir}/cms"
  def ddsPath(cfg: Config, name: String = "dds"): String = s"${cfg.lakeDir}/$name"

  /** Store path for one rollup rung: the primary keeps the historical
   *  `rollup` directory; ladder rungs get `rollup_<interval>`. */
  def rungPath(cfg: Config, interval: String): String =
    if (cfg.rollupInterval.contains(interval)) rollupPath(cfg)
    else s"${cfg.lakeDir}/rollup_$interval"

  /** A rung's flush/partition window: its close gate and overwrite unit.
   *  A sub-segment rung (1h, 30m) flushes per 2h segment; a coarser rung
   *  (1d) flushes per own bucket (which must tile whole segments). */
  def rungWindowSeconds(interval: String): Long = {
    val iv = Intervals.toSeconds(interval)
    require(iv > 0, s"not a positive rollup interval: $interval")
    require(TsdbSchema.SegmentSeconds % iv == 0 || iv % TsdbSchema.SegmentSeconds == 0,
      s"rollup interval $interval must divide, or be a whole multiple of, " +
        s"the ${TsdbSchema.SegmentSeconds}s segment")
    math.max(iv, TsdbSchema.SegmentSeconds)
  }

  /** Lake store names a [[DdsConfig.name]] must not shadow. */
  val ReservedStores: Set[String] =
    Set("points", "series_log", "latest_log", "rollup", "cms")

  /** Per-batch ingest accounting (the reference logs dropped-point
   *  counters at admission; we surface them to the caller). */
  final case class BatchStats(total: Long, admitted: Long, highWaterMark: Long) {
    def dropped: Long = total - admitted
  }

  /** Most flushes that run at once, JVM-wide. One batch submits up to
   *  3 + |dds| + |rungs| flushes (series log, latest log, CMS, each DDS,
   *  each due rung: 6 for a 1h+1d ladder with one sketch of each kind),
   *  and one [[Maintenance.run]] pass 3 + |dds| chains (points, both
   *  logs, CMS, each DDS); work past the cap, from a wider config or
   *  from concurrent callers, queues. */
  private[streaming] val FlushThreads = 8

  /** The threads of [[flushPool]], told apart so [[runFlushes]] can run
   *  a nested barrier inline. */
  private final class FlushThread(r: Runnable, name: String) extends Thread(r, name)

  /** Shared executor for the per-batch flushes and the maintenance
   *  chains: one JVM-wide lazy pool of at most [[FlushThreads]] threads
   *  instead of a fresh pool per micro-batch (thread churn every trigger
   *  at a production 1-min cadence). Idle threads expire. A queued body
   *  cannot deadlock: a body that itself calls [[runFlushes]] runs those
   *  flushes inline on its own thread, never queued behind itself.
   *  Daemon threads so an exiting application never blocks on the
   *  pool. */
  private lazy val flushPool: java.util.concurrent.ExecutorService = {
    val pool = new java.util.concurrent.ThreadPoolExecutor(FlushThreads, FlushThreads,
      60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new FlushThread(r, s"graft-ingest-flush-${n.getAndIncrement()}")
          t.setDaemon(true)
          t
        }
      })
    pool.allowCoreThreadTimeOut(true)
    pool
  }

  /** Run independent flushes concurrently on [[flushPool]]; every
   *  submitted flush settles before the first failure rethrows (no
   *  orphaned in-flight jobs), named for diagnosis as `"$what '$name'
   *  failed"`. An interrupt of the calling thread
   *  (`StreamingQuery.stop()` on the batch thread) also waits for every
   *  submitted flush, then restores the interrupt flag and rethrows: the
   *  batch is replayed later, and no flush of this attempt may still be
   *  writing a store when it is. Called from a pool thread (a flush body
   *  or maintenance chain that nests a barrier), the flushes run inline,
   *  one after another, with the same settle-then-rethrow contract.
   *  Exposed package-side for the failure-path specs. */
  private[streaming] def runFlushes(flushes: Seq[(String, () => Unit)],
      what: String = "store flush"): Unit = {
    if (flushes.size == 1) flushes.head._2()
    else if (flushes.nonEmpty) {
      var interrupted: Option[InterruptedException] = None
      val errs =
        if (Thread.currentThread().isInstanceOf[FlushThread])
          flushes.flatMap { case (name, run) =>
            scala.util.Try(run()).failed.toOption.map(name -> _) }
        else {
          val futs = flushes.map { case (name, run) =>
            name -> flushPool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = run()
            })
          }
          def settle(f: java.util.concurrent.Future[Unit]): Option[Throwable] =
            try { f.get(); None }
            catch {
              case e: java.util.concurrent.ExecutionException => Some(e.getCause)
              case e: InterruptedException =>
                interrupted = interrupted.orElse(Some(e)); settle(f)
            }
          // settle ALL before rethrowing the interrupt or the first failure
          futs.flatMap { case (name, f) => settle(f).map(name -> _) }
        }
      interrupted.foreach { e => Thread.currentThread().interrupt(); throw e }
      errs.headOption.foreach { case (name, e) =>
        throw new RuntimeException(s"$what '$name' failed", e) }
    }
  }

  /** `body` as a flush for [[runFlushes]]: a pool thread keeps the
   *  active session of whichever thread created it, so the flush makes
   *  `spark` active before it builds a plan and restores the previous
   *  one after. */
  private[streaming] def inSession(spark: SparkSession)(body: => Unit): () => Unit = () => {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(spark)
    try body
    finally prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  /** One micro-batch: admission, the points append, then one flush
   *  barrier over the store flushes and every due rollup rung flush,
   *  then the sketch folds. The points append goes through the sink
   *  strategy surface (P4) — default is the segment-partitioned parquet
   *  lake. Returns admission stats, computed via `observe()` on the
   *  write pass (no dedicated count jobs). `batchId` is the micro-batch's
   *  id (see [[batchBody]]): the CMS/DDS partials' partition and the
   *  in-band `compactEvery` fold key on it. */
  def processBatch(batch: DataFrame, cfg: Config,
      sink: Option[graft.sinks.PointsSink] = None,
      batchId: Long): BatchStats = {
    // batch_id=-1 is the count stores' snapshot partition
    require(batchId >= 0, s"batchId must be a micro-batch id (>= 0), got $batchId")
    val now: Option[Long] = cfg.nowSec.map(_.apply()) // sample the clock once per batch
    // Admission bounds anchor on the wall clock when we have one (the
    // reference's isEarly/isDelayed), else on the robust high-water mark:
    // a tolerated slightly-future point must not shrink the retention
    // window for its contemporaries.
    val (total, hwm, admitLow, admitHigh) = now match {
      case Some(n) =>
        // One stats pass: with a clock the future cutoff (the reference's
        // isEarly) is known before any data is read, so the high-water
        // mark — the max ts within the cutoff — comes from the same
        // aggregate as the raw max and the count. No median is needed.
        val cutoff = (n + cfg.maxFutureSec).toDouble
        val head = batch.agg(
          max(when(col("ts") <= lit(cutoff), col("ts"))).as("hwm"),
          max(col("ts")).as("mx"),
          count(lit(1)).as("total")).head()
        if (head.isNullAt(1)) return BatchStats(0, 0, Long.MinValue)
        // whole batch is future garbage
        if (head.isNullAt(0)) return BatchStats(head.getLong(2), 0, Long.MinValue)
        (head.getLong(2), head.getLong(0), (n - cfg.retentionSec).toDouble, cutoff)
      case None =>
        // One stats pass: the admission median (deterministic,
        // oracle-replayable: exact by default, or the exact median of the
        // md5-seeded 1/m sample for huge batches — Config.admissionSampleMod),
        // raw max, and total count. count==0 ⇒ empty batch, done.
        val medianOf: Column => Column = ts => percentile(ts, lit(0.5))
        val p50Col = cfg.admissionSampleMod match {
          case Some(m) => medianOf(when(
            pmod(call_function("md5prefix28", col("seq").cast("string")), lit(m)) === 0, col("ts")))
          case None => medianOf(col("ts"))
        }
        val head = batch.agg(
          p50Col.as("p50"),
          max(col("ts")).as("mx"),
          count(lit(1)).as("total")).head()
        if (head.isNullAt(1)) return BatchStats(0, 0, Long.MinValue)
        // empty sample (tiny batch): fall back to the full exact median
        val p50 = if (head.isNullAt(0))
          batch.agg(medianOf(col("ts"))).head().getDouble(0)
        else head.getDouble(0)
        val rawMax = head.getLong(1)
        val total = head.getLong(2)
        val cutoff = p50 + cfg.maxFutureSec // event-time fallback
        // Common case: no future outliers, hwm is the raw max (no extra job).
        val hwm =
          if (rawMax <= cutoff) rawMax
          else {
            val h = batch.filter(col("ts") <= lit(cutoff)).agg(max(col("ts"))).head()
            if (h.isNullAt(0)) return BatchStats(total, 0, Long.MinValue) // whole batch is future garbage
            h.getLong(0)
          }
        (total, hwm, (hwm - cfg.retentionSec).toDouble, (hwm + cfg.maxFutureSec).toDouble)
    }
    // the touched segments ride the same Observation as the admitted
    // count: a micro-batch touches a handful of 2h windows, so the set is
    // O(segments-per-batch) ids, collected without a job of its own
    val obs = Observation()
    val admitted = batch
      .filter(col("ts") > lit(admitLow) && col("ts") <= lit(admitHigh))
      .observe(obs, count(lit(1)).as("admitted"),
        collect_set(col("segment_start")).as("touched"))
      .cache()
    try {
      // the points append runs FIRST and alone: it materializes the
      // cached `admitted` exactly once (completing the admission
      // Observation) before anything else reads the cache
      sink.getOrElse(new graft.sinks.PartitionedParquetSink(pointsPath(cfg)))
        .append(admitted)
      val observed = obs.get
      val withTj = admitted.withColumn("__tj", graft.core.TagsJson.key(col("tags")))
      // ONE barrier per batch. The store flushes (series log, latest
      // log, CMS partials, each DDS partial) and the due rollup rung
      // flushes are INDEPENDENT writes to disjoint store paths — the
      // stores over the same cached frame, the rungs over the lake the
      // append just completed — so they are submitted together to a small
      // pool and the next flush's tasks back-fill executors freed by the
      // previous one's tail (guide §2.6 "overlap independent jobs"):
      // per-batch flush wall drops from the sum of the flushes to
      // roughly their max. Only the sketch folds, which read the sketch
      // stores, run AFTER the barrier, in a barrier of their own.
      // Failures propagate: the first failed flush rethrows once every
      // submitted flush has settled (no orphaned jobs).
      val flushes = scala.collection.mutable.ArrayBuffer.empty[(String, () => Unit)]
      // plans are CONSTRUCTED on this thread (plan-build reads
      // session conf through the thread-local active session); only the
      // write ACTION runs on the pool
      val seriesLogDf = withTj
        .groupBy(col("series_id"), col("metric"), col("__tj"))
        .agg(min(col("ts")).as("first_seen"), max(col("ts")).as("last_seen"))
        .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))
        .select("series_id", "metric", "tags", "first_seen", "last_seen")
      flushes += "series_log" -> (() =>
        seriesLogDf.write.mode("append").parquet(seriesLogPath(cfg)))
      val latestLogDf = withTj
        .groupBy(col("series_id"), col("metric"), col("__tj"))
        .agg(max(col("ts")).as("last_ts"),
          max_by(col("value"), struct(col("ts"), col("seq"))).as("last_value"),
          max_by(col("seq"), struct(col("ts"), col("seq"))).as("last_seq"))
        .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))
        .select("series_id", "metric", "tags", "last_ts", "last_value", "last_seq")
      flushes += "latest_log" -> (() =>
        latestLogDf.write.mode("append").parquet(latestLogPath(cfg)))
      // per-batch PARTIAL sketch rows: count-min cells (≤ d·w rows per
      // batch — the mergeable-summary contract; the read sums cells,
      // never rescans) and DDSketch quantile buckets. Counts are SUMS, so
      // unlike the fold-idempotent logs a blind append would
      // double-count a foreachBatch REPLAY (at-least-once): each partial
      // lands in its own batch_id partition via dynamic overwrite —
      // replaying a batch rewrites the same partition, keeping merged
      // counts == one-shot sketch exactly.
      def partial(name: String, rows: DataFrame, dir: String): Unit =
        flushes += name -> (() =>
          rows.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(dir))
      cfg.cms.foreach(c => partial("cms", graft.operators.CountMin
        .sketch(admitted, expr(c.keyExpr), c.depth, c.width), cmsPath(cfg)))
      cfg.dds.foreach(c => partial(s"dds_${c.name}", graft.operators.QuantileSketch
        .sketch(admitted, expr(c.keyExpr), expr(c.valueExpr), c.alpha), ddsPath(cfg, c.name)))
      if (cfg.rollupRungs.nonEmpty) {
        val touched = observed("touched").asInstanceOf[scala.collection.Seq[Long]].toSet
        // CLOSE GATE, per rung: flush a rung window once, when the
        // high-water mark passes its end + lateness (the reference
        // builds rollups at flush-to-LTS time, once per segment —
        // TSFlusherImp.java:168-430 — not on every write). Flushing the
        // live window on every micro-batch would rewrite O(window
        // volume) per batch: at a 1-min cadence into a 2h segment, ~120
        // rewrites of the same partition. The open tail is served from
        // raw points instead (RollupRouting's frontier split). A
        // coarser rung (1d) gates on its own wider window, so its
        // frontier naturally lags the fine rung's — each query picks
        // the rung whose served frontier reaches furthest,
        // tie-breaking coarser (round 15). Two flush
        // triggers per rung, both exact and idempotent:
        //  - a closed window touched by this batch (late straggler
        //    inside the admission window) → recompute it;
        //  - a closed lake window with no rung partition yet (it
        //    closed since the batch that last wrote it) → first flush.
        // The gate reads only the touched set and directory listings,
        // all settled once the append has returned.
        val anchor = now.getOrElse(hwm)
        val conf = batch.sparkSession.sessionState.newHadoopConf()
        val lakeSegs = segments(conf, pointsPath(cfg))
        cfg.rollupRungs.foreach { iv =>
          val w = rungWindowSeconds(iv)
          def closed(win: Long): Boolean =
            win + w + cfg.rollupLatenessSec <= anchor
          val due = (touched.map(s => s - Math.floorMod(s, w)) ++
            unflushed(iv, lakeSegs, segments(conf, rungPath(cfg, iv)))).filter(closed)
          rungWrite(batch.sparkSession, cfg, iv, due.toSeq.sorted)
            .foreach(write => flushes += s"rung_$iv" -> write)
        }
      }
      runFlushes(flushes.toSeq)
      // in-band maintenance (production posture): every N committed
      // batches, fold the closed sketch-store partials into the snapshot
      // partition, every store in one barrier. The fold always excludes
      // this batch's own (max, replayable) partition, and a crash-replay
      // of this batch re-runs the fold idempotently (the snapshot
      // re-folds).
      cfg.compactEvery.foreach { n =>
        if (batchId > 0 && batchId % n == 0)
          runFlushes(StoreCompaction.sketchFolds(batch.sparkSession, cfg, Map.empty)
            .map { case (name, fold) => name -> inSession(batch.sparkSession)(fold(): Unit) },
            what = "sketch fold")
      }
      BatchStats(total, observed("admitted").asInstanceOf[Long], hwm)
    } finally admitted.unpersist()
  }

  /** The one `foreachBatch` body of every ingest starter ([[run]],
   *  [[runDataGen]], [[KafkaSource.run]], [[PulsarSource.run]]):
   *  [[processBatch]] with the micro-batch's id. The id is what makes a
   *  replay safe: each CMS/DDS partial lands in its own `batch_id=N`
   *  partition, which a replay of batch N overwrites, and the in-band
   *  `compactEvery` fold keys on it. */
  def batchBody(cfg: Config): (DataFrame, Long) => Unit =
    (batch, batchId) => processBatch(batch, cfg, batchId = batchId): Unit

  /** Start the stream over a directory of events parquet files.
   *  `maxFilesPerTrigger` bounds each micro-batch to that many source
   *  files — the probe/test knob for driving a controlled batch COUNT
   *  through the maintained stores. */
  def run(spark: SparkSession, sourceDir: String, cfg: Config,
      availableNow: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val schema = spark.read.parquet(sourceDir).schema
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    val stream = reader.parquet(sourceDir)
    val writer = TsdbViews.pointsFromEvents(stream).writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch(batchBody(cfg))
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Synthetic data-gen ingest (the reference's DATA_GEN input mode,
   *  AuraMetricsService InputMode): Spark's rate source drives a
   *  deterministic metric/tag mapping through the exact same batch
   *  pipeline as file/Kafka input. */
  def runDataGen(spark: SparkSession, cfg: Config, rowsPerSecond: Int = 1000,
      numSeries: Int = 100): StreamingQuery = {
    val stream = spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString).load()
    val points = stream.select(
        concat(lit("gen.metric."), (col("value") % 5).cast("string")).as("metric"),
        map(lit("series"), (col("value") % numSeries).cast("string")).as("tags"),
        (col("value") / lit(numSeries)).cast("long").as("ts"), // dense synthetic clock
        (col("value") % 1000).cast("double").as("value"),
        col("value").as("seq"))
      .withColumn("series_id", graft.core.SeriesId.seriesId(col("metric"), col("tags")))
      .withColumn("segment_start", graft.core.SeriesId.segmentStart(col("ts")))
    points.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch(batchBody(cfg))
      .start()
  }

  /** Streamed lake views. Points are read with the declared schema
   *  ([[graft.lake.Lake.readPoints]]), so a lake whose segments were all
   *  purged reads as 0 rows rather than failing schema inference. */
  def points(spark: SparkSession, cfg: Config): DataFrame =
    graft.lake.Lake.readPoints(spark, pointsPath(cfg))

  /** The streaming-maintained PRIMARY rollup table (A10 read side):
   *  composite sum/cnt/min/max/last/sumsq rows per (series, rollup
   *  bucket), window-partitioned — one rung of [[rollupLadder]]. */
  def rollup(spark: SparkSession, cfg: Config): DataFrame =
    spark.read.parquet(rollupPath(cfg))

  /** One rung of the maintained rollup ladder. */
  def rollupRung(spark: SparkSession, cfg: Config, interval: String): DataFrame =
    spark.read.parquet(rungPath(cfg, interval))

  /** The maintained ladder as (store, interval, frontier) rungs — the
   *  input shape of [[graft.plans.RollupRouting.routed]], behind
   *  [[graft.Graft.queryRouted]] and [[graft.Graft.registerRouted]].
   *  Rungs whose store has no closed window yet (a young lake's 1d
   *  rung) are skipped: there is nothing to serve from them, and their
   *  frontier would precede every query anyway. Lists the lake once and
   *  each rung once. */
  def rollupLadder(spark: SparkSession, cfg: Config): Seq[(DataFrame, String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val lakeSegs = segments(conf, pointsPath(cfg))
    cfg.rollupRungs.flatMap { iv =>
      val rolled = segments(conf, rungPath(cfg, iv))
      if (rolled.isEmpty) None
      else Some((rollupRung(spark, cfg, iv), iv, frontier(iv, lakeSegs, rolled)))
    }
  }

  /** The maintained count–min sketch: micro-batch partials merged by
   *  cell-wise sum — identical to the one-shot batch sketch. Reads via
   *  [[StoreCompaction.read]]: only the store's live set, so a fold in
   *  progress or one that crashed mid-swap never changes the counts;
   *  never mutates. */
  def cmsCells(spark: SparkSession, cfg: Config): DataFrame =
    graft.operators.CountMin.merge(StoreCompaction.read(spark, cmsPath(cfg)))

  /** The maintained DDSketch bucket relation: micro-batch partials
   *  merged by (key, sgn, idx) count sum — identical to the one-shot
   *  batch sketch. Feed to [[graft.operators.QuantileSketch.quantiles]].
   *  Same pure [[StoreCompaction.read]] discipline as [[cmsCells]]. */
  def ddsBuckets(spark: SparkSession, cfg: Config, name: String = "dds"): DataFrame =
    graft.operators.QuantileSketch.merge(StoreCompaction.read(spark, ddsPath(cfg, name)))

  private def foldSeriesLog(log: DataFrame): DataFrame =
    log
      .withColumn("__tj", graft.core.TagsJson.key(col("tags")))
      .groupBy(col("series_id"), col("metric"), col("__tj"))
      .agg(min(col("first_seen")).as("first_seen"), max(col("last_seen")).as("last_seen"))
      .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))

  def seriesDim(spark: SparkSession, cfg: Config): DataFrame =
    foldSeriesLog(spark.read.parquet(seriesLogPath(cfg)))
      .withColumn("tag_count", size(map_keys(col("tags"))))
      .select("series_id", "metric", "tags", "tag_count", "first_seen", "last_seen")

  /** Cross-batch fold of the latest log. Ties on last_ts across batches
   *  break by last_seq — the same (ts, seq) last-write-wins order as
   *  QueryEngine.dedupe, so re-sent timestamps resolve identically here
   *  and on the raw path. Keeps last_seq so [[compact]]ed snapshots fold
   *  correctly again later. */
  private def foldLatestLog(log: DataFrame): DataFrame =
    log
      .withColumn("__tj", graft.core.TagsJson.key(col("tags")))
      .groupBy(col("series_id"), col("metric"), col("__tj"))
      .agg(max(col("last_ts")).as("last_ts"),
        max_by(col("last_value"), struct(col("last_ts"), col("last_seq"))).as("last_value"),
        max_by(col("last_seq"), struct(col("last_ts"), col("last_seq"))).as("last_seq"))
      .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))

  def latest(spark: SparkSession, cfg: Config): DataFrame =
    foldLatestLog(spark.read.parquet(latestLogPath(cfg)))
      .select("series_id", "metric", "tags", "last_ts", "last_value")

  /** Flush-time maintenance for one ladder rung. Recomputes the
   *  composite rollup (exact — over the deduped lake, not merged
   *  per-batch partials) for the given rung WINDOWS
   *  ([[rungWindowSeconds]]-aligned; = 2h segments for sub-segment
   *  rungs, own buckets for coarser rungs) and overwrites just those
   *  partitions (dynamic partition overwrite). Idempotent per window:
   *  re-flushing after late data lands simply rewrites its slice. */
  def flushRung(spark: SparkSession, cfg: Config, interval: String,
      windows: Seq[Long]): Unit =
    rungWrite(spark, cfg, interval, windows).foreach(_())

  /** [[flushRung]] split at its action: the rollup plan is built on the
   *  calling thread (plan construction reads the session conf through
   *  the thread-local active session) and the returned write may run on
   *  any thread. None when there is no window to flush. */
  private def rungWrite(spark: SparkSession, cfg: Config, interval: String,
      windows: Seq[Long]): Option[() => Unit] = {
    if (windows.isEmpty) return None
    val w = rungWindowSeconds(interval)
    // the covered 2h lake segments — a bounded list (12 per 1d window),
    // kept as an isin so partition pruning is explicit in the scan
    val segs = windows.flatMap(win => win until (win + w) by TsdbSchema.SegmentSeconds)
    val pts = points(spark, cfg)
      .filter(col("segment_start").isin(segs: _*))
    val rolled = graft.rollup.Rollup.build(pts, interval)
      .withColumn("segment_start", graft.core.SeriesId.segmentStart(col("bucket_ts"), w))
      // co-locate each window in one task: one file per window partition
      // instead of (shuffle-partitions × windows) small files
      .repartition(col("segment_start"))
    Some(() => rolled.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("segment_start")
      .parquet(rungPath(cfg, interval)))
  }

  /** End-of-stream / shutdown flush: for every rung, build the rollup
   *  for every lake window that doesn't have one yet (the open tail the
   *  close gate deliberately skipped, plus any window that closed after
   *  its last write). After this every rung covers the whole lake and
   *  its [[rungFrontier]] is +∞. Returns the primary rung's flushed
   *  windows (historical contract). */
  def finalizeRollup(spark: SparkSession, cfg: Config): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val lakeSegs = segments(conf, pointsPath(cfg))
    val flushed = cfg.rollupRungs.map { iv =>
      val missing = unflushed(iv, lakeSegs, segments(conf, rungPath(cfg, iv))).sorted
      flushRung(spark, cfg, iv, missing)
      iv -> missing
    }.toMap
    cfg.rollupInterval.toSeq.flatMap(flushed.getOrElse(_, Nil))
  }

  /** The PRIMARY rung's flush frontier: every lake segment strictly
   *  below it has a maintained rollup partition; at or above it, queries
   *  must read raw points (the rung's frontier in [[rollupLadder]],
   *  where the routing rule splits). Long.MaxValue when the rollup
   *  covers the whole lake. A LADDER-ONLY config (`rollupLadder` set, no primary
   *  `rollupInterval` — representable since round 14) degrades to the
   *  MINIMUM of all configured rungs' frontiers instead of throwing
   *  (round-15 ADVICE): under one close-gated ingest that is the
   *  coarsest rung's (widest windows close last), and it stays the
   *  genuinely conservative answer even when a crash skewed one rung's
   *  flushes behind the others — a caller treating it as "the" frontier
   *  never over-trusts any store. Only a config with NO maintained rung
   *  at all still refuses: there is no store for the frontier to
   *  describe. */
  def rollupFrontier(spark: SparkSession, cfg: Config): Long = {
    val rungs = cfg.rollupInterval.fold(cfg.rollupRungs)(Seq(_))
    if (rungs.isEmpty) throw new IllegalArgumentException(
      "no maintained rollup rung configured (rollupInterval and rollupLadder both empty)")
    val conf = spark.sessionState.newHadoopConf()
    val lakeSegs = segments(conf, pointsPath(cfg))
    rungs.map(iv => frontier(iv, lakeSegs, segments(conf, rungPath(cfg, iv)))).min
  }

  /** One rung's flush frontier: the earliest lake window the rung has
   *  not flushed (a coarser rung's frontier naturally lags the fine
   *  rung's — its windows close later). */
  def rungFrontier(spark: SparkSession, cfg: Config, interval: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    frontier(interval, segments(conf, pointsPath(cfg)), segments(conf, rungPath(cfg, interval)))
  }

  /** The earliest [[unflushed]] window, Long.MaxValue when none is. */
  private def frontier(interval: String, lakeSegs: Seq[Long], rolled: Seq[Long]): Long =
    unflushed(interval, lakeSegs, rolled).minOption.getOrElse(Long.MaxValue)

  /** The rung ledger: the [[rungWindowSeconds]]-aligned windows of the
   *  lake segments `lakeSegs` that have no partition among `rolled` (the
   *  rung store's windows) — what the close gate, [[finalizeRollup]] and
   *  the frontiers all read. */
  private def unflushed(interval: String, lakeSegs: Seq[Long], rolled: Seq[Long]): Seq[Long] = {
    val w = rungWindowSeconds(interval)
    val have = rolled.toSet
    lakeSegs.map(s => s - Math.floorMod(s, w)).distinct.filterNot(have)
  }

  /** The `segment_start` partitions of a segment-partitioned store. */
  private def segments(conf: Configuration, dir: String): Seq[Long] =
    Fs.partitions(conf, dir, "segment_start").map(_._2.toLong)

  /** R5: drop whole expired segment partitions (cheap file-level delete,
   *  no data rewrite) from the points lake and every maintained rung.
   *
   *  A coarse rung window STRADDLING the cutoff (e.g. 23 h of a 1d
   *  window still inside retention under a mid-day cutoff) is dropped
   *  whole — the rung frontier retreats so queries stay correct, but
   *  that range serves raw until the window is re-flushed, and on a
   *  quiesced lake nothing re-flushes it. Callers with a SparkSession
   *  should prefer [[purgeAndRepair]] (what [[Maintenance.run]] calls),
   *  which rebuilds the straddling window from the surviving segments
   *  in the same pass; callers without one should align cutoffs to rung
   *  window boundaries, where no straddle exists. */
  def purge(cfg: Config, cutoffSec: Long): Seq[Long] = {
    val conf = Fs.hadoopConf()
    def dropBefore(dir: String): Seq[Long] =
      Fs.dropPartitions(conf, dir, "segment_start")(_.toLong < cutoffSec).map(_.toLong).sorted
    // lakes written by configs that no longer list a rung still purge
    // the historical primary path
    (if (cfg.rollupRungs.isEmpty) Seq(rollupPath(cfg)) else cfg.rollupRungs.map(rungPath(cfg, _)))
      .foreach(dropBefore)
    dropBefore(pointsPath(cfg))
  }

  /** [[purge]] plus store repair (round-15 ADVICE): after the file-level
   *  drops, each rung whose window straddles the cutoff — and has
   *  already CLOSED under the ingest's gate — is re-flushed from the
   *  SURVIVING lake segments, so the still-in-retention part of the
   *  window serves from the store again instead of raw-until-
   *  someone-re-flushes (never, on a quiesced/finalized lake). The
   *  rebuild is exact w.r.t. the post-purge lake: raw below the
   *  effective cutoff is gone everywhere, so a composite over the
   *  surviving points agrees bucket-for-bucket with what the raw path
   *  now computes — the same truth a query sees either way. Windows at
   *  or above the cutoff are untouched (the close gate owns them). */
  def purgeAndRepair(spark: SparkSession, cfg: Config, cutoffSec: Long): Seq[Long] = {
    val dropped = purge(cfg, cutoffSec)
    val conf = spark.sessionState.newHadoopConf()
    val segs = segments(conf, pointsPath(cfg))
    // Only a CLOSED straddling window may be re-flushed: repairing a
    // still-open window would hand it a partition the ingest's close
    // gate never refreshes (the missing-partition trigger sees one, and
    // the touched trigger fires on closed windows only), so points
    // ingested after the repair would be invisible in the store forever
    // while rungFrontier reports the window flushed. The anchor mirrors
    // the close gate's (cfg.nowSec); offline, the max surviving segment
    // start is a safe UNDER-estimate of the event-time high-water mark —
    // a too-small anchor merely skips the repair, and the dropped window
    // self-heals through the unflushed trigger once it truly closes (a
    // live lake) or stays correctly served raw (a quiesced one).
    val anchor = cfg.nowSec.map(_()).orElse(segs.maxOption).getOrElse(Long.MinValue)
    cfg.rollupRungs.foreach { iv =>
      val w = rungWindowSeconds(iv)
      val ws = cutoffSec - Math.floorMod(cutoffSec, w)
      // subtraction/bound forms instead of `ws + w`: they cannot
      // overflow for a drop-everything cutoff near Long.MaxValue
      val closed = ws <= Long.MaxValue - w - cfg.rollupLatenessSec &&
        ws + w + cfg.rollupLatenessSec <= anchor
      val survivors = ws < cutoffSec && segs.exists(s => s >= ws && s - ws < w)
      if (closed && survivors) flushRung(spark, cfg, iv, Seq(ws))
    }
    dropped
  }

  /** R6: compact the series/latest logs to one row per series.
   *  `idleCutoffSec` adds the R5 second half, idle-series deletion:
   *  series whose last admitted point precedes the cutoff leave both logs
   *  (the reference's PurgeJob deleting idle series and their meta docs,
   *  core/.../core/TimeSeriesShard.java:446-645,552-569); a purged series
   *  that writes again is simply re-created by its new log rows
   *  (first_seen restarts), the reference's behavior for a
   *  deleted-then-reappearing series.
   *
   *  Race-safe against a concurrently-running ingest
   *  ([[graft.core.Fs.rewritePlanned]]): the snapshot is computed over
   *  exactly the log files listed at plan time, staged, moved in, and
   *  only those planned files are deleted — a batch appending between
   *  plan and swap keeps its rows, and the log FOLD (min/max / LWW over
   *  snapshot + newer rows) remains correct by construction. */
  def compact(spark: SparkSession, cfg: Config, idleCutoffSec: Option[Long] = None): Unit =
    logCompactions(spark, cfg, idleCutoffSec).foreach(_._2())

  /** [[compact]] as its two independent rewrites, named by store
   *  ("series_log", "latest_log"): they touch disjoint paths, so
   *  [[Maintenance.run]] runs them side by side. Each plans its files
   *  when it runs. */
  private[streaming] def logCompactions(spark: SparkSession, cfg: Config,
      idleCutoffSec: Option[Long]): Seq[(String, () => Unit)] = {
    def rewrite(dir: String)(fold: DataFrame => DataFrame): () => Unit = () =>
      Fs.rewritePlanned(spark, dir, Fs.dataFileStatuses(spark.sessionState.newHadoopConf(), dir),
        None)((log, staging) => fold(log).write.mode("overwrite").parquet(staging))
    def active(lastCol: String)(folded: DataFrame): DataFrame =
      idleCutoffSec.fold(folded)(cut => folded.filter(col(lastCol) >= cut))
    Seq(
      "series_log" -> rewrite(seriesLogPath(cfg))(log => active("last_seen")(foldSeriesLog(log))
        .select("series_id", "metric", "tags", "first_seen", "last_seen")),
      "latest_log" -> rewrite(latestLogPath(cfg))(log => active("last_ts")(foldLatestLog(log))
        .select("series_id", "metric", "tags", "last_ts", "last_value", "last_seq")))
  }

  /** R6: consolidate the lake's per-micro-batch small files — rewrite
   *  oversized segment partitions down to ceil(bytes / targetFileBytes)
   *  files each. One Spark job covers every selected segment (salted
   *  repartition keyed by segment so each segment lands in its target
   *  number of tasks), written to a staging root and swapped in per file.
   *
   *  Race-safe against a live ingest ([[graft.core.Fs.rewritePlanned]]):
   *  the rewrite reads EXACTLY the data files listed at plan time — from
   *  their listed statuses, with the declared [[TsdbSchema.points]], so
   *  the read starts no listing or schema-inference job — and the
   *  swap moves the staged files in and deletes only those planned files
   *  — a micro-batch appending to the segment between plan and swap
   *  keeps its files and its rows appear exactly once. (The previous
   *  whole-directory replace could silently delete such an append.)
   *  A closed segment needs this exactly once; pass `segments` to bound
   *  the work to recently-closed windows on a real deployment. Partitions
   *  already at or under the target file count are left untouched.
   *  Returns the segments rewritten. */
  def compactPoints(spark: SparkSession, cfg: Config,
      targetFileBytes: Long = 128L << 20, segments: Option[Seq[Long]] = None): Seq[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val plan = for {
      (partDir, seg) <- Fs.partitions(conf, pointsPath(cfg), "segment_start")
        .map { case (p, v) => p -> v.toLong }
      if segments.forall(_.contains(seg))
      files = Fs.dataFileStatuses(conf, partDir.toString)
      target = math.max(1L, math.ceil(files.map(_.getLen).sum.toDouble / targetFileBytes).toLong).toInt
      if files.length > target
    } yield (seg, target, files)
    if (plan.isEmpty) return Nil
    val targets = spark.createDataFrame(plan.map { case (s, n, _) => (s, n) })
      .toDF("segment_start", "__nf")
    Fs.rewritePlanned(spark, pointsPath(cfg), plan.flatMap(_._3),
        Some(TsdbSchema.points)) { (planned, staging) =>
      planned
        .join(broadcast(targets), Seq("segment_start"))
        .withColumn("__salt", pmod(hash(col("series_id")), col("__nf")))
        .repartition(col("segment_start"), col("__salt"))
        .drop("__nf", "__salt")
        .write.mode("overwrite").partitionBy("segment_start").parquet(staging)
    }
    plan.map(_._1).sorted
  }
}
