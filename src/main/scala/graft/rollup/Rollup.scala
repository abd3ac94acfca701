package graft.rollup

import graft.core.Intervals
import graft.query.{DownsampleSpec, QueryEngine}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Ingest-time rollups (A10) and rollup-aware query routing (A14).
 *
 * Build side mirrors the reference's ingest-time DownSampler composite —
 * one pass computing avg/sum/count/min/max/last/sumofsquare per interval
 * (core/.../core/downsample/DownSampler.java:32-56, AggregatorType.java,
 * SumOfSquareAggregator.java) — as a single multi-aggregate groupBy.
 * The streaming ingest maintains the rollup table with this build:
 * [[graft.streaming.IngestJob.flushRung]] recomputes each touched
 * segment window and overwrites its partition (exact under cross-batch
 * duplicate timestamps, where merging per-batch partials would
 * double-count a re-sent point).
 *
 * Read side mirrors the reference's rollup decision
 * (opentsdb/.../storage/AerospikeBatchQueryNode.java:196-226): a
 * downsample query is served from the rollup iff the aggregator is one of
 * the stored set AND the query interval is an exact multiple of the
 * rollup interval. Missing buckets contribute nothing, which reproduces
 * the count-fills-zero rule
 * (GorillaDownSampledTimeSeriesEncoder.java:155-158) observably: a
 * count over absent rollup rows is simply not incremented.
 *
 * Scale: the rollup table is ~|series| × (range/interval) rows — for 1h
 * rollups over 24h, ~1/3600th of a 1 Hz fact table. Queries that route
 * here scan orders of magnitude less data, and the second-stage
 * aggregate reuses the same (series_id) partitioning.
 */
object Rollup {

  /** Aggregators the rollup stores (reference AggregatorType vocabulary;
   *  avg is served as sum/count, per the reference's rewrite; dev is
   *  served from (sum, count, sumofsquare) — the reason the reference's
   *  composite carries sumofsquare at all,
   *  core/downsample/AggregatorType.java:101,
   *  SumOfSquareAggregator.java:24). */
  val StoredAggs: Set[String] =
    Set("sum", "zimsum", "count", "min", "mimmin", "max", "mimmax", "last", "avg",
      "dev")

  /** One-pass composite rollup of deduped raw points. The interval must
   *  come from the reference's storable-interval whitelist
   *  (core/downsample/Interval.java:25-36). */
  def build(points: DataFrame, interval: String): DataFrame = {
    require(Intervals.isRollupInterval(interval),
      s"not a storable rollup interval: $interval (allowed: ${Intervals.RollupVocabulary.toSeq.sorted.mkString(",")})")
    val iv = Intervals.toSeconds(interval)
    val deduped = QueryEngine.dedupeConfigured(points)
    val v = when(isnan(col("value")), lit(null)).otherwise(col("value"))
    deduped
      .withColumn("__v", v)
      .withColumn("__tj", graft.core.TagsJson.key(col("tags"))) // grouping key: HashAggregate-friendly
      .groupBy(col("series_id"), col("metric"), col("__tj"),
        (col("ts") - col("ts") % lit(iv)).as("bucket_ts"))
      .agg(
        sum(col("__v")).as("sum"),
        count(col("__v")).as("cnt"),
        min(col("__v")).as("min"),
        max(col("__v")).as("max"),
        // last by (ts, seq): last-arrival-wins like the raw path
        max_by(col("__v"), when(col("__v").isNotNull, struct(col("ts"), col("seq")))).as("last"),
        sum(col("__v") * col("__v")).as("sumsq"))
      .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))
      .drop("__tj")
  }

  /** The reference's serve-from-rollup test: stored agg + exact interval
   *  divisibility (AerospikeBatchQueryNode.java:212-225). */
  def canServe(spec: DownsampleSpec, rollupInterval: String): Boolean = {
    val rSec = Intervals.toSeconds(rollupInterval)
    !spec.runAll && spec.interval != "0all" &&
      spec.reportingInterval.isEmpty && !spec.infectiousNan &&
      // timezone'd specs route through the range-aware [[canServeTz]]
      // (serving needs every zone offset and transition in range on a
      // rollup boundary — not knowable from the spec alone)
      spec.timezone.isEmpty &&
      StoredAggs.contains(spec.agg) &&
      // calendar intervals route through the range-aware
      // [[canServeCalendar]] (boundary alignment isn't knowable from
      // the spec alone) — and toSeconds would throw on them
      !Intervals.isCalendar(spec.interval) &&
      Intervals.toSeconds(spec.interval) % rSec == 0
  }

  /** Range-aware serving test for TIMEZONE-aligned downsamples: legal
   *  when the spec is otherwise servable AND, over [start, end), every
   *  zone offset is a multiple of the rollup interval (whole hours vs a
   *  1h rollup — Denver −7h/−6h yes, Kolkata +5:30 no; +5:30 against a
   *  30m rollup yes) AND every DST transition instant lands on a rollup
   *  boundary. Together these guarantee each stored composite row lies
   *  wholly inside one local query bucket on one offset segment, so the
   *  serve-side zone bucketing ([[serve]]) reproduces the raw path's
   *  per-point bucketing exactly. Query start/end must also sit on
   *  rollup boundaries, so partial edge buckets clip identically on
   *  both paths. */
  def canServeTz(spec: DownsampleSpec, rollupInterval: String,
      start: Long, end: Long): Boolean = {
    val rSec = Intervals.toSeconds(rollupInterval)
    spec.timezone.isDefined &&
      canServe(spec.copy(timezone = None), rollupInterval) &&
      start % rSec == 0 && end % rSec == 0 && {
        val segs = Intervals.zoneOffsets(spec.timezone.get, start, end)
        segs.forall { case (_, off) => Math.floorMod(off.toLong, rSec) == 0L } &&
          segs.tail.forall { case (t, _) => t % rSec == 0 }
      }
  }

  /** Range-aware serving test for CALENDAR intervals (months/years):
   *  legal when the spec is otherwise servable AND every calendar
   *  boundary in range lands on a rollup-row boundary (plus aligned
   *  query edges) — then no stored row straddles two calendar buckets,
   *  so labeling rollup rows by their own bucket_ts equals point-level
   *  labeling exactly. Month starts are local midnights, so against a
   *  1h rollup this is the whole-hour-offset test in calendar clothing
   *  (Denver serves; Kolkata +5:30 needs the 30m rollup) — but testing
   *  the enumerated boundaries directly also covers sub-interval DST
   *  quirks for free. Unlike [[canServeTz]], transitions INSIDE a
   *  bucket need no alignment: both paths floor to the same boundary
   *  list, and no boundary moves. */
  def canServeCalendar(spec: DownsampleSpec, rollupInterval: String,
      start: Long, end: Long): Boolean = {
    val rSec = Intervals.toSeconds(rollupInterval)
    Intervals.isCalendar(spec.interval) &&
      !spec.runAll && spec.reportingInterval.isEmpty && !spec.infectiousNan &&
      StoredAggs.contains(spec.agg) &&
      start % rSec == 0 && end % rSec == 0 &&
      Intervals.calendarBoundaries(spec.interval,
        spec.timezone.getOrElse("UTC"), start, end)
        .forall(b => Math.floorMod(b, rSec) == 0L)
  }

  /** Stored-SAMPLE companion to the composite rollup: the deterministic
   *  1/`mod` systematic hash sample of the deduped raw points, kept at
   *  raw-value granularity with a rollup-aligned bucket column for
   *  pruning. Moments serve sum/avg/dev but CANNOT serve order
   *  statistics; this table is the percentile bridge — ~1/mod of the
   *  raw lake, and because membership is a pure function of the row
   *  (md5prefix28(ts) ≡ 0 mod `mod`, the ingest-admission sampler), a
   *  percentile served from it is IDENTICAL to running the same
   *  sampled-percentile aggregator over raw points: the routing is
   *  lossless BY CONSTRUCTION, not approximately. */
  def buildSample(points: DataFrame, interval: String, mod: Int): DataFrame = {
    require(Intervals.isRollupInterval(interval),
      s"not a storable rollup interval: $interval")
    require(mod >= 1, "mod must be >= 1")
    val iv = Intervals.toSeconds(interval)
    QueryEngine.dedupeConfigured(points)
      .filter(pmod(call_function("md5prefix28", col("ts").cast("string")),
        lit(mod)) === 0)
      .select(col("series_id"), col("metric"), col("tags"),
        (col("ts") - col("ts") % lit(iv)).as("bucket_ts"), col("ts"), col("value"))
  }

  /** Percentile at query time from the rollup pair (composite + stored
   *  sample): the composite provides bucket PRESENCE (every (series,
   *  query-bucket) the raw downsample would emit — including all-NaN
   *  buckets, whose percentile is NULL), the sample provides the order
   *  statistic. Sub-interval samples concatenate, so any
   *  divisibility-legal query interval serves. */
  def servePercentileSampled(rollup: DataFrame, sample: DataFrame,
      interval: String, q: Double, start: Long, end: Long): DataFrame = {
    val iv = Intervals.toSeconds(interval)
    val presence = rollup
      .filter(col("bucket_ts") >= lit(start) && col("bucket_ts") < lit(end))
      .withColumn("__tj", graft.core.TagsJson.key(col("tags")))
      .groupBy(col("series_id"), col("metric"), col("__tj"),
        (col("bucket_ts") - col("bucket_ts") % lit(iv)).as("__bucket"))
      .agg(count(lit(1)).as("__n"))
    val cleaned = when(isnan(col("value")), lit(null)).otherwise(col("value"))
    val quantiles = sample
      .filter(col("ts") >= lit(start) && col("ts") < lit(end))
      .groupBy(col("series_id"), (col("ts") - col("ts") % lit(iv)).as("__bucket"))
      .agg(percentile(cleaned, lit(q)).as("__p"))
    presence
      .join(quantiles, Seq("series_id", "__bucket"), "left")
      .select(col("series_id"), col("metric"),
        graft.core.TagsJson.decode(col("__tj")).as("tags"),
        col("__bucket").as("bucket_ts"), col("__p").as("value"))
  }

  /** Second-stage aggregation: rollup rows → query buckets. With a
   *  timezone'd spec (legal only under [[canServeTz]]), the query
   *  bucket is the SAME zone expression the raw path uses, applied to
   *  the rollup row's bucket_ts — legality guarantees every rollup row
   *  lies wholly inside one local bucket and on one offset segment, so
   *  row-start labeling equals point-level labeling. */
  def serve(rollup: DataFrame, spec: DownsampleSpec, start: Long, end: Long): DataFrame = {
    val bucket = (if (Intervals.isCalendar(spec.interval))
      // legal only under [[canServeCalendar]]: every boundary on a
      // rollup-row edge, so row-start labeling == point-level labeling
      graft.query.QueryEngine.calendarBucket(col("bucket_ts"), spec.interval,
        spec.timezone.getOrElse("UTC"), start, end)
    else {
      val iv = Intervals.toSeconds(spec.interval)
      spec.timezone match {
        case Some(zone) =>
          graft.query.QueryEngine.tzBucket(col("bucket_ts"), zone, iv, start, end)
        case None => col("bucket_ts") - col("bucket_ts") % lit(iv)
      }
    }).as("__bucket")
    val agg: Column = spec.agg match {
      case "sum" | "zimsum" => sum(col("sum"))
      case "count" => sum(col("cnt")).cast("double")
      case "min" | "mimmin" => min(col("min"))
      case "max" | "mimmax" => max(col("max"))
      case "avg" => sum(col("sum")) / sum(col("cnt"))
      case "last" => max_by(col("last"), when(col("last").isNotNull, col("bucket_ts")))
      case "dev" =>
        // sample stddev from the stored moments: the sub-interval sums,
        // counts, and sums-of-squares ADD across rollup rows, so dev
        // serves at any divisible query interval without the raw values.
        // greatest(0, ·) clamps the tiny negative variance FP can
        // produce when all values are equal (sqrt would return NaN).
        val n = sum(col("cnt"))
        val s = sum(col("sum"))
        val sq = sum(col("sumsq"))
        when(n > 1,
          sqrt(greatest(lit(0.0), (sq - s * s / n) / (n - lit(1)).cast("double"))))
          .otherwise(lit(null).cast("double"))
      case other => throw new IllegalArgumentException(s"not a stored agg: $other")
    }
    // requires start aligned to the query interval (the reference only
    // routes aligned queries — divisibility check above)
    rollup
      .filter(col("bucket_ts") >= lit(start) && col("bucket_ts") < lit(end))
      .withColumn("__tj", graft.core.TagsJson.key(col("tags")))
      .groupBy(col("series_id"), col("metric"), col("__tj"), bucket)
      .agg(agg.as("value"))
      .select(col("series_id"), col("metric"),
        graft.core.TagsJson.decode(col("__tj")).as("tags"),
        col("__bucket").as("bucket_ts"), col("value"))
  }

  /** The routing decision (A14): serve from the rollup when legal, else
   *  fall back to the raw downsample path. The rollup is assumed complete
   *  over [start, end) — for an ingest-maintained rollup with an open
   *  tail, use [[downsampleHybrid]]. */
  def downsampleRouted(points: DataFrame, rollup: DataFrame, rollupInterval: String,
      spec: DownsampleSpec, start: Long, end: Long): DataFrame =
    downsampleHybrid(points, rollup, rollupInterval, spec, start, end, Long.MaxValue)

  /** Hybrid rollup∪raw routing: closed segments (rollup complete below
   *  `rollupUntil`, the ingest's flush frontier —
   *  [[graft.streaming.IngestJob.rollupFrontier]]) are served from the
   *  rollup table; the open tail is served from raw points — the
   *  reference's LTS-rollup + hot-raw split
   *  (opentsdb/.../storage/AerospikeBatchQueryNode.java:196-226 rollup
   *  decision vs the hot AuraMetricsQueryNode path). Without this, any
   *  query touching the open segment (every "last 24 h" dashboard)
   *  forfeits the rollup for ALL closed segments.
   *
   *  The split lands on a query-bucket boundary at or below the frontier:
   *  a bucket straddling the frontier reads entirely from raw (its closed
   *  segments included), so no per-aggregator partial-merge logic is
   *  needed — sum/min/max/last all stay exact by construction. The raw
   *  side carries a foldable segment_start conjunct, so it scans only the
   *  tail partitions, never the whole lake. */
  def downsampleHybrid(points: DataFrame, rollup: DataFrame, rollupInterval: String,
      spec: DownsampleSpec, start: Long, end: Long, rollupUntil: Long): DataFrame = {
    def raw(from: Long): DataFrame = {
      val seg = from - Math.floorMod(from, graft.core.TsdbSchema.SegmentSeconds)
      val pts = points
        .filter(col("segment_start") >= lit(seg)) // partition pruning
        .filter(col("ts") >= lit(from) && col("ts") < lit(end))
      QueryEngine.downsample(QueryEngine.dedupeConfigured(pts), spec, from, end)
    }
    servedFrontier(spec, rollupInterval, start, end, rollupUntil) match {
      case None => raw(start)
      case Some(f) if f >= end => serve(rollup, spec, start, end)
      case Some(f) => serve(rollup, spec, start, f).unionByName(raw(f))
    }
  }

  /** The head boundary a hybrid serve would use for one rung:
   *  `Some(end)` — the rung serves [start, end) outright; `Some(f)` with
   *  start < f < end — hybrid split at f (closed buckets from the store,
   *  the tail raw); `None` — the rung cannot serve a nonempty head and
   *  the query runs fully raw. Factored out of [[downsampleHybrid]] so
   *  the ladder dispatch ([[downsampleLadder]]) picks a rung with the
   *  EXACT predicate the serve then uses. */
  def servedFrontier(spec: DownsampleSpec, rollupInterval: String,
      start: Long, end: Long, rollupUntil: Long): Option[Long] = {
    // A CALENDAR downsample splits on a calendar boundary — labels are
    // absolute (the civil calendar), so the raw tail's labels agree with
    // the served head's without any alignment bookkeeping. The sub-range
    // boundary set is a subset of the full range's, so the sub-range
    // legality check succeeds exactly when the full-range one would.
    if (Intervals.isCalendar(spec.interval)) {
      val zone = spec.timezone.getOrElse("UTC")
      if (rollupUntil >= end) {
        if (canServeCalendar(spec, rollupInterval, start, end)) Some(end) else None
      } else {
        val clamped = math.min(math.max(rollupUntil, start), end)
        val frontier = Intervals
          .calendarBoundaries(spec.interval, zone, start, end)
          .takeWhile(_ <= clamped).lastOption.getOrElse(start)
        if (frontier > start && canServeCalendar(spec, rollupInterval, start, frontier))
          Some(frontier)
        else None
      }
    } else if (spec.timezone.isDefined) {
      // A timezone'd downsample splits on a tz bucket LABEL — the only
      // epoch instants where neither side bisects a local bucket (labels
      // are non-uniform: 23/25h DST days). The frontier is the largest
      // label at or below the flush boundary; [start, frontier) must
      // itself pass the offset/transition test (canServeTz — on a legal
      // zone/rollup pair every label is rollup-aligned, so the sub-range
      // check succeeds exactly when the full-range one would), and the
      // straddling local bucket reads entirely from raw, the same
      // no-partial-merge discipline as the epoch split below.
      val qSec = Intervals.toSeconds(spec.interval)
      if (rollupUntil >= end) {
        if (canServeTz(spec, rollupInterval, start, end)) Some(end) else None
      } else {
        val clamped = math.min(math.max(rollupUntil, start), end)
        val frontier = Intervals
          .tzGridLabels(spec.timezone.get, qSec, start, end)
          .takeWhile(_ <= clamped).lastOption.getOrElse(start)
        if (frontier > start && canServeTz(spec, rollupInterval, start, frontier))
          Some(frontier)
        else None
      }
    } else {
      // An interval-unaligned start cannot be served from the rollup at
      // all: the epoch-aligned first rollup bucket would mix pre-start
      // points into the partial first query bucket (the raw path clips by
      // ts range; a stored composite cannot be clipped). The reference
      // only routes aligned queries — enforce that here, not by comment.
      val qSec = Intervals.toSeconds(spec.interval)
      if (!canServe(spec, rollupInterval) || Math.floorMod(start, qSec) != 0L) None
      else {
        val clamped = math.min(math.max(rollupUntil, start), end)
        // floor to an EPOCH-aligned query bucket (≡ start-relative now
        // that start is aligned): serve() and downsample() both bucket by
        // `ts - ts % qSec`, so any other split would double-emit the
        // straddling bucket
        val frontier = clamped - Math.floorMod(clamped, qSec)
        if (frontier <= start) None else Some(frontier)
      }
    }
  }

  /** Rollup-LADDER routing for the engine path (A14 × ladder): serve the
   *  downsample from the rung whose served head reaches FURTHEST —
   *  fully, or hybrid-split at its own flush frontier — tie-breaking
   *  COARSER (fewer store rows); raw only when no rung serves at all.
   *  The frontier rank (round 15) matters when rungs are maintained
   *  independently (an hourly 1h job beside a nightly 1d job): a
   *  fully-flushed finer rung then beats a lagging coarser one instead
   *  of the dashboard re-scanning the coarse rung's open tail raw. On a
   *  single close-gated ingest the day-floored frontiers coincide and
   *  the tie-break preserves the coarsest-rung choice. The reference's
   *  LTS stores multiple downsampled aggregation streams per segment and
   *  dispatches per interval id
   *  (GorillaDownSampledTimeSeriesEncoder.java:85-120,138-180); this is
   *  the same dispatch [[graft.plans.RollupRouting.registerLadder]]
   *  gives SQL, for programmatic callers. `rungs` is (store, interval,
   *  frontier) per rung — [[graft.streaming.IngestJob.rollupLadder]] for
   *  a live lake.
   *
   *  Scale: a daily dashboard over a 1h+1d ladder reads the 1d store —
   *  24× fewer rows than re-aggregating the 1h rung, ~86400× fewer than
   *  the raw fact table. */
  def downsampleLadder(points: DataFrame, rungs: Seq[(DataFrame, String, Long)],
      spec: DownsampleSpec, start: Long, end: Long): DataFrame = {
    require(rungs.nonEmpty, "rollup ladder needs at least one rung")
    val sorted = rungs.sortBy { case (_, iv, _) => -Intervals.toSeconds(iv) }
    // Rung choice (round-15 ADVICE): pick the rung whose served head
    // reaches FURTHEST, not the first coarsest with any nonempty head —
    // a coarse rung's close-gated frontier always lags a finer one's
    // (wider windows close later), so coarsest-first served day 1 of a
    // 2-day dashboard from the 1d rung and scanned the ENTIRE open day
    // raw while a fully-flushed 1h rung could serve both days from its
    // store. Tie-break coarser (fewer store rows to re-aggregate):
    // candidates iterate coarsest-first and maxBy keeps the first of
    // equal maxima.
    val served = sorted.flatMap { case r @ (_, iv, until) =>
      servedFrontier(spec, iv, start, end, until).map(f => (r, f))
    }
    if (served.isEmpty) {
      // no rung serves: a frontier at `start` makes the hybrid run the
      // raw path (ts-filtered, segment-pruned, deduped) unchanged
      val (store, iv, _) = sorted.head
      downsampleHybrid(points, store, iv, spec, start, end, start)
    } else {
      val ((store, iv, until), _) = served.maxBy(_._2)
      downsampleHybrid(points, store, iv, spec, start, end, until)
    }
  }

  /** Ladder routing for the JSON front end: a parsed [[TsdbQuery]] whose
   *  shape is the filtered downsample, optionally under a spatial
   *  group-by — the shapes the reference's rollup decision applies to
   *  (AerospikeBatchQueryNode.java:196-226; the group-by node consumes
   *  the source output, AerospikeQueryNode.java:139-146) — serves the
   *  downsample through [[downsampleLadder]] and applies the group-by
   *  over the served frame, exactly where [[QueryEngine.run]] applies
   *  it. The query's series predicate applies to the STORES too
   *  (composite rows carry metric + tags), so rung scans stay pruned;
   *  any other shape (rate, shift, fill, analytics) falls back to the
   *  raw engine path unchanged. */
  def runQueryLadder(points: DataFrame, rungs: Seq[(DataFrame, String, Long)],
      q: graft.query.TsdbQuery): DataFrame = {
    val plain = q.downsample.isDefined && q.rate.isEmpty &&
      q.timeDifference.isEmpty && q.shift.isEmpty && q.fill.isEmpty &&
      q.slidingWindow.isEmpty && q.movingAverage.isEmpty &&
      q.anomaly.isEmpty && q.ratio.isEmpty && q.topN.isEmpty &&
      q.summarizer.isEmpty && q.bucketQuantile.isEmpty
    if (!plain) QueryEngine.run(points, q)
    else {
      val spec0 = q.downsample.get
      // the same one-point "auto" resolution QueryEngine.run performs
      val spec = if (spec0.interval == "auto")
        spec0.copy(interval = Intervals.autoInterval(q.end - q.start)) else spec0
      val pred = graft.filters.SeriesFilter.compile(q.filter, col("metric"), col("tags"))
      val explicitPred =
        if (q.explicitTags)
          graft.filters.SeriesFilter.explicitTagsPredicate(q.filter, col("tags"))
        else lit(true)
      val keep = pred && explicitPred
      val ds = downsampleLadder(points.filter(keep),
        rungs.map { case (df, iv, u) => (df.filter(keep), iv, u) },
        spec, q.start, q.end)
      q.groupBy.map(g => QueryEngine.groupBySpatial(ds, g)).getOrElse(ds)
    }
  }
}
