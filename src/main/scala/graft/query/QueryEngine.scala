package graft.query

import graft.core.Intervals
import graft.filters.SeriesFilter
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Compiles a [[TsdbQuery]] into one declarative DataFrame plan over a
 * `points` DataFrame (schema [[graft.core.TsdbSchema.points]]).
 *
 * Stage order mirrors the reference's fused iterator
 * (AuraMetricsNumericArrayIterator.next(Aggregator), reference :285-670):
 *
 *   scan+filter → dedupe (last-write-wins) → rate → downsample → group-by
 *
 * but instead of hand-fusing, each stage is a Catalyst operator and
 * whole-stage codegen fuses them. Filters/projections push into the
 * parquet scan; the downsample and group-by become partial+final hash
 * aggregates (the reference's per-job accumulate + merge,
 * AerospikeBatchQueryNode.java:393-420, falls out of Spark's
 * HashAggregateExec); the shuffle on `series_id` plays the role of shard
 * routing (BaseStorage.java:126-131).
 *
 * Scale notes (100 TB design):
 *  - The only wide dependencies are (a) the window for dedupe/rate, keyed
 *    by series_id, and (b) the downsample aggregate, keyed by
 *    (series_id, bucket). Both partition by series_id, so one Exchange is
 *    reused across stages; series_id is high-cardinality and uniform
 *    (XXH64), so no skew.
 *  - When the query has no rate and the input is already deduped at
 *    ingest, the plan is a scan → partial agg → final agg with no window.
 */
object QueryEngine {

  /** NaN-skipping view of value: the reference's aggregation loop skips
   *  NaN cells unless infectious-NaN is on (reference :465-486). */
  private def cleanValue(v: Column): Column = when(isnan(v), lit(null)).otherwise(v)

  /** Last-write-wins dedupe of duplicate (series, ts) points — query-side
   *  equivalent of the reference's `values[ts % len] = value` overwrite
   *  (readAndDedupe, AuraMetricsNumericArrayIterator.java:721-746); the
   *  arrival order is the explicit `seq` column.
   *
   *  Shape matters at scale: partitioning by `series_id` (not
   *  `(series_id, ts)`) and sorting `(ts asc, seq desc)` keeps the first
   *  row of every timestamp run — the max-seq write — while producing
   *  exactly the distribution and ordering the rate window needs, so a
   *  dedupe→rate pipeline runs on ONE exchange + sort instead of two. */
  def dedupe(points: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("series_id")).orderBy(col("ts").asc, col("seq").desc)
    points
      .withColumn("__prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("__prev_ts").isNull || col("__prev_ts") =!= col("ts"))
      .drop("__prev_ts")
  }

  /** LWW dedupe as ONE hash aggregate — the sort-free alternative to
   *  [[dedupe]]'s window: max_by(value, seq) per (series identity, ts),
   *  with the input pre-partitioned on series_id ALONE so (a) the
   *  aggregate's required clustering is satisfied by a sort-free
   *  exchange and (b) the downstream downsample keeps reusing the same
   *  series-keyed distribution with zero further exchanges. Winners are
   *  bit-identical to [[dedupe]] (max seq per timestamp).
   *
   *  MEASURED A/B (p_ds_sum_hashdedup vs q_ds_sum, 100M events,
   *  isolated, BENCH_SCALE4.json): this path removes the window's reduce-stage
   *  sort entirely — 12.9 GB memory / 1.05 GB disk spill → ZERO — and
   *  writes 31% less shuffle (2.30 vs 3.35 GB; the JSON tag string is
   *  more compact than the map encoding), but costs +75% reduce-stage
   *  CPU (309 → 539 task-sec: near-unique (series, ts) keys give the
   *  hash map no combining to do, and the tags pay a to_json/from_json
   *  round-trip the window path defers to the downsample). Wall on the
   *  32-thread probe host: 48.9 → 55.1 s, so the WINDOW stays the
   *  default here; on a memory-constrained cluster where the sort
   *  would spill per-executor, the spill-free trade goes the other
   *  way — that is what this alternative is for. Reachable through the
   *  full pipeline via `spark.graft.dedupe.strategy=hashagg`
   *  ([[dedupeConfigured]]). */
  def dedupeAgg(points: DataFrame): DataFrame = {
    val cols = points.columns
    // all aggregation BUFFERS primitive (max_by(double,long), max(long))
    // — a struct- or map-valued buffer is immutable to HashAggregate and
    // silently demotes the whole stage to SortAggregate + Sort, which is
    // the very sort this path exists to remove. The series identity
    // rides the GROUPING key (tags as JSON string, the downsample
    // discipline); segment_start is constant within a (series, ts) group
    // so max() reconstructs it exactly.
    points
      .withColumn("__tj", graft.core.TagsJson.key(col("tags")))
      .repartition(col("series_id"))
      .groupBy(col("series_id"), col("metric"), col("__tj"), col("ts"))
      .agg(max_by(col("value"), col("seq")).as("value"),
        max(col("seq")).as("seq"),
        max(col("segment_start")).as("segment_start"))
      .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))
      .select(cols.map(col): _*)
  }

  /** The LWW dedupe stage by configured strategy —
   *  `spark.graft.dedupe.strategy` = `window` (default) | `hashagg`.
   *  Winners are bit-identical either way; the trade is measured
   *  (100M-event interleaved same-JVM A/B, BENCH_SCALE4 notes): the
   *  window sorts inside the series exchange (12.9 GB memory + 1.05 GB
   *  disk spill at 100M; wall 48.9 s on the 32-thread probe host),
   *  [[dedupeAgg]] is spill-FREE and writes 31% less shuffle but pays
   *  +75% reduce-stage CPU (55.1 s there). `window` stays the default
   *  for CPU-bound hosts; set `hashagg` on memory-constrained executors
   *  where the per-executor sort would spill. */
  def dedupeConfigured(points: DataFrame): DataFrame =
    points.sparkSession.conf.get("spark.graft.dedupe.strategy", "window") match {
      case "window" => dedupe(points)
      case "hashagg" => dedupeAgg(points)
      case other => throw new IllegalArgumentException(
        s"spark.graft.dedupe.strategy must be window|hashagg, got: $other")
    }

  /** The temporal aggregator by name, resolved through the
   *  [[Aggregators]] registry (reference alias table :159-177 + the
   *  NumericAggregatorFactory plugin lookup :183-195). */
  private def temporalAgg(agg: String, v: Column, ts: Column, intervalSec: Long,
      reportingIntervalSec: Option[Long]): Column =
    Aggregators.resolve(agg)(v, ts, intervalSec, reportingIntervalSec)

  /** The spatial (cross-series) aggregator (reference NumericArrayAggregator
   *  family: sum/zimsum/avg/count/min/max). */
  private def spatialAgg(agg: String, v: Column): Column = agg match {
    case "sum" | "zimsum" => sum(v)
    case "avg" => avg(v)
    case "count" => count(v).cast("double")
    case "min" | "mimmin" => min(v)
    case "max" | "mimmax" => max(v)
    // "last" resolves in the registry but is temporal-by-definition —
    // cross-series there is no time order to be last IN; fail the
    // config instead of returning an arbitrary series' value
    case "last" => throw new IllegalArgumentException(
      "group-by agg 'last' is temporal-only (no cross-series order)")
    // the plugin family (median / pNN / runtime-registered customs):
    // the same registry the temporal side resolves from (P1) — the
    // upstream GroupByFactory also looks its aggregator up by name, so
    // "p95 across hosts" works wherever "sum" does. Spatial use passes
    // no time axis (percentiles and friends never read it).
    case other if Aggregators.isRegistered(other) =>
      Aggregators.resolve(other)(v, lit(0L), 0L, None)
    case other => throw new IllegalArgumentException(s"unknown group-by agg: $other")
  }

  /** Rate stage (reference :432-463). Emits `value` replaced by the rate;
   *  the first point of each series has no predecessor and is dropped
   *  (the reference emits NaN there, which its downsample then skips —
   *  dropping is the same observable result post-aggregation). */
  def rate(points: DataFrame, spec: RateSpec): DataFrame = {
    val w = Window.partitionBy(col("series_id")).orderBy(col("ts"))
    val intervalSec = Intervals.toSeconds(spec.interval).toDouble
    val prevV = lag(col("value"), 1).over(w)
    val prevTs = lag(col("ts"), 1).over(w)
    val dtUnits = (col("ts") - prevTs).cast("double") / lit(intervalSec)

    val rateCol: Column =
      if (spec.deltaOnly) {
        col("value") - prevV
      } else if (spec.rateToCount) {
        // v * min(Δt/interval, dataInterval); dataInterval = per-series mode
        // of timestamp deltas (reference :364-387, 405-420)
        col("value") * least(dtUnits, col("__mode_dt").cast("double") / lit(intervalSec))
      } else if (spec.counter) {
        val raw = (col("value") - prevV) / dtUnits
        val rollover = (lit(spec.counterMax) - prevV + col("value")) / dtUnits
        val onDecrease =
          if (spec.dropResets) lit(null).cast("double") else rollover
        val r = when(col("value") < prevV, onDecrease).otherwise(raw)
        if (spec.resetValue > 0) when(r > lit(spec.resetValue), lit(0.0)).otherwise(r) else r
      } else {
        (col("value") - prevV) / dtUnits
      }

    val base =
      if (spec.rateToCount) points.join(modeOfDeltas(points), Seq("series_id"), "left")
      else points
    base
      .withColumn("__prev_ts", prevTs)
      .withColumn("value", rateCol)
      .filter(col("__prev_ts").isNotNull && col("value").isNotNull)
      .drop("__prev_ts", "__mode_dt")
  }

  /** Time-difference stage (the upstream TSDB 3.x TimeDifference
   *  processor, same slot family as [[rate]]): each point's value
   *  becomes the time since its series' previous point in the spec's
   *  unit; the first point of each series has no predecessor and is
   *  dropped (the upstream node emits null there — same observable
   *  result post-aggregation). Deltas are integer seconds divided by
   *  one literal, so values replay bit-identically cross-engine. */
  def timeDifference(points: DataFrame, spec: TimeDifferenceSpec): DataFrame = {
    val w = Window.partitionBy(col("series_id")).orderBy(col("ts"))
    points
      .withColumn("__prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("__prev_ts").isNotNull)
      .withColumn("value",
        (col("ts") - col("__prev_ts")).cast("double") / lit(spec.unitSeconds.toDouble))
      .drop("__prev_ts")
  }

  /** Per-series mode of timestamp deltas — the reference's auto-detected
   *  "data interval" for rate-to-count (reference :364-420). Ties break to
   *  the smallest delta for determinism. */
  def modeOfDeltas(points: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("series_id")).orderBy(col("ts"))
    val deltas = points
      .withColumn("__dt", col("ts") - lag(col("ts"), 1).over(w))
      .filter(col("__dt").isNotNull)
      .groupBy(col("series_id"), col("__dt"))
      .agg(count(lit(1)).as("__n"))
    val pick = Window.partitionBy(col("series_id"))
      .orderBy(col("__n").desc, col("__dt").asc)
    deltas
      .withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(col("series_id"), col("__dt").as("__mode_dt"))
  }

  /** Downsample stage: per-series temporal aggregation into aligned
   *  interval buckets (bucket = ts - ts % interval, the reference's
   *  `segmentTime`-style floor, TimeseriesStorageContext.java:75-77). */
  /** Timezone calendar-aligned bucket label for `tsCol`: flooring
   *  happens on the LOCAL clock (ts + per-row offset), so a 23/25-hour
   *  DST day stays ONE bucket; the label converts the local bucket back
   *  to epoch with the offset in effect AT THE BUCKET'S LOCAL START —
   *  using each row's own offset instead would split a transition day
   *  into two epoch labels. Both offsets are literal CASEs over the
   *  zone's DST segments in [start, end), resolved once on the driver
   *  (Intervals.zoneOffsets): pure per-row arithmetic on executors, no
   *  tz lookup in the hot path. Later transitions wrap earlier ones, so
   *  the outermost matching `when` is the latest segment; an ambiguous
   *  fall-back local midnight resolves to the post-transition offset
   *  (the second wall-clock occurrence). Shared by the raw downsample
   *  and the rollup serve path, so both bucket identically. */
  /** UTC offset of `zone` in effect at the epoch instant `tsCol` — the
   *  per-row offset fold of [[tzBucket]], exposed for consumers that must
   *  reconstruct the LOCAL clock from an epoch value. In particular, a
   *  tz bucket LABEL is the epoch instant of its own local start, so
   *  `label + tzOffsetAt(label)` recovers the local bucket start exactly
   *  (incl. the ambiguous fall-back bucket, whose label resolves to the
   *  post-transition offset by construction). Literal CASE chain, same
   *  driver-resolved segments as the bucketing itself. */
  def tzOffsetAt(tsCol: Column, zone: String, start: Long, end: Long): Column = {
    val segs = Intervals.zoneOffsets(zone, start, end)
    segs.tail.foldLeft(lit(segs.head._2): Column) {
      case (acc, (t, o)) => when(tsCol >= lit(t), lit(o)).otherwise(acc)
    }
  }

  /** CALENDAR bucket label for `tsCol`: the greatest enumerated calendar
   *  boundary at or below the row's epoch — months ("<k>n") and years
   *  ("<k>y") have no fixed second length, so the boundaries come from
   *  [[Intervals.calendarBoundaries]] (civil calendar of `zone`,
   *  epoch-anchored multiples) resolved ONCE on the driver and compiled
   *  to a literal CASE chain, the same posture as [[tzBucket]]: pure
   *  per-row integer compares on executors, no calendar lookup in the
   *  hot path. Branch count is O(range months / step) — a property of
   *  the query RANGE, never of fact size (a 10-year monthly query is
   *  120 branches; codegen handles that comfortably). DST transitions
   *  need no per-segment handling here: any transition inside a bucket
   *  is strictly interior (boundaries are the local midnights
   *  themselves), so the boundary list already IS the label set. */
  def calendarBucket(tsCol: Column, interval: String, zone: String,
      start: Long, end: Long): Column = {
    val bs = Intervals.calendarBoundaries(interval, zone, start, end)
    bs.tail.foldLeft(lit(bs.head): Column) {
      case (acc, b) => when(tsCol >= lit(b), lit(b)).otherwise(acc)
    }
  }

  def tzBucket(tsCol: Column, zone: String, iv: Long, start: Long, end: Long): Column = {
    val segs = Intervals.zoneOffsets(zone, start, end)
    val local = tsCol + tzOffsetAt(tsCol, zone, start, end)
    // pmod, not %: the LOCAL clock goes negative for epoch-adjacent ts
    // in west-of-UTC zones (ts < |offset|), where sign-following `%`
    // would label the point into a FUTURE bucket and disagree with the
    // true-floor grid tzGridLabels enumerates; pmod == % for every
    // positive local, so post-1970 labels are unchanged
    val localBucket = local - pmod(local, lit(iv))
    val labelOff = segs.tail.foldLeft(lit(segs.head._2): Column) {
      case (acc, (t, o)) =>
        when(localBucket >= lit(t + o), lit(o)).otherwise(acc)
    }
    localBucket - labelOff
  }

  def downsample(points: DataFrame, spec: DownsampleSpec, start: Long, end: Long): DataFrame = {
    // "0all" is the whole-range marker (reference :199-202) whether or not
    // the caller also set runAll — without this, `ts - ts % -1` would
    // silently produce per-point buckets.
    val runAll = spec.runAll || spec.interval == "0all"
    val calendar = !runAll && Intervals.isCalendar(spec.interval)
    // calendar buckets (months/years) have no fixed second length, so
    // the reporting average's expected-dps-per-interval divisor is
    // undefined — reject instead of dividing by an arbitrary constant
    require(!calendar || spec.reportingInterval.isEmpty,
      "reporting average needs a fixed-length interval; calendar buckets " +
        s"(${spec.interval}) vary in length")
    val bucket: Column =
      if (runAll) lit(start)
      else if (calendar)
        calendarBucket(col("ts"), spec.interval,
          spec.timezone.getOrElse("UTC"), start, end)
      else {
        val iv = Intervals.toSeconds(spec.interval)
        spec.timezone match {
          case None => col("ts") - (col("ts") % lit(iv))
          case Some(zone) => tzBucket(col("ts"), zone, iv, start, end)
        }
      }
    // calendar buckets pass 0 — no registered aggregator consumes
    // intervalSec (the one builtin consumer, reporting avg, is rejected
    // above), and a future interval-dependent plugin dividing by it
    // surfaces as ±Infinity rather than a plausible wrong number
    val intervalSec =
      if (runAll) end - start
      else if (calendar) 0L
      else Intervals.toSeconds(spec.interval)
    val repSec = spec.reportingInterval.map(Intervals.toSeconds)

    val prepared = points
      .withColumn("__bucket", bucket)
      .withColumn("__v", cleanValue(col("value")))
      // tags ride the aggregate as a JSON-string GROUPING KEY: map-typed
      // (or even string-typed first()) agg buffers force SortAggregate —
      // an extra full sort of the fact rows — while string group keys
      // keep the whole stage a HashAggregate. The key is functionally
      // determined by series_id, so grouping is unchanged.
      .withColumn("__tj", graft.core.TagsJson.key(col("tags")))

    val aggCol = temporalAgg(spec.agg, col("__v"), col("ts"), intervalSec, repSec).as("__agg")
    val grouped = prepared
      .groupBy(col("series_id"), col("metric"), col("__tj"), col("__bucket"))
      .agg(
        aggCol,
        max(isnan(col("value"))).as("__has_nan"))

    val valueCol =
      if (spec.infectiousNan)
        when(col("__has_nan"), lit(Double.NaN)).otherwise(col("__agg"))
      else col("__agg")

    grouped.select(
      col("series_id"), col("metric"),
      graft.core.TagsJson.decode(col("__tj")).as("tags"),
      col("__bucket").as("bucket_ts"),
      valueCol.as("value"))
  }

  /** Multi-aggregator downsample: one pass, several temporal aggregates as
   *  named columns (the reference's ingest-time DownSampler computes its
   *  avg/sum/count/min/max/sumofsquare chain in one pass the same way,
   *  core/downsample/DownSampler.java:32-56). */
  def downsampleMulti(points: DataFrame, interval: String, start: Long, end: Long,
      aggs: Seq[(String, String)], runAll: Boolean = false): DataFrame = {
    val all = runAll || interval == "0all"
    val bucket: Column =
      if (all) lit(start)
      else {
        val iv = Intervals.toSeconds(interval)
        col("ts") - (col("ts") % lit(iv))
      }
    val intervalSec = if (all) end - start else Intervals.toSeconds(interval)
    val prepared = points
      .withColumn("__bucket", bucket)
      .withColumn("__v", cleanValue(col("value")))
      .withColumn("__tj", graft.core.TagsJson.key(col("tags"))) // grouping key: see downsample
    val aggCols = aggs.map { case (name, agg) =>
      temporalAgg(agg, col("__v"), col("ts"), intervalSec, None).as(name)
    }
    prepared
      .groupBy(col("series_id"), col("metric"), col("__tj"), col("__bucket"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))
      .drop("__tj")
      .withColumnRenamed("__bucket", "bucket_ts")
  }

  /** Dense interval grid per series with the reference's FillPolicy
   *  vocabulary for absent buckets (NumericFillPolicy: NAN the default,
   *  NULL, ZERO, SCALAR — AuraMetricsNumericArrayIterator.java:583-657):
   *  each series present in the downsample output expands to the full
   *  generated bucket sequence of the query range (one aggregate pass —
   *  see the in-body note), and the fill is a per-row projection on the
   *  absent cells. The generated grid is O(|series| × buckets) —
   *  aggregated scale, never the fact table. Precondition: `ds` has one
   *  row per (series_id, bucket_ts) — the downsample contract (a
   *  duplicate key fails fast in the map build).
   *
   *  `realFill` is the second, independent fill axis the reference's
   *  query node configures alongside the constant policy
   *  (FillWithRealPolicy — both set together on the interpolator config,
   *  aura EphemeralAuraFactory.java:227-228): a missing bucket is filled
   *  with the nearest REAL value of the same series —
   *  `previous` / `next` (that side only), `prefer_previous` /
   *  `prefer_next` (try one side, fall back to the other) — or linearly
   *  interpolated between both neighbours (`lerp`, the upstream LERP
   *  interpolator). Buckets with no real value on the required side(s)
   *  fall back to the constant `fill` policy. Neighbour lookup is a
   *  window PER SERIES over the bucket grid (|buckets| rows each,
   *  partition-parallel — never a global sort), so the plan scales with
   *  series count exactly like the grid itself. */
  def denseFill(ds: DataFrame, interval: String, start: Long, end: Long,
      fill: String = "nan", fillScalar: Double = 0.0,
      realFill: Option[String] = None,
      timezone: Option[String] = None): DataFrame = {
    require(interval != "0all", "dense fill needs a finite interval")
    // the one-pass grid build keys a map by (bucket_ts) per series and
    // DEPENDS on the session's EXCEPTION dedup policy to fail fast on a
    // duplicate key (the downsample contract); under LAST_WIN a
    // duplicate would silently keep an arbitrary value instead
    require(ds.sparkSession.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
      .equalsIgnoreCase("EXCEPTION"),
      "denseFill requires spark.sql.mapKeyDedupPolicy=EXCEPTION " +
        "(the duplicate-bucket fail-fast contract)")
    val filler: Column = fill match {
      case "nan" => lit(Double.NaN)
      case "null" => lit(null).cast("double")
      case "zero" => lit(0.0)
      case "scalar" => lit(fillScalar)
      case other => throw new IllegalArgumentException(s"unknown fill policy: $other")
    }
    // ONE pass over ds builds the whole grid: per series, the present
    // buckets collapse into a bounded map (≤ |buckets| entries — the
    // same cardinality the dense output materializes anyway), and the
    // full bucket sequence expands from that SAME aggregate row via a
    // transform + explode, each output row carrying only its own
    // (bucket_ts, value). The former shape — distinct-series list
    // joined back to the values side — evaluated the entire upstream
    // (dedupe window + downsample aggregate) TWICE: at the 100M-event
    // probe point that was 2× the reduce-stage task-time and 2× its
    // ~13 GB sort spill (BENCH_SCALE4.json), for identical output.
    // The JSON string as the grouping key keeps this a HashAggregate
    // (maps can't be grouping keys).
    // with a timezone the grid is NOT an epoch arithmetic sequence: DST
    // days are 23/25 local hours, so the label set is enumerated once on
    // the driver from the same zone segments tzBucket compiles against
    // (Intervals.tzGridLabels) and ships as one literal array —
    // O(|buckets|) driver work and literal size, independent of fact
    // scale, exactly like the epoch `sequence` it replaces
    // a CALENDAR interval's grid is the driver-enumerated boundary list
    // itself (months/years have no fixed length — same label set the
    // calendarBucket CASE emits, zone-aware by construction)
    val seq0 =
      if (Intervals.isCalendar(interval))
        typedLit(Intervals.calendarBoundaries(interval,
          timezone.getOrElse("UTC"), start, end))
      else {
        val iv = Intervals.toSeconds(interval)
        timezone match {
          case None => sequence(lit(start - start % iv), lit(end - 1), lit(iv))
          case Some(zone) => typedLit(Intervals.tzGridLabels(zone, iv, start, end))
        }
      }
    val grid = ds
      .groupBy(col("series_id"), col("metric"), graft.core.TagsJson.key(col("tags")).as("__tj"))
      .agg(map_from_entries(collect_list(struct(col("bucket_ts"), col("value"))))
        .as("__m"))
      .select(col("series_id"), col("metric"),
        graft.core.TagsJson.decode(col("__tj")).as("tags"),
        explode(transform(seq0, b =>
          struct(b.as("bucket_ts"), try_element_at(col("__m"), b).as("value"))))
          .as("__g"))
      .select(col("series_id"), col("metric"), col("tags"),
        col("__g").getField("bucket_ts").as("bucket_ts"),
        col("__g").getField("value").as("value"))
    val filled = realFill match {
      case None =>
        grid.withColumn("value",
          when(col("value").isNull, filler).otherwise(col("value")))
      case Some(policy) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("series_id")).orderBy(col("bucket_ts").asc)
        val prevW = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val nextW = w.rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val prevV = last(col("value"), ignoreNulls = true).over(prevW)
        val nextV = first(col("value"), ignoreNulls = true).over(nextW)
        val realTs = when(col("value").isNotNull, col("bucket_ts"))
        val prevTs = last(realTs, ignoreNulls = true).over(prevW)
        val nextTs = first(realTs, ignoreNulls = true).over(nextW)
        val realValue: Column = policy match {
          case "previous" => coalesce(prevV, filler)
          case "next" => coalesce(nextV, filler)
          case "prefer_previous" => coalesce(prevV, nextV, filler)
          case "prefer_next" => coalesce(nextV, prevV, filler)
          case "lerp" =>
            // linear interpolation needs BOTH neighbours; grid edges fall
            // back to the constant policy (the upstream interpolator's
            // fill handles the ends the same way)
            when(prevV.isNotNull && nextV.isNotNull,
              prevV + (nextV - prevV) *
                ((col("bucket_ts") - prevTs).cast("double") /
                  (nextTs - prevTs).cast("double")))
              .otherwise(filler)
          case other =>
            throw new IllegalArgumentException(s"unknown real-fill policy: $other")
        }
        grid.withColumn("value",
          when(col("value").isNotNull, col("value")).otherwise(realValue))
    }
    filled.select("series_id", "metric", "tags", "bucket_ts", "value")
  }

  /** Spatial group-by stage: accumulate each series' downsampled value per
   *  bucket into per-group aggregates (reference A11; empty keys =
   *  group-all, reference A13). */
  def groupBySpatial(ds: DataFrame, spec: GroupBySpec): DataFrame =
    groupBySpatial(ds, spec, keepMetric = false)

  /** As [[groupBySpatial]]; `keepMetric = true` keys the aggregate by the
   *  metric IN ADDITION to the tag keys — the bucket-quantile node's
   *  input contract, where each bucket-counter metric must stay its own
   *  series instead of collapsing into the group. */
  def groupBySpatial(ds: DataFrame, spec: GroupBySpec, keepMetric: Boolean): DataFrame = {
    val tagKeys = spec.keys.map(k => col("tags")(k).as(k))
    val keyCols = if (keepMetric) col("metric") +: tagKeys else tagKeys
    // a series MISSING a group-by tag joins no group — the reference
    // groups through the meta index's tag-value search (gbKeys resolve
    // to tag-value groups, AerospikeQueryNode.java:139-146), so an
    // absent tag means absent from every group, not a null-keyed group
    // of its own. Null-filtering here (instead of emitting Spark's
    // null group) pins that semantic; group-all (empty keys) is the
    // separate A13 path and never reaches this filter.
    val present =
      if (spec.keys.isEmpty) lit(true)
      else spec.keys.map(k => col("tags")(k).isNotNull).reduce(_ && _)
    ds.filter(present)
      .groupBy(keyCols :+ col("bucket_ts"): _*)
      .agg(spatialAgg(spec.agg, col("value")).as("value"))
  }

  /** Full query compilation.
   *
   *  `assumeDeduped = true` skips the last-write-wins window — correct
   *  when the source is already compacted (ingest-side dedupe), which
   *  removes the only sort in a plain downsample plan. Note: dedupe can
   *  NOT be skipped automatically per-aggregator; under last-write-wins
   *  even min/max change when an overwrite replaces a value, so skipping
   *  is a property of the source, not of the aggregate. */
  def run(points: DataFrame, q0: TsdbQuery, assumeDeduped: Boolean = false): DataFrame = {
    // `auto` downsample interval resolves against the query duration
    // HERE — one resolution point shared by the ADT and JSON paths
    // (upstream DownsampleFactory resolves "auto" from its configured
    // duration ladder before the node plans; Intervals.AutoLadder is our
    // documented default table). Everything downstream — fill, rollup
    // divisibility, sliding windows — sees only the resolved interval;
    // Intervals.toSeconds("auto") throws, so an unresolved leak is loud.
    val q = q0.downsample match {
      case Some(d) if d.interval == "auto" =>
        q0.copy(downsample =
          Some(d.copy(interval = Intervals.autoInterval(q0.end - q0.start))))
      case _ => q0
    }
    // rate and timeDifference both rewrite the raw point stream and both
    // drop each series' first point; applying one over the other's
    // output (inter-arrival gaps of rate survivors) has no defined
    // upstream meaning — reject the config instead of silently composing
    require(q.rate.isEmpty || q.timeDifference.isEmpty,
      "a query may specify rate OR timeDifference, not both")
    val shiftSec = q.shift.map(Intervals.toSeconds).getOrElse(0L)
    val pred = SeriesFilter.compile(q.filter, col("metric"), col("tags"))
    val timePred =
      col("ts") >= lit(q.start - shiftSec) && col("ts") < lit(q.end - shiftSec)
    val explicitPred =
      if (q.explicitTags) SeriesFilter.explicitTagsPredicate(q.filter, col("tags"))
      else lit(true)

    var df = points.filter(timePred && pred && explicitPred)
    if (!assumeDeduped) df = dedupeConfigured(df)
    // map shifted timestamps forward so downstream buckets align with the
    // *query* window (reference applies shiftSeconds inside the iterator,
    // AuraMetricsNumericArrayIterator.java:312,423)
    if (shiftSec != 0) df = df.withColumn("ts", col("ts") + lit(shiftSec))
    df = q.rate.map(r => rate(df, r)).getOrElse(df)
    df = q.timeDifference.map(t => timeDifference(df, t)).getOrElse(df)
    df = q.downsample.map(d => downsample(df, d, q.start, q.end)).getOrElse(df)
    q.fill.foreach { f =>
      val iv = q.downsample.map(_.interval).getOrElse(
        throw new IllegalArgumentException("fill requires a downsample interval"))
      // a timezone'd downsample labels buckets at local midnights (23/25h
      // DST days included); denseFill's grid follows by enumerating the
      // SAME zone-segment label set instead of an epoch sequence
      df = denseFill(df, iv, q.start, q.end, f.policy, f.scalar, f.real,
        q.downsample.flatMap(_.timezone))
    }
    df = q.groupBy.map(g =>
      groupBySpatial(df, g, keepMetric = q.bucketQuantile.isDefined)).getOrElse(df)
    // the upstream TSDB 3.x analytic nodes sit above the source output:
    // sliding-window smoothing, then top-n selection. The series identity
    // at this point is the group-by keys when grouping happened, else
    // series_id (a map-typed `tags` can't key a window/aggregate).
    val seriesKeys: Seq[String] = q.groupBy.map(_.keys).getOrElse(Seq("series_id"))
    // every analytic node consumes the aggregated (bucket_ts, value)
    // frame — without a downsample the column doesn't exist and the
    // failure would surface as an obscure unresolved-column error deep
    // in the node; fail the config here instead (mirrors the fill guard)
    val analyticNodes = Seq(
      q.slidingWindow.map(_ => "slidingWindow"), q.movingAverage.map(_ => "movingAverage"),
      q.anomaly.map(_ => "anomaly"), q.ratio.map(_ => "ratio"),
      q.topN.map(_ => "topN"), q.summarizer.map(_ => "summarizer"),
      q.bucketQuantile.map(_ => "bucketQuantile")).flatten
    // bucket-quantile consumes the metric axis and emits a quantile key
    // the other analytic nodes don't know — terminal by construction
    if (q.bucketQuantile.isDefined) {
      require(q.groupBy.isDefined,
        "bucketQuantile requires a groupBy (the counter series' spatial identity)")
      require(analyticNodes == Seq("bucketQuantile"),
        "bucketQuantile is terminal: combine with filter/downsample/groupBy only, " +
          s"not with ${analyticNodes.filterNot(_ == "bucketQuantile").mkString("/")}")
    }
    if (analyticNodes.nonEmpty && !df.columns.contains("bucket_ts"))
      throw new IllegalArgumentException(
        s"${analyticNodes.mkString("/")} require downsampled input: " +
          "add a downsample to the query (no bucket_ts column present)")
    df = q.slidingWindow.map(sw =>
      graft.operators.SeriesAnalytics.sliding(df, seriesKeys.map(col), sw.buckets, sw.agg))
      .getOrElse(df)
    df = q.movingAverage.map(ma =>
      graft.operators.SeriesAnalytics.movingAverage(df, seriesKeys.map(col), ma.samples,
        ma.alpha, ma.exponential))
      .getOrElse(df)
    df = q.anomaly.map { a =>
      // values snap to 4 decimals entering the node so both engines'
      // baselines divide identical doubles (the declared-query discipline)
      val in = df.withColumn("value", round(col("value"), 4))
      a.model match {
        case "zscore" =>
          graft.operators.SeriesAnalytics.zscore(in, seriesKeys.map(col),
            a.resolvedThreshold, a.resolvedMinHistory)
        case model @ ("olympic" | "mad") =>
          require(q.downsample.isDefined,
            s"anomaly model '$model' needs a downsample: the seasonal " +
              "position indexes the downsample's buckets")
          val dspec = q.downsample.get
          // the seasonal position indexes buckets on the clock the
          // buckets were CUT on: epoch buckets by (bucket_ts DIV iv),
          // tz buckets on the LOCAL clock — the label is the epoch
          // instant of its own local start, so label + offset-at-label
          // recovers the local bucket start exactly, and a post-DST
          // hourly bucket keeps its local hour-of-day slot (a raw epoch
          // index would shift every slot by the transition delta);
          // CALENDAR buckets by the boundary's absolute ordinal (month
          // index / step, Intervals.calendarOrdinals — period 12 over
          // "1n" is month-of-year seasonality), compiled to a literal
          // label→slot CASE like the bucketing itself
          val pos =
            if (Intervals.isCalendar(dspec.interval)) {
              val ords = Intervals.calendarOrdinals(dspec.interval,
                dspec.timezone.getOrElse("UTC"), q.start, q.end)
              ords.tail.foldLeft(lit(Math.floorMod(ords.head._2, a.period)): Column) {
                case (acc, (b, o)) =>
                  when(col("bucket_ts") === lit(b),
                    lit(Math.floorMod(o, a.period))).otherwise(acc)
              }
            } else {
              val ivSec = Intervals.toSeconds(dspec.interval)
              dspec.timezone match {
                case None => expr(s"(bucket_ts DIV $ivSec) % ${a.period}")
                case Some(zone) =>
                  val localBucket = col("bucket_ts") +
                    tzOffsetAt(col("bucket_ts"), zone, q.start, q.end).cast("long")
                  // local bucket starts are exact iv-multiples on the local
                  // clock, so the division is exact
                  (localBucket / lit(ivSec)).cast("long") % lit(a.period)
              }
            }
          // `mad` scores against the slot cohort's median/MAD (robust,
          // retrospective); `olympic` against the trimmed mean of the
          // slot's EARLIER occurrences (causal). Both index seasonal
          // slots on the identical clock-aware position above.
          if (model == "mad")
            graft.operators.SeriesAnalytics.robustZscore(in, seriesKeys, pos,
              a.resolvedThreshold)
          else
            graft.operators.SeriesAnalytics.olympic(in, seriesKeys.map(col),
              pos, a.resolvedThreshold, a.resolvedMinHistory)
        case other => throw new IllegalArgumentException(s"unknown anomaly model: $other")
      }
    }.getOrElse(df)
    df = q.ratio.map(r =>
      graft.operators.SeriesAnalytics.ratio(df, r.asPercent))
      .getOrElse(df)
    df = q.topN.map(t =>
      graft.operators.SeriesAnalytics.topN(df, seriesKeys, t.n, t.top, agg = t.agg))
      .getOrElse(df)
    df = q.summarizer.map(sm =>
      graft.operators.SeriesAnalytics.summarize(df, seriesKeys, sm.aggs))
      .getOrElse(df)
    df = q.bucketQuantile.map(bq =>
      graft.operators.SeriesAnalytics.bucketQuantile(df, q.groupBy.get.keys,
        bq.quantiles, cumulative = bq.cumulative))
      .getOrElse(df)
    df
  }

  /** Execute a multi-source expression graph (the upstream TSDB 3.x
   *  semantic query: named subqueries + one arithmetic expression node
   *  over two of them). Each referenced subquery runs through [[run]],
   *  its output value snaps to 4 decimals at the SUBQUERY BOUNDARY (one
   *  rounding point — the engine's cross-engine-replayable-join
   *  discipline), and the expression joins the two aggregated frames on
   *  their common group-by keys + bucket via
   *  [[graft.operators.SeriesAnalytics.binary]] (intersection
   *  semantics; divide drops zero denominators). Both subqueries must
   *  declare the SAME groupBy keys — the expression's join identity.
   *
   *  Plan: two independent aggregation subplans (each ends
   *  |series|×|buckets| rows) meeting in one equi-join — the only new
   *  exchange this node adds is keyed by the group-by keys, at
   *  aggregated scale. */
  def runExpressionGraph(points: DataFrame, g: ExpressionGraph): DataFrame = {
    val ExprRe = """^\s*(\w+)\s*([+\-*/])\s*(\w+)\s*$""".r
    val (lid, opSym, rid) = g.expression match {
      case ExprRe(a, o, b) => (a, o, b)
      case other => throw new IllegalArgumentException(
        s"unsupported expression (want 'id op id' over + - * /): $other")
    }
    val byId = g.queries.toMap
    def side(id: String): (DataFrame, Seq[String]) = {
      val q = byId.getOrElse(id,
        throw new IllegalArgumentException(s"expression references unknown subquery '$id'"))
      val keys = q.groupBy.map(_.keys).getOrElse(
        throw new IllegalArgumentException(s"subquery '$id' needs a groupBy (the join identity)"))
      (run(points, q).withColumn("value", round(col("value"), 4)), keys)
    }
    val (l, lk) = side(lid)
    val (r, rk) = side(rid)
    require(lk == rk, s"subqueries must group by the same keys: $lk vs $rk")
    val op = opSym match {
      case "+" => "add"
      case "-" => "subtract"
      case "*" => "multiply"
      case "/" => "divide"
    }
    graft.operators.SeriesAnalytics.binary(l, r, lk, op)
  }
}
