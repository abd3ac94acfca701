package graft.rollup

import graft.core.Intervals
import graft.query.QueryEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Ingest-time rollups (A10): the stored composites that rollup-aware
 * query routing (A14) serves from.
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
 * The read side — the reference's rollup decision
 * (opentsdb/.../storage/AerospikeBatchQueryNode.java:196-226: a stored
 * aggregator AND a query interval that is an exact multiple of the
 * rollup interval) — is the [[graft.plans.RollupRouting]] optimizer
 * rule, which serves every routed front end from these tables. Missing
 * buckets contribute nothing, which reproduces the count-fills-zero rule
 * (GorillaDownSampledTimeSeriesEncoder.java:155-158) observably: a
 * count over absent rollup rows is simply not incremented.
 *
 * Scale: the rollup table is ~|series| × (range/interval) rows — for 1h
 * rollups over 24h, ~1/3600th of a 1 Hz fact table. Queries that route
 * here scan orders of magnitude less data, and the second-stage
 * aggregate reuses the same (series_id) partitioning.
 */
object Rollup {

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
}
