package graft.sources

import graft.core.SeriesId
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Maps the driver's synthetic tables (TESTDATA.md) onto the TSDB data
 * model, and derives the dimension tables the engine maintains at ingest.
 *
 * The `events` stream table becomes the points fact table:
 *   metric := event_type, tags := {user, host, colo} (host/colo are
 *   deterministic functions of user, giving the tag-key variety the
 *   reference fixtures have: FIXTURES.md §2), ts := epoch seconds,
 *   value := value, seq := event_id (ingest order for last-write-wins).
 */
object TsdbViews {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Epoch seconds from a timestamp-ish column: TIMESTAMP → floor-seconds
   *  cast; LongType (parquet TIMESTAMP(NANOS) read via nanosAsLong) →
   *  exact integer division; TIMESTAMP_NTZ (naive `timestamp[us]` read by
   *  a session without GraftSession's inferTimestampNTZ=false) → cast
   *  through LTZ first (session tz is UTC, so the naive datetime IS the
   *  UTC instant — the direct NTZ→numeric cast is disallowed). */
  def toEpochSeconds(df: DataFrame, colName: String): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema(colName).dataType match {
      case LongType => expr(s"$colName DIV 1000000000")
      case TimestampNTZType => col(colName).cast("timestamp").cast("long")
      case _ => col(colName).cast("long")
    }
  }

  /** The points fact view. Timestamps become epoch **seconds** (the
   *  reference stores epoch-second ints, TimeSeriesShard.java:399).
   *
   *  A subset of series (user_id % 5 == 0) carries a 4th `env` tag so the
   *  explicit-tags check (F9) is discriminating: series tag counts vary. */
  def points(spark: SparkSession, dir: String): DataFrame =
    pointsFromEvents(table(spark, dir, "events"))

  /** The events→points mapping alone — shared by the batch view above and
   *  the streaming ingest job (works on streaming DataFrames too). */
  def pointsFromEvents(ev: DataFrame): DataFrame = {
    val tags = map_filter(
      map(
        lit("user"), col("user_id").cast("string"),
        lit("host"), concat(lit("web"), lpad((col("user_id") % 3).cast("string"), 2, "0")),
        lit("colo"), when(col("user_id") % 2 === 0, lit("den")).otherwise(lit("sjc")),
        lit("env"), when(col("user_id") % 5 === 0, lit("prod"))),
      (_, v) => v.isNotNull)
    ev.select(
        col("event_type").as("metric"),
        tags.as("tags"),
        toEpochSeconds(ev, "ts").as("ts"),
        col("value"),
        col("event_id").as("seq"))
      .withColumn("series_id", SeriesId.seriesId(col("metric"), col("tags")))
      .withColumn("segment_start", SeriesId.segmentStart(col("ts")))
  }

  /** Points view with deterministic NaN injection (every 101st ingest
   *  sequence) — exercises the engine's NaN-skip and infectious-NaN
   *  semantics (reference AuraMetricsNumericArrayIterator.java:465-486),
   *  which the driver's NaN-free tables otherwise never hit. */
  def pointsWithNan(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir).withColumn(
      "value",
      when(col("seq") % 101 === 0, lit(Double.NaN)).otherwise(col("value")))

  /** The series dimension (meta store analog, reference NewDocStore):
   *  one row per distinct series with first/last seen. Derived here for
   *  batch queries; maintained incrementally by the ingest stream
   *  ([[graft.streaming.IngestJob]]). */
  def seriesDim(points: DataFrame): DataFrame =
    points
      .groupBy(col("series_id"), col("metric"),
        // string grouping key keeps this a HashAggregate
        graft.core.TagsJson.key(col("tags")).as("__tj"))
      .agg(
        min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"))
      .withColumn("tags", graft.core.TagsJson.decode(col("__tj")))
      .withColumn("tag_count", size(map_keys(col("tags"))))
      .select("series_id", "metric", "tags", "tag_count", "first_seen", "last_seen")
}
