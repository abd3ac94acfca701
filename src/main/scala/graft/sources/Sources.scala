package graft.sources

import graft.streaming.IngestJob
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The source-factory surface (P3) — the Spark counterpart of the
 * reference's `TimeSeriesDataSourceFactory` plugins
 * (AuraMetricsSourceFactory.java:61-128, AerospikeBatchSourceFactory,
 * EventsSourceFactory): a named provider of the points fact table and
 * its series dimension. The engine (QueryEngine / MetaQueries / Rollup)
 * is source-agnostic — every implementation yields the same schema, so
 * hot (streamed lake), cold (partitioned lake), and raw-table sources
 * interchange under one query plan.
 */
trait PointsSource {
  def name: String
  def points(spark: SparkSession): DataFrame
  def seriesDim(spark: SparkSession): DataFrame = TsdbViews.seriesDim(points(spark))
}

/** The driver's raw events table mapped on the fly (test/backfill path). */
final class EventsTableSource(dir: String) extends PointsSource {
  def name = s"events:$dir"
  def points(spark: SparkSession): DataFrame = TsdbViews.points(spark, dir)
}

/** The partitioned parquet lake (cold / long-term path, S8). */
final class LakeSource(lakeDir: String) extends PointsSource {
  def name = s"lake:$lakeDir"
  def points(spark: SparkSession): DataFrame = graft.lake.Lake.points(spark, lakeDir)
}

/** A lake maintained by the streaming ingest job (hot path), with the
 *  log-maintained series dimension instead of a derived one. */
final class StreamedLakeSource(cfg: IngestJob.Config) extends PointsSource {
  def name = s"stream:${cfg.lakeDir}"
  def points(spark: SparkSession): DataFrame = IngestJob.points(spark, cfg)
  override def seriesDim(spark: SparkSession): DataFrame = IngestJob.seriesDim(spark, cfg)
}

/** Scheme-keyed factory registry (`events:<dir>`, `lake:<dir>`…). */
object Sources {
  type Factory = String => PointsSource
  private val factories = scala.collection.concurrent.TrieMap[String, Factory](
    "events" -> (dir => new EventsTableSource(dir)),
    "lake" -> (dir => new LakeSource(dir)),
    "stream" -> (dir => new StreamedLakeSource(IngestJob.Config(dir, s"$dir/ckpt"))))

  def register(scheme: String, f: Factory): Unit = factories.put(scheme, f): Unit

  def resolve(uri: String): PointsSource = uri.split(":", 2) match {
    case Array(_, "") => throw new IllegalArgumentException(s"empty source location: $uri")
    case Array(scheme, rest) if factories.contains(scheme) => factories(scheme)(rest)
    case _ => throw new IllegalArgumentException(s"no source factory for: $uri")
  }
}
