package graft.lake

import graft.core.TsdbSchema
import graft.filters.SeriesFilter
import graft.sources.TsdbViews
import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The partitioned lake layout (S8 + J1): points materialized
 * `partitionBy("segment_start")` — the 2h-aligned partition is the
 * reference's segment window, so a time-range query prunes whole
 * partitions exactly like `getSegmentTimes` skips segments
 * (core/.../core/LongRunningStorage.java:66-120) — plus the
 * tag-predicate → series_dim → broadcast **left-semi join** scan path,
 * the Spark analog of the reference resolving series against the
 * inverted index *before* touching data
 * (core/.../core/TimeSeriesShard.java:706-716).
 *
 * At 100 TB the semi-join is the difference between evaluating a tag
 * regex on every fact row and evaluating it on the O(|series|) dimension
 * then pruning the fact scan with a broadcast hash of matching ids
 * (which parquet row-group bloom/dictionary filters can also exploit).
 *
 * Reads carry the declared [[TsdbSchema.points]], so `segment_start` is
 * a long partition column whatever the values (partition inference would
 * type epoch seconds below 2^31 as `int`) and no footer is read to infer
 * a schema; [[graft.plans.SegmentPruning]] turns a `ts` range into a
 * partition filter over it.
 *
 * Snapshot contract: [[points]] holds one resolved read per lake dir —
 * the partition listing — and reuses it, with no Spark job, while
 * `points/_SUCCESS` keeps its modification time and the session is the
 * same. That marker is what Spark's committer writes at the end of every
 * [[materialize]], so writers must commit through it; a lake written
 * without the marker is listed again on every read. Like the reference's
 * in-memory segment metadata, this spares an unchanged lake's metadata a
 * trip to storage per query.
 */
object Lake {

  /** A resolved points read and what it was resolved under. */
  private final case class Snapshot(session: SparkSession, stamp: Long, points: DataFrame)

  /** One entry per lake dir; a read under another session replaces it. */
  private val snapshots = new ConcurrentHashMap[String, Snapshot]()

  /** One-time materialization of the fact table into the partitioned
   *  layout. */
  def materialize(spark: SparkSession, sfDir: String, lakeDir: String): Unit =
    TsdbViews.points(spark, sfDir)
      .write.mode("overwrite").partitionBy("segment_start")
      .parquet(s"$lakeDir/points")

  /** The lake's points, reusing the held snapshot while the commit marker
   *  is unchanged. The stamp is taken before the listing, so a snapshot is
   *  never older than its stamp; `compute` makes concurrent first reads of
   *  one dir list once. */
  def points(spark: SparkSession, lakeDir: String): DataFrame = {
    val dir = s"$lakeDir/points"
    commitStamp(spark, dir) match {
      case None =>
        snapshots.remove(lakeDir)
        readPoints(spark, dir)
      case Some(stamp) =>
        snapshots.compute(lakeDir, (_, held) =>
          if (held != null && (held.session eq spark) && held.stamp == stamp) held
          else Snapshot(spark, stamp, readPoints(spark, dir))).points
    }
  }

  /** A segment-partitioned points dir (a lake's, or a streamed ingest's),
   *  read with the declared [[TsdbSchema.points]]. */
  def readPoints(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(TsdbSchema.points).parquet(dir)

  /** Modification time of `dir/_SUCCESS`, if the marker exists. */
  private def commitStamp(spark: SparkSession, dir: String): Option[Long] = {
    val marker = new Path(dir, "_SUCCESS")
    try Some(marker.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(marker).getModificationTime)
    catch { case _: FileNotFoundException => None }
  }

  /** Filter → series_dim → broadcast-semi-join → fact scan. */
  def semiJoinScan(fact: DataFrame, seriesDim: DataFrame, f: SeriesFilter): DataFrame = {
    val matched = seriesDim
      .filter(SeriesFilter.compile(f, col("metric"), col("tags")))
      .select("series_id")
    fact.join(broadcast(matched), Seq("series_id"), "left_semi")
  }
}
