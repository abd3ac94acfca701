package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}

/**
 * The scheduled maintenance pass a deployment runs beside (or between)
 * ingest triggers — ONE call composing every already-specced primitive
 * in an order where no later pass resurrects what an earlier one
 * removed, returning a report of what ran. Reference analog: the
 * flusher's segment consolidation plus the shard's purge job
 * (core/.../core/TSFlusherImp.java:168-430;
 * core/.../core/TimeSeriesShard.java:446-645).
 *
 *  1. retention purge of expired segment partitions — file-level drop,
 *     no rewrite — plus re-flush of any rung window straddling the
 *     cutoff from the surviving segments ([[IngestJob.purgeAndRepair]]);
 *  2. series/latest log compaction to one row per series, removing idle
 *     series when a cutoff is given ([[IngestJob.compact]]);
 *  3. points-file consolidation of surviving oversized segments
 *     ([[IngestJob.compactPoints]]);
 *  4. maintained-sketch folds — the count-min cell store and every
 *     configured DDSketch grain ([[StoreCompaction.foldSketches]]),
 *     with optional per-store retention applied DURING the fold
 *     (`sketchRetain`, e.g. a day-keyed cutoff predicate for a daily
 *     grain — the key encoding is the caller's contract, so the
 *     predicate is too).
 *
 * Every sub-pass is independently race-safe against a live ingest (the
 * planned-files swap discipline — see each primitive's scaladoc), so
 * the composition is as well. A reader overlapping a sketch fold's swap
 * still reads exact counts ([[StoreCompaction.read]] excludes the
 * folded sources); the one remaining exposure is filesystem-level: a
 * reader that listed a file the instant before a swap deleted it fails
 * its scan, a retryable read error, never a wrong answer.
 */
object Maintenance {

  /** What a pass did: segments dropped by retention, segments whose
   *  point files were consolidated, and the sketch stores folded
   *  (store name — "cms" or the DdsConfig name). */
  final case class Report(
      purgedSegments: Seq[Long],
      compactedSegments: Seq[Long],
      sketchStoresFolded: Seq[String])

  def run(spark: SparkSession, cfg: IngestJob.Config,
      retentionCutoffSec: Option[Long] = None,
      idleCutoffSec: Option[Long] = None,
      targetFileBytes: Long = 128L << 20,
      sketchRetain: Map[String, Column] = Map.empty): Report = {
    val purged = retentionCutoffSec.map(IngestJob.purgeAndRepair(spark, cfg, _)).getOrElse(Nil)
    IngestJob.compact(spark, cfg, idleCutoffSec)
    val compacted = IngestJob.compactPoints(spark, cfg, targetFileBytes)
    Report(purged, compacted, StoreCompaction.foldSketches(spark, cfg, sketchRetain))
  }
}
