package graft.streaming

import org.apache.spark.sql.{Column, SparkSession}

/**
 * The scheduled maintenance pass a deployment runs beside (or between)
 * ingest triggers — ONE call composing every already-specced primitive,
 * returning a report of what ran. Reference analog: the flusher's
 * segment consolidation plus the shard's purge job, which run in the
 * background beside the ingest path (core/.../core/TSFlusherImp.java:168-430;
 * core/.../core/TimeSeriesShard.java:446-645).
 *
 * The pass is one [[IngestJob.runFlushes]] barrier over independent
 * chains, each writing its own store's paths, so they run side by side
 * on the flush pool:
 *  - `points`: the retention purge of expired segment partitions —
 *    file-level drop, no rewrite — plus re-flush of any rung window
 *    straddling the cutoff from the surviving segments
 *    ([[IngestJob.purgeAndRepair]]), THEN points-file consolidation of
 *    the surviving oversized segments ([[IngestJob.compactPoints]]).
 *    This is the one order constraint left: consolidation must not plan
 *    files the purge is deleting, and the rung repair reads the
 *    segments consolidation swaps;
 *  - `series_log` and `latest_log`: each log compacted to one row per
 *    series, removing idle series when a cutoff is given
 *    ([[IngestJob.compact]]);
 *  - `cms` and one chain per [[IngestJob.DdsConfig]] (its name): the
 *    maintained-sketch folds ([[StoreCompaction.foldSketches]]), with
 *    optional per-store retention applied DURING the fold
 *    (`sketchRetain`, e.g. a day-keyed cutoff predicate for a daily
 *    grain — the key encoding is the caller's contract, so the
 *    predicate is too).
 * A failing chain fails the pass only after every sibling settled, with
 * the chain named (`maintenance chain 'latest_log' failed`); a rerun
 * redoes only what is still undone, since every primitive is idempotent.
 *
 * Every chain is independently race-safe against a live ingest (the
 * planned-files swap discipline — see each primitive's scaladoc), so
 * the composition is as well. A reader overlapping a sketch fold's swap
 * still reads exact counts ([[StoreCompaction.read]] reads only the
 * live set, which the snapshot's name defines); the one remaining
 * exposure is filesystem-level: a reader that listed a file the instant
 * before a swap deleted it fails its scan, a retryable read error,
 * never a wrong answer.
 */
object Maintenance {

  /** What a pass did: segments dropped by retention, segments whose
   *  point files were consolidated, the sketch stores folded (store
   *  name — "cms" or the DdsConfig name — in config order), and each
   *  chain's wall milliseconds, keyed by chain name in submission order
   *  (`points`, `series_log`, `latest_log`, then the sketch stores). */
  final case class Report(
      purgedSegments: Seq[Long],
      compactedSegments: Seq[Long],
      sketchStoresFolded: Seq[String],
      chainMs: Map[String, Long])

  def run(spark: SparkSession, cfg: IngestJob.Config,
      retentionCutoffSec: Option[Long] = None,
      idleCutoffSec: Option[Long] = None,
      targetFileBytes: Long = 128L << 20,
      sketchRetain: Map[String, Column] = Map.empty): Report = {
    val ms = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def chain(name: String)(body: => Unit): (String, () => Unit) =
      name -> IngestJob.inSession(spark) {
        val t0 = System.nanoTime()
        try body finally ms.put(name, (System.nanoTime() - t0) / 1000000L)
      }
    var purged, compacted: Seq[Long] = Nil
    val folds = StoreCompaction.sketchFolds(spark, cfg, sketchRetain)
    val folded = Array.fill(folds.size)(false)
    val chains =
      chain("points") {
        purged = retentionCutoffSec.map(IngestJob.purgeAndRepair(spark, cfg, _)).getOrElse(Nil)
        compacted = IngestJob.compactPoints(spark, cfg, targetFileBytes)
      } +:
        (IngestJob.logCompactions(spark, cfg, idleCutoffSec).map { case (name, rewrite) =>
          chain(name)(rewrite())
        } ++ folds.zipWithIndex.map { case ((name, fold), i) =>
          chain(name)(folded(i) = fold())
        })
    IngestJob.runFlushes(chains, what = "maintenance chain")
    Report(purged, compacted, folds.zip(folded).collect { case ((name, _), true) => name },
      scala.collection.immutable.ListMap.from(chains.map { case (name, _) => name -> ms.get(name) }))
  }
}
