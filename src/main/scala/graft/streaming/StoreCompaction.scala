package graft.streaming

import graft.core.Fs
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Compaction for the batch-partitioned COUNT stores the ingest maintains
 * (count-min cells, DDSketch buckets, drift/PMI token counts): each
 * micro-batch appends one `batch_id=N` partition of partial counts, and
 * every read merges the whole log by summing. At a 1-minute trigger
 * cadence that is ~1,440 partitions/day — the read stays CORRECT forever
 * (counts are sums, merge order is irrelevant) but pays file listing +
 * small-file open cost linear in batch COUNT. This job folds the closed
 * partitions into one snapshot file, the counts-are-sums analog of the
 * points-file consolidation ([[IngestJob.compactPoints]]; reference
 * flush consolidation: core/.../core/TSFlusherImp.java:168-430).
 *
 * Replay safety: Structured Streaming's foreachBatch can re-run only the
 * LAST batch after a crash (committed batches never replay), and the
 * ingest writes each partial via dynamic overwrite of its own batch_id
 * partition. The fold therefore always EXCLUDES the max batch_id
 * partition: a replay of that batch rewrites its partition whether or
 * not a compaction ran in between, and the folded snapshot only ever
 * contains batches that can no longer change.
 *
 * The live-set rule. A summed read does not collapse duplicates, so the
 * snapshot says what it covers: it is one file under `batch_id=-1` named
 * `snapshot-<K>-<uuid>.parquet`, K the highest batch id folded into it
 * (a name without K, as older folds wrote, counts as K = −1). A store's
 * LIVE set is the snapshot with the largest K and the files of every
 * batch partition whose id is greater than K. Every other file is dead,
 * deleted yet or not: folded sources and superseded snapshots. [[read]]
 * reads the live set, and the fold commits through the one
 * planned-files rewrite every store shares
 * ([[graft.core.Fs.rewritePlanned]]), which moves the new snapshot in
 * before it deletes anything. So a reader at any step of a fold — or of
 * a fold that crashed — reads exact counts and never retries; what a
 * crash leaves behind is dead and is deleted at the start of the next
 * fold. The one exposure is filesystem-level: a reader that listed a
 * source the instant before a fold deleted it fails its scan, a
 * retryable read error, never a wrong answer.
 */
object StoreCompaction {

  /** The snapshot partition's batch_id. Real batch ids are non-negative,
   *  so the snapshot can never collide with (or be mistaken for) a
   *  replayable batch; repeated compactions fold the previous snapshot
   *  into the next. */
  val SnapshotBatchId: Long = -1L

  private val SnapshotName = """snapshot-(-?\d+)-.*""".r

  /** The highest batch id a snapshot file covers, from its name. */
  private def covered(f: FileStatus): Long = f.getPath.getName match {
    case SnapshotName(k) => k.toLong
    case _ => -1L
  }

  /** A store's files as listed: the batch partitions' files by id, then
   *  the snapshots. */
  private final case class Listing(batches: Seq[(Long, Seq[FileStatus])],
      snapshots: Seq[FileStatus]) {
    /** The live snapshot: largest K (ties, left by a retention-only
     *  re-fold that covers the same batches, break by name). */
    val snapshot: Option[FileStatus] =
      snapshots.maxByOption(f => (covered(f), f.getPath.getName))
    val k: Long = snapshot.fold(-1L)(covered)
    val liveBatches: Seq[(Long, Seq[FileStatus])] = batches.filter(_._1 > k).sortBy(_._1)
    def live: Seq[FileStatus] = snapshot.toSeq ++ liveBatches.flatMap(_._2)
  }

  // The batch partitions are listed BEFORE the snapshot partition: a fold
  // moves its snapshot in before it deletes anything, so a reader that
  // still saw the old snapshot listed every source that snapshot needs.
  private def list(conf: Configuration, dir: String): Listing = {
    val batches = Fs.partitions(conf, dir, "batch_id").map { case (p, id) => id.toLong -> p }
      .filter(_._1 >= 0).map { case (id, p) => id -> Fs.dataFileStatuses(conf, p.toString) }
    Listing(batches, Fs.dataFileStatuses(conf, s"$dir/batch_id=$SnapshotBatchId"))
  }

  /** Drop the batch partitions a snapshot covering batches up to `k`
   *  made dead. Frees space only; no read depends on it. */
  private def dropCovered(conf: Configuration, dir: String, k: Long): Unit =
    Fs.dropPartitions(conf, dir, "batch_id") { id => id.toLong >= 0 && id.toLong <= k }: Unit

  /** Fold every closed live batch partition of `dir` (all but the max
   *  batch id — see the replay-safety note above) plus the live snapshot
   *  into one new snapshot, using `fold` (the store's merge: cell-wise /
   *  key-wise count sum). Returns true if a fold happened; with fewer
   *  than `minFolded` closed partitions (the snapshot counts as one) the
   *  store is left untouched (a pure fold of one partition gains nothing
   *  — but a RETAINING fold does, so [[compactRetained]] passes
   *  minFolded = 1). Either way it first deletes the dead files a
   *  crashed fold left behind. */
  def compactBatchStore(spark: SparkSession, dir: String,
      fold: DataFrame => DataFrame, minFolded: Int = 2): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val l = list(conf, dir)
    Fs.deleteFiles(conf, l.snapshots.filterNot(l.snapshot.contains).map(_.getPath))
    dropCovered(conf, dir, l.k)
    val closed = l.liveBatches.dropRight(1)
    if (l.snapshot.size + closed.size < minFolded) return false
    // plan exactly the listed files: a batch partition appended between
    // plan and swap is never read, never deleted (the compactPoints
    // discipline)
    val planned = l.snapshot.toSeq ++ closed.flatMap(_._2)
    if (planned.isEmpty) return false
    val k = closed.lastOption.fold(l.k)(_._1)
    Fs.rewritePlanned(spark, dir, planned, None) { (frame, staging) =>
      // ONE snapshot file, named for the batches it covers; the relation
      // is summary-sized by construction
      val snapDir = s"$staging/batch_id=$SnapshotBatchId"
      fold(frame.drop("batch_id")).coalesce(1).write.mode("overwrite").parquet(snapDir)
      val staged = Fs.dataFiles(conf, snapDir) match {
        case Seq(one) => one
        case other => throw new java.io.IOException(
          s"expected one staged snapshot file, found ${other.size} under $snapDir")
      }
      val named = new Path(snapDir, s"snapshot-$k-${java.util.UUID.randomUUID}.parquet")
      if (!staged.getFileSystem(conf).rename(staged, named))
        throw new java.io.IOException(s"rename $staged -> $named failed")
    }
    dropCovered(conf, dir, k)
    true
  }

  /** The merged-read input of a batch-partitioned count store — what the
   *  engine's maintained-store readers
   *  ([[IngestJob.cmsCells]]/[[IngestJob.ddsBuckets]]) go through: the
   *  store's live set (see the object scaladoc), read from the statuses
   *  it listed ([[graft.core.Fs.readPlanned]], `basePath = dir`), so
   *  building the frame starts no Spark job. Never mutates the store. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val live = list(spark.sessionState.newHadoopConf(), dir).live
    if (live.isEmpty) throw new java.io.FileNotFoundException(s"count store $dir has no data files")
    Fs.readPlanned(spark, live, basePath = Some(dir))
  }

  /** Fold + RETENTION in one maintenance pass: compact the closed batch
   *  partitions, dropping rows that fail `retain` — the points-purge
   *  (R5) posture applied to a maintained summary store's TIME axis
   *  (the fold above bounds the BATCH axis; without this, a day-keyed
   *  store like the dds_daily grain grows one key set per day forever).
   *  Expired rows in the open (max, replayable) batch partition survive
   *  until a later pass closes it — the same tail the segment purge
   *  leaves in the live segment. Readers that filter their served range
   *  (e.g. the day-range percentile) are bit-identical before and after
   *  as long as `retain` keeps every day the range can reference. */
  def compactRetained(spark: SparkSession, dir: String,
      retain: org.apache.spark.sql.Column,
      fold: DataFrame => DataFrame): Boolean =
    compactBatchStore(spark, dir, df => fold(df.filter(retain)), minFolded = 1)

  /** Fold every maintained sketch store of an ingest lake: the
   *  count-min cell grid ("cms") and each configured DDSketch bucket
   *  store (its [[IngestJob.DdsConfig]] name). A store named in `retain`
   *  drops the rows failing its predicate during the fold
   *  ([[compactRetained]]). Without retention, merged reads
   *  ([[IngestJob.cmsCells]]/[[IngestJob.ddsBuckets]]) are bit-identical
   *  before and after — the fold IS the read-side merge, applied once and
   *  stored. Returns the names of the stores folded. */
  def foldSketches(spark: SparkSession, cfg: IngestJob.Config,
      retain: Map[String, org.apache.spark.sql.Column] = Map.empty): Seq[String] =
    sketchFolds(spark, cfg, retain).filter(_._2()).map(_._1)

  /** [[foldSketches]] as one fold per store, in config order (cms first,
   *  then each DDS), each returning whether it folded. The stores are
   *  disjoint dirs, so [[Maintenance.run]] and the in-band fold of
   *  [[IngestJob.processBatch]] run the folds side by side. */
  private[streaming] def sketchFolds(spark: SparkSession, cfg: IngestJob.Config,
      retain: Map[String, org.apache.spark.sql.Column]): Seq[(String, () => Boolean)] = {
    val stores: Seq[(String, String, DataFrame => DataFrame)] =
      cfg.cms.toSeq.map(_ => ("cms", IngestJob.cmsPath(cfg), graft.operators.CountMin.merge _)) ++
        cfg.dds.map(c => (c.name, IngestJob.ddsPath(cfg, c.name), graft.operators.QuantileSketch.merge _))
    stores.map { case (name, dir, merge) =>
      name -> (() => retain.get(name) match {
        case Some(r) => compactRetained(spark, dir, r, merge)
        case None => compactBatchStore(spark, dir, merge)
      })
    }
  }

  /** Compact a [[DocIngest]] count store (columns = `keyCols` + `__c`):
   *  drift token counts (source, tk), PMI unigrams (tk) and pairs
   *  (w1, w2). */
  def compactCounts(spark: SparkSession, dir: String, keyCols: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions._
    compactBatchStore(spark, dir,
      _.groupBy(keyCols.map(col): _*).agg(sum(col("__c")).as("__c")))
  }
}
