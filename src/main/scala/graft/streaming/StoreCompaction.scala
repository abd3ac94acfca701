package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Compaction for the batch-partitioned COUNT stores the ingest maintains
 * (count-min cells, DDSketch buckets, drift/PMI token counts): each
 * micro-batch appends one `batch_id=N` partition of partial counts, and
 * every read merges the whole log by summing. At a 1-minute trigger
 * cadence that is ~1,440 partitions/day — the read stays CORRECT forever
 * (counts are sums, merge order is irrelevant) but pays file listing +
 * small-file open cost linear in batch COUNT. This job folds the closed
 * partitions into one snapshot partition, the counts-are-sums analog of
 * the points-file consolidation ([[IngestJob.compactPoints]]; reference
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
 * Crash safety: unlike the LWW logs, a counts-are-sums read does NOT
 * collapse duplicates, so the swap cannot tolerate a window where the
 * folded snapshot and the source partials coexist durably. The fold
 * therefore (a) writes the snapshot as ONE file, moved in by a single
 * atomic rename — no partially-visible snapshot state exists — and (b)
 * brackets the swap with a manifest (`_fold_manifest` inside the
 * snapshot partition; the underscore prefix hides it from parquet
 * readers): manifest committed → snapshot renamed in → sources deleted
 * → manifest removed. [[recover]] replays an interrupted swap from the
 * manifest — snapshot present ⇒ finish the deletes; snapshot absent ⇒
 * abort (sources intact, nothing lost) — and runs at the start of every
 * fold, so a crashed swap heals before the next fold plans.
 *
 * Concurrency: run the fold as a maintenance pass (in-band between
 * triggers via `compactEvery`, or offline on the closed prefix). The
 * swap never touches a concurrently-appended new batch partition, and
 * READERS go through [[read]], which consults the manifest WITHOUT
 * mutating anything: sources named by a committed manifest whose
 * snapshot target exists are dead (the fold is durable) and are
 * excluded from the listing, so a reader overlapping ANY step boundary
 * of the swap — including the rename→delete window of a live or
 * crashed fold — reads exact counts. Manifest cleanup (including the
 * abort of a never-durable fold) happens ONLY at fold entry; a pure
 * read never deletes, so it can neither race a live fold's swap nor
 * destroy the manifest the protocol depends on. [[finishSwap]] itself
 * tolerates files another finisher already deleted, so a fold-entry
 * recover racing the original fold's own cleanup degrades to a no-op.
 * The one remaining exposure is filesystem-level, not protocol-level: a
 * reader that LISTED a source file the instant before the swap deletes
 * it fails its scan (a retryable read error, never a wrong answer) —
 * the same snapshot-isolation limit any file listing has.
 */
object StoreCompaction {

  /** The snapshot partition's batch_id. Real batch ids are non-negative,
   *  so the snapshot can never collide with (or be mistaken for) a
   *  replayable batch; repeated compactions fold the previous snapshot
   *  into the next. */
  val SnapshotBatchId: Long = -1L

  /** Fold every closed `batch_id=N` partition of `dir` (all but the max
   *  batch id — see the replay-safety note above) plus any previous
   *  snapshot into one `batch_id=-1` snapshot partition, using `fold`
   *  (the store's merge: cell-wise / key-wise count sum). Returns true
   *  if a fold happened; with fewer than `minFolded` closed partitions
   *  the store is left untouched (a pure fold of one partition gains
   *  nothing — but a RETAINING fold does, so [[compactRetained]] passes
   *  minFolded = 1). */
  def compactBatchStore(spark: SparkSession, dir: String,
      fold: DataFrame => DataFrame, minFolded: Int = 2): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    recover(conf, dir) // heal any swap a crash interrupted (see scaladoc)
    val parts = graft.core.Fs.partitions(conf, dir, "batch_id")
      .map { case (p, id) => p -> id.toLong }
    if (parts.isEmpty) return false
    val maxId = parts.map(_._2).max
    val folded = parts.filter(_._2 != maxId)
    if (folded.size < minFolded) return false
    // plan exactly the data files under the folded partitions: a new
    // batch partition appended between plan and swap is never read,
    // never deleted (the compactPoints discipline)
    val listed = folded.flatMap(p => graft.core.Fs.dataFileStatuses(conf, p._1.toString))
    if (listed.isEmpty) return false
    val planned = listed.map(_.getPath)
    val tmp = s"$dir.compact_tmp"
    val snapDir = new Path(s"$dir/batch_id=$SnapshotBatchId")
    val fs = snapDir.getFileSystem(conf)
    try {
      // the planned files read without a basePath don't carry batch_id (a
      // partition column), so the folded frame has exactly the store's
      // cell/count schema; ONE output file so the move-in below is a
      // single atomic rename (the relation is summary-sized by
      // construction)
      fold(graft.core.Fs.readPlanned(spark, listed))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val staged = graft.core.Fs.dataFiles(conf, tmp) match {
        case Seq(one) => one
        case other => throw new java.io.IOException(
          s"expected one staged snapshot file, found ${other.size} under $tmp")
      }
      if (!fs.exists(snapDir) && !fs.mkdirs(snapDir))
        throw new java.io.IOException(s"mkdirs $snapDir failed")
      // unique target name: the previous snapshot file is among `planned`
      // and must coexist until the swap completes
      val target = new Path(snapDir, s"fold-${java.util.UUID.randomUUID}.parquet")
      // 1. commit the manifest (temp + atomic rename)
      writeManifest(fs, manifestPath(dir), target, planned)
      // 2. the single atomic move-in
      if (!fs.rename(staged, target))
        throw new java.io.IOException(s"rename $staged -> $target failed")
      // 3. delete the folded sources, 4. drop the manifest
      finishSwap(fs, dir, target, planned)
    } finally {
      fs.delete(new Path(tmp), true): Unit
    }
    true
  }

  private def manifestPath(dir: String): Path =
    new Path(s"$dir/batch_id=$SnapshotBatchId/_fold_manifest")

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, mf: Path,
      target: Path, planned: Seq[Path]): Unit = {
    val tmp = new Path(mf.getParent, "_fold_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write((target.toString +: planned.map(_.toString))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(mf, false)
    if (!fs.rename(tmp, mf))
      throw new java.io.IOException(s"manifest commit $mf failed")
  }

  /** Manifest contents: (snapshot target, planned source files), or None
   *  when the manifest is absent/empty. Paths are re-qualified against
   *  the filesystem so comparisons with fresh listings are exact. The
   *  exists→open pair tolerates a fold-entry recover deleting the
   *  manifest in between (absent, not an error). */
  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      mf: Path): Option[(Path, Seq[Path])] = {
    if (!fs.exists(mf)) return None
    val in = try fs.open(mf) catch {
      case _: java.io.FileNotFoundException => return None
    }
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    lines match {
      case targetStr :: plannedStrs =>
        Some((fs.makeQualified(new Path(targetStr)),
          plannedStrs.map(s => fs.makeQualified(new Path(s)))))
      case Nil => None
    }
  }

  /** Deletes are idempotent across concurrent finishers: a file another
   *  recover/fold already removed is success, not an error — only a file
   *  that SURVIVES a failed delete aborts. */
  private def finishSwap(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      target: Path, planned: Seq[Path]): Unit = {
    planned.foreach { f =>
      if (!fs.delete(f, false) && fs.exists(f))
        throw new java.io.IOException(s"delete $f failed")
    }
    // drop now-empty folded partition dirs (not the snapshot's own)
    planned.map(_.getParent).distinct
      .filter(p => p.getName != s"batch_id=$SnapshotBatchId")
      .foreach { p =>
        if (fs.exists(p) && graft.core.Fs.dataFiles(fs.getConf, p.toString).isEmpty)
          fs.delete(p, true): Unit
      }
    fs.delete(manifestPath(dir), false): Unit
  }

  /** Replay a swap a crash interrupted, from its committed manifest:
   *  snapshot file present ⇒ the fold is durable, finish the source
   *  deletes; absent ⇒ abort (sources were never removed — nothing is
   *  lost, the next fold redoes the work). Idempotent and cheap when no
   *  manifest exists (one existence probe). FOLD-ENTRY ONLY: the abort
   *  branch deletes a manifest, and a reader doing that could race a
   *  live fold between its manifest commit and its snapshot rename —
   *  destroying the very record the crash protocol needs. Readers use
   *  [[read]], which never mutates. */
  def recover(conf: Configuration, dir: String): Unit = {
    val mf = manifestPath(dir)
    val fs = mf.getFileSystem(conf)
    readManifest(fs, mf) match {
      case Some((target, planned)) =>
        if (fs.exists(target)) finishSwap(fs, dir, target, planned)
        else fs.delete(mf, false): Unit
      case None => fs.delete(mf, false): Unit
    }
  }

  /** Pure swap-crash-immune read of a batch-partitioned count store —
   *  what the engine's maintained-store readers
   *  ([[IngestJob.cmsCells]]/[[IngestJob.ddsBuckets]]) go through. A
   *  committed `_fold_manifest` whose snapshot target EXISTS marks its
   *  planned source files dead (the fold is durable; only the deletes
   *  are outstanding), so they are excluded from the listing; a manifest
   *  whose target never arrived is ignored (the sources are the truth).
   *  Either way NOTHING is deleted — reads cannot race a live fold's
   *  swap, and every step-boundary interleaving of
   *  manifest→rename→delete→unmanifest reads exact counts
   *  (StoreCompactionSpec pins both windows).
   *
   *  The manifest probe and Spark's file listing are not one atomic
   *  snapshot, so the probe runs BEFORE and AFTER building the frame and
   *  the read retries when either the manifest or the snapshot
   *  partition's file set changed in between (a swap's rename always
   *  adds a fresh `fold-<uuid>` file, so any rename that could have
   *  landed mid-listing flips the seqlock). A stable bracket means no
   *  rename overlapped the listing: the durable-fold branch excludes the
   *  planned sources, every other state lists sources only — exact
   *  either way. Sources deleted mid-listing fail the scan loudly (a
   *  retryable read error, never a silent count). The no-fold hot path
   *  is two existence probes + a plain directory read. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val mf = manifestPath(dir)
    val fs = mf.getFileSystem(conf)
    def state(): (Option[(Path, Seq[Path])], Set[String]) = {
      val m = readManifest(fs, mf)
      val snapDir = new Path(s"$dir/batch_id=$SnapshotBatchId")
      val snaps =
        if (!fs.exists(snapDir)) Set.empty[String]
        else graft.core.Fs.dataFiles(conf, snapDir.toString)
          .map(f => fs.makeQualified(f).toString).toSet
      (m, snaps)
    }
    var attempts = 0
    while (true) {
      val before = state()
      val dead: Set[String] = before._1 match {
        case Some((target, planned)) if fs.exists(target) =>
          planned.map(_.toString).toSet
        case _ => Set.empty
      }
      val df =
        if (dead.isEmpty) spark.read.parquet(dir)
        else {
          val live = graft.core.Fs.partitions(conf, dir, "batch_id")
            .flatMap(p => graft.core.Fs.dataFiles(conf, p._1.toString))
            .map(f => fs.makeQualified(f).toString)
            .filterNot(dead.contains)
          spark.read.option("basePath", dir).parquet(live: _*)
        }
      if (state() == before) return df
      attempts += 1
      if (attempts >= 8) throw new java.io.IOException(
        s"count store $dir is folding faster than it can be listed; " +
          "retry the read or pause the compaction cadence")
    }
    throw new IllegalStateException("unreachable")
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
   *  disjoint dirs, so [[Maintenance.run]] runs the folds side by side. */
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
