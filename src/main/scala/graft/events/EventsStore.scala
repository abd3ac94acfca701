package graft.events

import graft.core.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Event index write / upsert (S9, R7) — the Spark-native counterpart of
 * the reference's Lucene writer semantics
 * (events-lucene/.../LuceneWriter.java:104-232 `index`/`update`/
 * `doUpdate`/`updateParent`):
 *
 *  - a document id is the hash of identity fields (EventWriter.java:40-52);
 *  - re-indexing the same id *updates* the stored document — ongoing
 *    events keep being upserted until they close (R7);
 *  - child events link to their parent via parent id; the reference
 *    updates the parent's childId list, we expose the equivalent join.
 *
 * Storage is an append-only version log; [[current]] resolves
 * last-writer-wins per doc id with a ranked window — the same
 * log-structured pattern as the points lake's series/latest logs, which
 * is how immutable-file storage expresses upsert at scale (a periodic
 * [[compact]] bounds read amplification).
 */
object EventsStore {

  /** Append a batch of (possibly re-indexed) event docs to the log.
   *  `version` is the writer's monotonic sequence — arrival order.
   *
   *  Document batches carry a `day` column and land
   *  `partitionBy("day")` — the physical counterpart of the reference's
   *  one-Lucene-index-per-UTC-day layout (events-common/.../
   *  EventWriter.java:58-68): queries prune whole day directories
   *  (EventsEngine.dayConjunct) exactly like the reference only opens
   *  the daily indices its range selects. Day-less logs (generic upsert
   *  tests) fall back to an unpartitioned append. */
  def append(batch: DataFrame, storeDir: String): Unit = {
    val w = batch.write.mode("append")
    (if (batch.columns.contains("day")) w.partitionBy("day") else w)
      .parquet(s"$storeDir/events_log")
  }

  def log(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/events_log")

  /** The live view: one row per doc id, the latest version winning —
   *  the reference's update-in-place, replayed over the log. */
  def current(log: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("version").desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Parent/child linking: attach each child's id and title to its
   *  parent row (the reference's updateParent writes childIds into the
   *  parent doc; the join is the declarative equivalent). */
  def withChildren(current: DataFrame): DataFrame = {
    val children = current
      .filter(col("parent_id").isNotNull)
      .groupBy(col("parent_id").as("doc_id"))
      .agg(sort_array(collect_list(col("doc_id"))).as("child_ids"),
        count(lit(1)).as("n_children"))
    current.join(children, Seq("doc_id"), "left")
      .withColumn("n_children", coalesce(col("n_children"), lit(0L)))
  }

  /** Retention purge: drop whole expired day partitions (the reference
   *  expires old daily Lucene indices; a file-level directory delete is
   *  the parquet counterpart — no data rewrite). Returns the days actually
   *  dropped: a failed delete stays on disk and stays in the next purge. */
  def purgeDays(storeDir: String, cutoffDay: String): Seq[String] =
    // ISO day strings order lexicographically
    Fs.dropPartitions(Fs.hadoopConf(), s"$storeDir/events_log", "day")(_ < cutoffDay).sorted

  /** Rewrite the log to its resolved state (one version per doc),
   *  preserving the daily-index partitioning. Race-safe against a
   *  concurrent [[append]] ([[graft.core.Fs.rewritePlanned]]): the
   *  rewrite reads exactly the files listed at plan time and the swap
   *  deletes only those — a batch appended mid-compaction keeps its
   *  files, and [[current]]'s version fold resolves snapshot rows against
   *  the newer appends correctly by construction. */
  def compact(spark: SparkSession, storeDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val logDir = s"$storeDir/events_log"
    val days = Fs.partitions(conf, logDir, "day")
    val planned =
      if (days.nonEmpty) days.flatMap(d => Fs.dataFileStatuses(conf, d._1.toString))
      else Fs.dataFileStatuses(conf, logDir)
    Fs.rewritePlanned(spark, logDir, planned, None) { (snapshot, staging) =>
      val resolved = current(snapshot)
      val w = resolved.write.mode("overwrite")
      (if (resolved.columns.contains("day")) w.partitionBy("day") else w).parquet(staging)
    }
  }
}
