package graft.core

import graft.{Fixtures, TestSpark}
import graft.events.EventsStore
import graft.streaming.IngestJob
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Race-safety contract of the maintenance-path rewrite: a file appended
 *  to the live dir after the rewrite was planned must survive the swap
 *  (the whole-dir replace it replaced would delete it), both at the file
 *  level ([[Fs.swapInFiles]]) and end to end over real stores
 *  ([[Fs.rewritePlanned]]). */
class FsSpec extends AnyFunSuite {

  private def touch(dir: java.nio.file.Path, name: String): java.nio.file.Path =
    java.nio.file.Files.writeString(dir.resolve(name), name)

  test("swapInFiles moves staged files in and deletes only the planned ones") {
    val base = java.nio.file.Files.createTempDirectory("graft_fs")
    val live = java.nio.file.Files.createDirectory(base.resolve("live"))
    val staging = java.nio.file.Files.createDirectory(base.resolve("staging"))
    touch(live, "part-a")
    touch(live, "part-b")
    touch(staging, "part-compacted")
    val conf = new Configuration()
    val planned = Seq(new org.apache.hadoop.fs.Path(live.resolve("part-a").toUri))
    // a concurrent micro-batch lands AFTER planning, BEFORE the swap
    touch(live, "part-concurrent-append")
    Fs.swapInFiles(conf, staging.toString, live.toString, planned)
    val names = new java.io.File(live.toString).listFiles().map(_.getName).toSet
    assert(names === Set("part-b", "part-compacted", "part-concurrent-append"))
  }

  test("swapInFiles tolerates a retry (planned file already gone)") {
    val base = java.nio.file.Files.createTempDirectory("graft_fs2")
    val live = java.nio.file.Files.createDirectory(base.resolve("live"))
    val staging = java.nio.file.Files.createDirectory(base.resolve("staging"))
    touch(staging, "part-x")
    val conf = new Configuration()
    val ghost = Seq(new org.apache.hadoop.fs.Path(live.resolve("never-existed").toUri))
    Fs.swapInFiles(conf, staging.toString, live.toString, ghost)
    val names = new java.io.File(live.toString).listFiles().map(_.getName).toSet
    assert(names === Set("part-x"))
  }

  test("a planned file another deleter removed between our exists and delete counts as deleted") {
    val base = java.nio.file.Files.createTempDirectory("graft_fs3")
    val live = java.nio.file.Files.createDirectory(base.resolve("live"))
    val staging = java.nio.file.Files.createDirectory(base.resolve("staging"))
    touch(live, "part-old")
    touch(staging, "part-new")
    val conf = new Configuration()
    conf.set("fs.racy.impl", classOf[LosingDeleteFs].getName)
    conf.setBoolean("fs.racy.impl.disable.cache", true)
    // through this filesystem every delete loses its race: the file goes,
    // but the delete reports false
    val planned = Seq(new Path(s"racy://${live.resolve("part-old")}"))
    Fs.swapInFiles(conf, staging.toString, live.toString, planned)
    val names = new java.io.File(live.toString).listFiles().map(_.getName).toSet
    assert(names === Set("part-new"))
    // a file that survives its failed delete still fails the swap
    touch(live, "part-stuck")
    val stuck = new Path(s"racy://${live.resolve("part-stuck")}")
    conf.setBoolean("graft.spec.delete.keeps", true)
    intercept[java.io.IOException](Fs.swapInFiles(conf, staging.toString, live.toString, Seq(stuck)))
  }

  private val t0 = 1704067200L

  /** An ingest lake (points, series and latest logs) built by two
   *  batches that each span two segments, so every store has several
   *  files per partition. */
  private def ingestLake(): IngestJob.Config = {
    val base = java.nio.file.Files.createTempDirectory("graft_fs_rewrite").toString
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4)
    IngestJob.processBatch(batch("m.a", 0), cfg, batchId = 0L)
    IngestJob.processBatch(batch("m.b", 100), cfg, batchId = 1L)
    cfg
  }

  /** Six points of `metric`, one per host, 30 min apart (two segments). */
  private def batch(metric: String, seq0: Long): DataFrame =
    Fixtures.points((0 until 6).map(i =>
      (metric, Map("host" -> s"h$i"), t0 + i * 1800L, i.toDouble, seq0 + i)): _*)

  private def docs(ids: Range): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    ids.map(i => (i.toLong, 1L, s"doc $i", s"2024-01-0${1 + i % 2}")).toDF("doc_id", "version", "title", "day")
  }

  private def rowCounts(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def pointFiles(conf: Configuration, cfg: IngestJob.Config): Seq[FileStatus] =
    Fs.partitions(conf, IngestJob.pointsPath(cfg), "segment_start")
      .flatMap(p => Fs.dataFileStatuses(conf, p._1.toString))

  test("rewritePlanned keeps a batch appended between plan and swap exactly once (points, series log, events log)") {
    val spark = TestSpark.spark
    val conf = spark.sessionState.newHadoopConf()
    val cfg = ingestLake()
    val eventsDir = java.nio.file.Files.createTempDirectory("graft_fs_events").toString
    EventsStore.append(docs(0 until 4), eventsDir)
    EventsStore.append(docs(4 until 8), eventsDir)
    val eventsLog = s"$eventsDir/events_log"
    val eventFiles = Fs.partitions(conf, eventsLog, "day").flatMap(p => Fs.dataFileStatuses(conf, p._1.toString))

    /** Rewrite `planned` with a `write` that first appends a real batch to
     *  the live store, then writes the planned rows unchanged into one file
     *  per partition. The appended rows (`isNew`) must appear exactly once
     *  and `expectNew` of them; every other row exactly as before. */
    def racing(root: String, planned: Seq[FileStatus], read: () => DataFrame, append: () => Unit,
        isNew: Column, expectNew: Int, partitionCol: Option[String]): Unit = {
      assert(planned.size >= 2, s"$root: the rewrite should consolidate several files")
      val before = rowCounts(read())
      Fs.rewritePlanned(spark, root, planned, None) { (df, staging) =>
        append()
        val w = df.coalesce(1).write.mode("overwrite")
        partitionCol.fold(w)(w.partitionBy(_)).parquet(staging)
      }
      val fs = new Path(root).getFileSystem(conf)
      assert(planned.forall(f => !fs.exists(f.getPath)), s"$root: planned files must be gone")
      val after = read()
      val appended = rowCounts(after.filter(isNew))
      assert(appended.values.forall(_ == 1), s"$root: appended rows must appear exactly once")
      assert(appended.size === expectNew, s"$root: every appended row must survive")
      assert(rowCounts(after.filter(!isNew)) === before, s"$root: planned rows must be unchanged")
      assert(!fs.exists(new Path(new Path(root).getParent, s".${new Path(root).getName}_compact_tmp")))
    }

    racing(IngestJob.pointsPath(cfg), pointFiles(conf, cfg), () => IngestJob.points(spark, cfg),
      () => IngestJob.processBatch(batch("m.c", 200), cfg, batchId = 2L): Unit,
      col("metric") === "m.c", expectNew = 6, Some("segment_start"))
    racing(IngestJob.seriesLogPath(cfg), Fs.dataFileStatuses(conf, IngestJob.seriesLogPath(cfg)),
      () => spark.read.parquet(IngestJob.seriesLogPath(cfg)),
      () => IngestJob.processBatch(batch("m.d", 300), cfg, batchId = 3L): Unit,
      col("metric") === "m.d", expectNew = 6, None)
    racing(eventsLog, eventFiles, () => EventsStore.log(spark, eventsDir),
      () => EventsStore.append(docs(8 until 12), eventsDir),
      col("doc_id") >= 8, expectNew = 4, Some("day"))
  }

  test("rewritePlanned whose write fails removes the staging dir and leaves the store as it was") {
    val spark = TestSpark.spark
    val conf = spark.sessionState.newHadoopConf()
    val cfg = ingestLake()
    val root = IngestJob.pointsPath(cfg)
    val planned = pointFiles(conf, cfg)
    val rowsBefore = rowCounts(IngestJob.points(spark, cfg))
    val err = intercept[IllegalStateException] {
      Fs.rewritePlanned(spark, root, planned, None) { (df, staging) =>
        df.write.mode("overwrite").partitionBy("segment_start").parquet(staging)
        throw new IllegalStateException("write failed after staging")
      }
    }
    assert(err.getMessage === "write failed after staging")
    val fs = new Path(root).getFileSystem(conf)
    assert(!fs.exists(new Path(cfg.lakeDir, ".points_compact_tmp")))
    assert(pointFiles(conf, cfg).map(_.getPath.toString).toSet === planned.map(_.getPath.toString).toSet)
    assert(rowCounts(IngestJob.points(spark, cfg)) === rowsBefore)
  }

  test("rewritePlanned over more than 32 listed files starts only the write's jobs; a file appended after planning is neither read nor deleted") {
    val spark = TestSpark.spark
    val conf = spark.sessionState.newHadoopConf()
    val declared = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, p BIGINT")
    Seq(None, Some(declared)).foreach { schema =>
      val root = java.nio.file.Files.createTempDirectory("graft_fs_many").resolve("store").toString
      // 20 tasks of two consecutive ids, one per partition value: 40 files
      spark.range(0, 40, 1, 20).withColumn("p", col("id") % 2)
        .write.partitionBy("p").parquet(root)
      val listed = Fs.partitions(conf, root, "p").flatMap(d => Fs.dataFileStatuses(conf, d._1.toString))
      assert(listed.size > 32, s"${listed.size} planned files")
      val jobs = new graft.GroupJobs(spark.sparkContext)
      var atReader, beforeWrite, afterWrite = -1
      var readColumns = Seq.empty[String]
      val total = jobs {
        Fs.rewritePlanned(spark, root, listed, schema) { (df, staging) =>
          atReader = jobs.started()
          readColumns = df.columns.toSeq
          // a concurrent append lands after planning, before the write
          spark.range(100, 101).withColumn("p", lit(0L))
            .write.mode("append").partitionBy("p").parquet(root)
          beforeWrite = jobs.started()
          df.coalesce(1).write.mode("overwrite").partitionBy("p").parquet(staging)
          afterWrite = jobs.started()
        }
        jobs.started()
      }
      assert(atReader === 0, s"schema $schema: the reader started $atReader jobs")
      assert(afterWrite > beforeWrite, "the write ran")
      assert(total === afterWrite, "nothing but the write ran after the append")
      assert(readColumns.toSet === Set("id", "p"))
      val fs = new Path(root).getFileSystem(conf)
      assert(listed.forall(f => !fs.exists(f.getPath)), "planned files must be gone")
      val after = spark.read.parquet(root)
      assert(rowCounts(after.select(col("id"), col("p").cast("long"))) ===
        ((0L until 40L).map(i => Row(i, i % 2)) :+ Row(100L, 0L)).map(_ -> 1).toMap,
        "every planned row once, the appended row once")
    }
  }
}

/** A local filesystem under the `racy` scheme whose deletes report
 *  false, as when another deleter removes the file first. With
 *  `graft.spec.delete.keeps` set, the file also stays, as in a delete
 *  that really failed. */
final class LosingDeleteFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("racy:///")
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (!getConf.getBoolean("graft.spec.delete.keeps", false)) super.delete(p, recursive): Unit
    false
  }
}
