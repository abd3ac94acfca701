package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Batch-partitioned count-store compaction: the fold must preserve the
 *  merged read bit-exactly, always exclude the max (replayable) batch
 *  partition, and re-fold its own snapshot on the next pass. */
class StoreCompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeBatch(dir: String, id: Long, rows: Seq[(String, Long)]): Unit =
    rows.toDF("tk", "__c").write.mode("overwrite").parquet(s"$dir/batch_id=$id")

  private def merged(dir: String): Map[String, Long] =
    spark.read.parquet(dir)
      .groupBy(col("tk")).agg(sum(col("__c")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def batchIds(dir: String): Set[Long] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
      .map(_.getName.stripPrefix("batch_id=").toLong).toSet

  test("fold preserves the merged read and excludes the max batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc1").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 2L), ("b", 1L)))
    writeBatch(dir, 1, Seq(("a", 3L), ("c", 5L)))
    writeBatch(dir, 2, Seq(("b", 7L)))
    val before = merged(dir)
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    assert(merged(dir) === before)
    // batches 0 and 1 folded into the snapshot; the max batch survives
    assert(batchIds(dir) === Set(StoreCompaction.SnapshotBatchId, 2L))
    // a replay of the max batch (dynamic overwrite of its partition)
    // still lands in its own partition and stays correctly counted
    writeBatch(dir, 2, Seq(("b", 7L), ("d", 1L)))
    assert(merged(dir) === before.updated("d", 1L))
  }

  test("the next pass re-folds the snapshot with newly closed batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc2").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 1L)))
    writeBatch(dir, 1, Seq(("a", 1L)))
    writeBatch(dir, 2, Seq(("a", 1L)))
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    writeBatch(dir, 3, Seq(("a", 1L), ("b", 2L)))
    writeBatch(dir, 4, Seq(("b", 2L)))
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    assert(batchIds(dir) === Set(StoreCompaction.SnapshotBatchId, 4L))
    assert(merged(dir) === Map("a" -> 4L, "b" -> 4L))
    // the snapshot is one aggregated row set, not concatenated partials
    assert(spark.read.parquet(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}")
      .groupBy(col("tk")).count().filter(col("count") > 1).isEmpty)
  }

  test("in-band auto-compaction (Config.compactEvery) folds during ingest; merged sketches unchanged") {
    val base = java.nio.file.Files.createTempDirectory("graft_sc_auto").toString
    val dailyKey = "concat_ws('#', metric, cast(ts - ts % 86400 as string))"
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 32)),
      dds = Seq(IngestJob.DdsConfig("metric", "value", 0.02),
        IngestJob.DdsConfig(dailyKey, "value", 0.02, name = "dds_daily")),
      compactEvery = Some(2))
    def eventsDf(rows: (Long, Long, Double)*) =
      rows.toSeq.toDF("event_id", "tsec", "value")
        .select(col("event_id"), (col("tsec") * 1000000000L).as("ts"),
          (col("event_id") % 150).as("user_id"), lit("m").as("event_type"),
          col("value"), lit("{}").as("props"))
    val now = 100000L
    val batches = (0 until 5).map { bid =>
      graft.sources.TsdbViews.pointsFromEvents(eventsDf(
        (1 to 20).map(i => ((bid * 20 + i).toLong, now + bid * 20 + i,
          (bid * 20 + i).toDouble)): _*))
    }
    batches.zipWithIndex.foreach { case (b, bid) =>
      IngestJob.processBatch(b, cfg, batchId = bid.toLong): Unit
    }
    // folds ran at batch 2 (0,1 → snapshot) and batch 4 (snapshot,2,3 →
    // snapshot), every store in the same barrier; only the snapshot of
    // batches 0-3 and the open (replayable) batch remain
    Seq(IngestJob.cmsPath(cfg), IngestJob.ddsPath(cfg), IngestJob.ddsPath(cfg, "dds_daily"))
      .foreach { dir =>
        assert(batchIds(dir) === Set(StoreCompaction.SnapshotBatchId, 4L), dir)
        assert(snapshotNames(dir).map(_.take("snapshot-3-".length)) === Seq("snapshot-3-"), dir)
      }
    val all = batches.reduce(_ unionByName _)
    val cmsMerged = IngestJob.cmsCells(spark, cfg)
      .select(col("i").cast("long"), col("j").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cmsOneShot = graft.operators.CountMin.sketch(all, expr("tags['user']"), 4, 32)
      .select(col("i").cast("long"), col("j").cast("long"), col("cnt").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cmsMerged === cmsOneShot)
    def bucketMap(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key"), col("sgn").cast("long"), col("idx").cast("long"),
        col("cnt").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(bucketMap(IngestJob.ddsBuckets(spark, cfg)) ===
      bucketMap(graft.operators.QuantileSketch.sketch(all, col("metric"), col("value"), 0.02)))
    assert(bucketMap(IngestJob.ddsBuckets(spark, cfg, "dds_daily")) ===
      bucketMap(graft.operators.QuantileSketch.sketch(all, expr(dailyKey), col("value"), 0.02)))
  }

  test("DocIngest.runPairCounts compactEvery: in-band fold, summed counts equal batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_sc_pair").toString
    val docs = (1 to 50).map(i =>
        (i.toLong, s"alpha beta gamma tok$i beta alpha", "web"))
      .toDF("doc_id", "text", "source")
    docs.repartition(5).write.parquet(s"$base/src")
    DocIngest.runPairCounts(spark, s"$base/src", s"$base/lake", s"$base/ckpt",
      docs.schema, maxFilesPerTrigger = Some(1), compactEvery = Some(2))
      .awaitTermination()
    // folds ran in-band at batches 2 and 4; snapshot + open batch remain
    assert(batchIds(s"$base/lake/uni") === Set(StoreCompaction.SnapshotBatchId, 4L))
    assert(batchIds(s"$base/lake/bg") === Set(StoreCompaction.SnapshotBatchId, 4L))
    val uniMerged = spark.read.parquet(s"$base/lake/uni")
      .groupBy(col("tk")).agg(sum(col("__c")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val uniBatch = graft.pipeline.TextAnalysis.unigramCounts(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(uniMerged === uniBatch)
    val bgMerged = spark.read.parquet(s"$base/lake/bg")
      .groupBy(col("w1"), col("w2")).agg(sum(col("__c")).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val bgBatch = graft.pipeline.TextAnalysis.bigramCounts(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(bgMerged === bgBatch)
  }

  test("compactRetained drops expired day keys from the snapshot; open batch untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_ret").toString + "/dds_daily"
    val day0 = 86400L * 100; val day1 = 86400L * 101; val cutoff = day1
    def rows(day: Long, cnt: Long) = Seq(("m#" + day, 1, 5L, cnt))
    def write(id: Long, rs: Seq[(String, Int, Long, Long)]): Unit =
      rs.toDF("key", "sgn", "idx", "cnt").write.mode("overwrite")
        .parquet(s"$dir/batch_id=$id")
    write(0, rows(day0, 3) ++ rows(day1, 7)) // closed: expired + retained
    write(1, rows(day0, 2) ++ rows(day1, 4)) // open (max): never folded
    val retain = split(col("key"), "#").getItem(1).cast("long") >= cutoff
    // a SINGLE closed partition still folds when retention is in play
    assert(StoreCompaction.compactRetained(spark, dir, retain,
      graft.operators.QuantileSketch.merge))
    def keyCnt(path: String) = spark.read.parquet(path)
      .groupBy(col("key")).agg(sum(col("cnt")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // snapshot: expired day gone, retained count exact
    assert(keyCnt(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}") ===
      Map(s"m#$day1" -> 7L))
    // the open batch keeps its expired rows until a later pass closes it
    assert(keyCnt(s"$dir/batch_id=1") === Map(s"m#$day0" -> 2L, s"m#$day1" -> 4L))
    // a range read over retained days is unchanged by the purge
    assert(keyCnt(dir).view.filterKeys(_ == s"m#$day1").toMap === Map(s"m#$day1" -> 11L))
  }

  test("property: folds interleaved at arbitrary points never change the merged counts") {
    // the CorePropsSpec sampling-loop convention (plain scalacheck, no
    // scalatestplus bridge offline)
    import org.scalacheck.Gen
    val keys = Vector("a", "b", "c", "d")
    val batchGen = Gen.listOf(Gen.zip(Gen.oneOf(keys), Gen.choose(1L, 9L)))
    val sampleGen = for {
      n <- Gen.choose(1, 6)
      batches <- Gen.listOfN(n, batchGen)
      folds <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield (batches, folds)
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(6).foreach { seed =>
      sampleGen.apply(Gen.Parameters.default, seed).foreach { case (batches, folds) =>
        val dir = java.nio.file.Files.createTempDirectory("graft_sc_prop").toString + "/store"
        batches.zipWithIndex.foreach { case (rows, id) =>
          writeBatch(dir, id.toLong,
            if (rows.isEmpty) Seq(("a", 0L)) else rows) // parquet needs >= 0 rows; keep schema
          if (folds(id)) StoreCompaction.compactCounts(spark, dir, Seq("tk")): Unit
        }
        val expect = batches.flatten.groupBy(_._1).view
          .mapValues(_.map(_._2).sum).toMap
        val got = merged(dir).filter(_._2 != 0L)
        assert(got === expect.filter(_._2 != 0L),
          s"split=${batches.map(_.size)} folds=$folds")
      }
    }
  }

  private def readVia(dir: String): Map[String, Long] =
    StoreCompaction.read(spark, dir)
      .groupBy(col("tk")).agg(sum(col("__c")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Every file under `dir`, hidden ones included, relative to it. */
  private def tree(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    finally walk.close()
  }

  private def snapshotNames(dir: String): Seq[String] =
    new java.io.File(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}").listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".parquet"))

  private def stagingDir(dir: String): java.io.File = {
    val f = new java.io.File(dir)
    new java.io.File(f.getParentFile, s".${f.getName}_compact_tmp")
  }

  /** A store interrupted inside its second fold: a first fold folded
   *  batches 0–1 into snapshot K = 1; the second folds that snapshot and
   *  batches 2–3 into snapshot K = 3, batch 4 staying open. The second
   *  fold runs for real, then `interrupt` rebuilds one of its step
   *  boundaries from a copy of the store taken just before it. Returns
   *  the store and its exact counts. */
  private def midFold(name: String)(interrupt: (String, String) => Unit): (String, Map[String, Long]) = {
    val base = java.nio.file.Files.createTempDirectory(name).toString
    val dir = s"$base/store"
    writeBatch(dir, 0, Seq(("a", 2L), ("b", 1L)))
    writeBatch(dir, 1, Seq(("a", 3L)))
    writeBatch(dir, 2, Seq(("c", 1L)))
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    writeBatch(dir, 3, Seq(("a", 4L), ("d", 2L)))
    writeBatch(dir, 4, Seq(("b", 6L)))
    val truth = merged(dir)
    graft.core.Fs.copyDir(spark.sessionState.newHadoopConf(), dir, s"$base/pre")
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    assert(snapshotNames(dir).map(_.takeWhile(_ != '-')) === Seq("snapshot"))
    interrupt(dir, s"$base/pre")
    (dir, truth)
  }

  /** Put back the listed partition dirs (`batch_id=N`) and snapshot
   *  files of the pre-fold copy `pre`. */
  private def restore(dir: String, pre: String, parts: Seq[Long], oldSnapshot: Boolean): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    parts.foreach(id => graft.core.Fs.copyDir(conf, s"$pre/batch_id=$id", s"$dir/batch_id=$id"))
    if (oldSnapshot) snapshotNames(pre).foreach { f =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$pre/batch_id=-1/$f"),
        java.nio.file.Paths.get(s"$dir/batch_id=-1/$f"))
    }
  }

  /** At a step boundary the read is exact and deletes nothing; the next
   *  fold leaves exactly the snapshot of batches 0–3 and the open batch. */
  private def readsExactThenHeals(dir: String, truth: Map[String, Long]): Unit = {
    val files = tree(dir)
    assert(readVia(dir) === truth, "the live set must read exact counts")
    assert(tree(dir) === files, "a read must never delete")
    StoreCompaction.compactCounts(spark, dir, Seq("tk")): Unit
    assert(batchIds(dir) === Set(StoreCompaction.SnapshotBatchId, 4L))
    assert(snapshotNames(dir).size === 1 && snapshotNames(dir).head.startsWith("snapshot-3-"),
      s"one snapshot covering batch 3: ${snapshotNames(dir)}")
    assert(!stagingDir(dir).exists)
    assert(merged(dir) === truth)
  }

  test("a fold staged but not moved in: the read is exact, the next fold redoes it") {
    val (dir, truth) = midFold("graft_sc_staged") { (dir, pre) =>
      restore(dir, pre, Seq(2L, 3L), oldSnapshot = true)
      val snap = snapshotNames(dir).filter(_.startsWith("snapshot-3-"))
      val staged = new java.io.File(stagingDir(dir), "batch_id=-1")
      staged.mkdirs()
      snap.flatMap(f => Seq(f, s".$f.crc")).map(f => java.nio.file.Paths.get(s"$dir/batch_id=-1/$f"))
        .filter(java.nio.file.Files.exists(_))
        .foreach(f => java.nio.file.Files.move(f, staged.toPath.resolve(f.getFileName)))
    }
    assert(snapshotNames(dir).forall(_.startsWith("snapshot-1-")))
    readsExactThenHeals(dir, truth)
  }

  test("a new snapshot moved in beside the old snapshot and every source: the read is exact") {
    val (dir, truth) = midFold("graft_sc_movedin") { (dir, pre) =>
      restore(dir, pre, Seq(2L, 3L), oldSnapshot = true)
    }
    assert(snapshotNames(dir).size === 2)
    assert(merged(dir) != truth, "precondition: a raw read of this state double-counts")
    readsExactThenHeals(dir, truth)
  }

  test("a fold with half of its sources deleted: the read is exact") {
    val (dir, truth) = midFold("graft_sc_half") { (dir, pre) =>
      restore(dir, pre, Seq(3L), oldSnapshot = false)
    }
    assert(merged(dir) != truth, "precondition: a raw read of this state double-counts")
    readsExactThenHeals(dir, truth)
  }

  test("an old-format fold-<uuid> snapshot covers no batch id: the read is exact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_oldfmt").toString + "/store"
    val staged = s"$dir.staged"
    // what the previous fold wrote for batches 0-1, whose sources it deleted
    Seq(("a", 5L), ("b", 1L)).toDF("tk", "__c").coalesce(1).write.parquet(staged)
    val snapDir = new java.io.File(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}")
    snapDir.mkdirs()
    java.nio.file.Files.move(new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath,
      snapDir.toPath.resolve(s"fold-${java.util.UUID.randomUUID}.parquet"))
    writeBatch(dir, 2, Seq(("c", 1L)))
    writeBatch(dir, 3, Seq(("a", 4L), ("d", 2L)))
    writeBatch(dir, 4, Seq(("b", 6L)))
    val truth = Map("a" -> 9L, "b" -> 7L, "c" -> 1L, "d" -> 2L)
    assert(merged(dir) === truth)
    readsExactThenHeals(dir, truth)
  }

  test("building the read of a store with 40 batch partitions starts no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_jobs").toString + "/store"
    spark.range(0, 40, 1, 1)
      .select(lit("a").as("tk"), lit(1L).as("__c"), col("id").as("batch_id"))
      .write.partitionBy("batch_id").parquet(dir)
    val jobs = new graft.GroupJobs(spark.sparkContext)
    val (frame, started) = jobs {
      val df = StoreCompaction.read(spark, dir)
      (df, jobs.started())
    }
    assert(started === 0, s"building the read started $started jobs")
    assert(frame.agg(sum(col("__c"))).head.getLong(0) === 40L)
  }

  test("a fold that fails mid-write leaves no compact_tmp and the store as it was") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_fail").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 2L)))
    writeBatch(dir, 1, Seq(("a", 3L), ("b", 1L)))
    writeBatch(dir, 2, Seq(("b", 7L)))
    val before = merged(dir)
    val failing: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.withColumn("__c", when(col("__c") > 0, raise_error(lit("fold failed")))
        .otherwise(col("__c")).cast("long"))
    intercept[Exception](StoreCompaction.compactBatchStore(spark, dir, failing))
    assert(!stagingDir(dir).exists)
    assert(batchIds(dir) === Set(0L, 1L, 2L))
    assert(merged(dir) === before)
  }

  test("a store with nothing safely foldable is left untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc3").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 1L)))
    assert(!StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    assert(batchIds(dir) === Set(0L))
    writeBatch(dir, 1, Seq(("a", 1L)))
    // two partitions: only batch 0 is closed — a single-partition fold
    // gains nothing and is skipped
    assert(!StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    assert(batchIds(dir) === Set(0L, 1L))
    // an absent store is a no-op, not an error
    assert(!StoreCompaction.compactCounts(spark, dir + "_missing", Seq("tk")))
  }
}
