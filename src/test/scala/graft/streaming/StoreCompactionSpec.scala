package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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
    val cfg = IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4, maxFutureSec = Long.MaxValue / 4,
      cms = Some(IngestJob.CmsConfig("tags['user']", depth = 4, width = 32)),
      dds = Seq(IngestJob.DdsConfig("metric", "value", 0.02)),
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
    // snapshot); only the snapshot and the open (replayable) batch remain
    assert(batchIds(IngestJob.cmsPath(cfg)) === Set(StoreCompaction.SnapshotBatchId, 4L))
    assert(batchIds(IngestJob.ddsPath(cfg)) === Set(StoreCompaction.SnapshotBatchId, 4L))
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

  test("crash protocol: snapshot file is single and atomic, recovery completes or aborts") {
    val conf = spark.sessionState.newHadoopConf()
    // (a) a completed fold leaves ONE snapshot data file and no manifest
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_cr").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 2L), ("b", 1L)))
    writeBatch(dir, 1, Seq(("a", 3L)))
    writeBatch(dir, 2, Seq(("c", 1L)))
    val before = merged(dir)
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    val snap = new java.io.File(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}")
    assert(snap.listFiles().count(_.getName.endsWith(".parquet")) === 1,
      "snapshot must be one atomically-renamed file")
    assert(!snap.listFiles().exists(_.getName == "_fold_manifest"))

    // (b) crash AFTER the snapshot rename, BEFORE the source deletes:
    // rebuild that state by re-creating the folded sources + a manifest
    // naming them — recovery must finish the deletes, restoring the
    // exact pre-crash merged counts (no double-count survives)
    writeBatch(dir, 1, Seq(("a", 3L))) // the "undeleted" folded source
    val snapFile = snap.listFiles().filter(_.getName.endsWith(".parquet")).head
    val srcFiles = new java.io.File(s"$dir/batch_id=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val mf = new java.io.File(snap, "_fold_manifest")
    java.nio.file.Files.writeString(mf.toPath,
      (snapFile.getAbsolutePath +: srcFiles.toSeq).mkString("\n"))
    assert(merged(dir) != before, "precondition: the crashed state double-counts")
    StoreCompaction.recover(conf, dir)
    assert(merged(dir) === before, "recovery must remove the folded sources")
    assert(!mf.exists)

    // (c) crash BEFORE the snapshot rename: manifest names a target that
    // never arrived — recovery must abort without touching sources
    writeBatch(dir, 3, Seq(("d", 9L)))
    val src3 = new java.io.File(s"$dir/batch_id=3").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    java.nio.file.Files.writeString(mf.toPath,
      (s"${snap.getAbsolutePath}/never-arrived.parquet" +: src3.toSeq).mkString("\n"))
    val withNew = merged(dir)
    StoreCompaction.recover(conf, dir)
    assert(merged(dir) === withNew, "an aborted swap must lose nothing")
    assert(!mf.exists)
    // and the next fold entry (which recovers first) works normally
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    assert(merged(dir) === withNew)
  }

  private def readVia(dir: String): Map[String, Long] =
    StoreCompaction.read(spark, dir)
      .groupBy(col("tk")).agg(sum(col("__c")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("a reader between the snapshot rename and the source deletes reads exact counts and mutates nothing") {
    // the verdict-#4 window: manifest committed, snapshot renamed in,
    // folded sources NOT yet deleted (a live fold mid-swap, or a fold
    // that crashed there). StoreCompaction.read must treat the
    // manifest-planned sources as dead — exact counts — and must not
    // delete anything (a read racing the live fold's own cleanup would
    // otherwise destroy the manifest the protocol depends on).
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_win").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 2L), ("b", 1L)))
    writeBatch(dir, 1, Seq(("a", 3L)))
    writeBatch(dir, 2, Seq(("c", 1L)))
    val before = merged(dir)
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    // rebuild the mid-swap state: folded source back in place + manifest
    writeBatch(dir, 1, Seq(("a", 3L)))
    val snap = new java.io.File(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}")
    val snapFile = snap.listFiles().filter(_.getName.endsWith(".parquet")).head
    val srcFiles = new java.io.File(s"$dir/batch_id=1").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val mf = new java.io.File(snap, "_fold_manifest")
    java.nio.file.Files.writeString(mf.toPath,
      (snapFile.getAbsolutePath +: srcFiles.toSeq).mkString("\n"))
    assert(merged(dir) != before, "precondition: a raw read of this state double-counts")
    assert(readVia(dir) === before, "the read path must exclude manifest-dead sources")
    // pure: manifest and sources untouched by the read
    assert(mf.exists, "a read must never delete the manifest")
    assert(srcFiles.forall(f => new java.io.File(f).exists),
      "a read must never delete source files")
    // the next fold entry heals the window for real
    StoreCompaction.recover(spark.sessionState.newHadoopConf(), dir)
    assert(merged(dir) === before)
    assert(!mf.exists)
  }

  test("a reader with a manifest whose target never arrived reads the sources and mutates nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_win2").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 2L)))
    writeBatch(dir, 1, Seq(("b", 5L)))
    val truth = merged(dir)
    val snap = new java.io.File(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}")
    snap.mkdirs()
    val src = new java.io.File(s"$dir/batch_id=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val mf = new java.io.File(snap, "_fold_manifest")
    java.nio.file.Files.writeString(mf.toPath,
      (s"${snap.getAbsolutePath}/never-arrived.parquet" +: src.toSeq).mkString("\n"))
    // target absent ⇒ the fold never became durable ⇒ sources are truth
    assert(readVia(dir) === truth)
    assert(mf.exists, "a read must not abort-delete a manifest (fold-entry only)")
    assert(src.forall(f => new java.io.File(f).exists))
  }

  test("recover tolerates planned files another finisher already removed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sc_idem").toString + "/store"
    writeBatch(dir, 0, Seq(("a", 2L)))
    writeBatch(dir, 1, Seq(("b", 5L)))
    writeBatch(dir, 2, Seq(("c", 1L)))
    assert(StoreCompaction.compactCounts(spark, dir, Seq("tk")))
    val after = merged(dir)
    val snap = new java.io.File(s"$dir/batch_id=${StoreCompaction.SnapshotBatchId}")
    val snapFile = snap.listFiles().filter(_.getName.endsWith(".parquet")).head
    // a manifest whose planned sources are ALREADY gone (a concurrent
    // finisher won the exists-then-delete race): recover must finish
    // cleanly, not throw from a failed delete of a missing file
    val mf = new java.io.File(snap, "_fold_manifest")
    java.nio.file.Files.writeString(mf.toPath,
      Seq(snapFile.getAbsolutePath, s"$dir/batch_id=0/already-gone.parquet")
        .mkString("\n"))
    StoreCompaction.recover(spark.sessionState.newHadoopConf(), dir)
    assert(!mf.exists)
    assert(merged(dir) === after)
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
    assert(!new java.io.File(s"$dir.compact_tmp").exists)
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
