package graft.streaming

import graft.TestSpark
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streamed IVF index: assignment-on-ingest must be bit-identical to a
 *  batch re-assignment, incremental batches must append into the same
 *  index, and the cell partitioning must actually prune. */
class EmbedIngestSpec extends AnyFunSuite {

  test("streamed index == batch assignment; second crawl appends; cell partitions prune") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_embingest")
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")

    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 6f)
    def land(ids: Long*): Unit =
      ids.map(i => (i, vec(i), (i % 3).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.mode("append").parquet(src)

    land(0L to 49L: _*)
    val all = spark.read.parquet(src)
    val cents = Similarity.hashSampledCentroids(all, 8)
    EmbedIngest.run(spark, src, cents, out, ckpt)

    val streamed = spark.read.parquet(out)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("d"))
      .as[(Long, Long, Double)].collect().toSet
    val batch = Similarity.ivfAssignWith(all, cents)
      .select(col("vec_id"), col("cell"), col("d"))
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch, "streamed index must equal the batch assignment bit-for-bit")

    // a second crawl drains through the SAME checkpoint and appends; the
    // first crawl's rows are not re-emitted (source-file dedup)
    land(50L to 59L: _*)
    EmbedIngest.run(spark, src, cents, out, ckpt)
    val after = spark.read.parquet(out)
    assert(after.count() === 60)
    assert(after.groupBy("vec_id").count().filter(col("count") > 1).count() === 0,
      "replayed source files must not duplicate index rows")

    // retry idempotency: a micro-batch replayed after a crash between
    // the parquet write and the checkpoint commit re-writes its OWN
    // batch_id directory (overwrite), never appending duplicates —
    // simulate the retry by re-emitting batch 1's rows at its sink path
    val batch1Count = spark.read.parquet(s"$out/batch_id=1").count()
    Similarity.ivfAssignWith(
        spark.read.parquet(src).filter(col("vec_id") >= 50), cents)
      .select(col("vec_id"), col("cell"), col("d"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$out/batch_id=1")
    assert(spark.read.parquet(out).count() === 60,
      "a retried micro-batch must replace its directory, not append")
    assert(spark.read.parquet(s"$out/batch_id=1").count() === batch1Count)

    // partition pruning: a one-cell probe must read only that partition
    val cell = after.select("cell").head.getAs[Number]("cell").longValue()
    val probe = spark.read.parquet(out).filter(col("cell") === cell)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(cell"),
      s"cell filter must prune index partitions:\n$scan")
  }

  test("streamed query serving == batch IVF for corpus queries; external query answered") {
    val spark = TestSpark.spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_annserve_spec")

    def vec(seed: Long): Array[Float] =
      Array.tabulate(64)(i => (((seed * 31 + i * 7) % 13) - 6).toFloat / 6f)
    val corpus = (0L to 49L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.hashSampledCentroids(corpus, 8)
    val assigned = Similarity.ivfAssignWith(corpus, cents)

    // requests: the corpus's own %10 vectors PLUS one external id, split
    // across two files/batches
    (0L to 49L).filter(_ % 10 == 0).map(i => (i, vec(i)))
      .toDF("q_id", "embedding").write.parquet(s"$base/src")
    Seq((1000L, vec(1000L))).toDF("q_id", "embedding")
      .write.mode("append").parquet(s"$base/src")
    EmbedIngest.runQueryServe(spark, s"$base/src", assigned, cents,
      s"$base/out", s"$base/ckpt", k = 3, nprobe = 1, maxFilesPerTrigger = Some(1))

    val served = spark.read.parquet(s"$base/out")
      .select("q_id", "rank", "vec_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val batch = Similarity.ivfTopKWith(corpus, cents, col("vec_id") % 10 === 0, 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    // the corpus queries' streamed answers are bit-identical to the
    // batch IVF; the external request adds its own rows on top
    assert(served.filter(_._1 != 1000L) === batch)
    val ext = served.filter(_._1 == 1000L)
    assert(ext.map(_._2) === Set(1, 2, 3) && ext.forall(_._3 != 1000L))

    // multi-probe: each request scans its 3 nearest cells, and the corpus
    // queries' answers stay bit-identical to the batch IVF's 3-cell probe
    EmbedIngest.runQueryServe(spark, s"$base/src", assigned, cents,
      s"$base/out3", s"$base/ckpt3", k = 3, nprobe = 3, maxFilesPerTrigger = Some(1))
    val served3 = spark.read.parquet(s"$base/out3")
      .select("q_id", "rank", "vec_id", "sim")
      .as[(Long, Int, Long, Double)].collect().toSet
    val batch3 = Similarity.ivfTopKWith(corpus, cents, col("vec_id") % 10 === 0, 3, nprobe = 3)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(served3.filter(_._1 != 1000L) === batch3)
    assert(served3.count(_._1 == 1000L) === 3)
    // the 3 probed cells include each query's own cell, so every rank
    // scores at least what the single-cell probe found there
    val sim1 = batch.map(r => (r._1, r._2) -> r._4).toMap
    assert(batch3.forall(r => sim1.get((r._1, r._2)).forall(r._4 >= _)))
    // probing all 8 cells scans the whole corpus: exactly brute force
    val corpusQueries = corpus.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))
    assert(Similarity.ivfTopKQueries(assigned, cents, corpusQueries, 3, nprobe = 8)
      .as[(Long, Int, Long, Double)].collect().toSet ===
      Similarity.bruteForceTopK(corpus, col("vec_id") % 10 === 0, 3)
        .as[(Long, Int, Long, Double)].collect().toSet)
  }
}
