package graftbench

import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/**
 * The training-data path: one pass runs `Dedup.exact` →
 * `Dedup.nearDuplicates` → `Dedup.duplicateClusters` →
 * `TextAnalysis.quality` and `gopherRules` → `Similarity.ivfTopK` over a
 * seeded corpus with planted exact and near duplicates. The work is
 * multi-job and shuffle-heavy and never enters the query layer.
 */
object CorpusPipeline {
  /** What one pass returned, as the checks need it. */
  final case class Pass(exact: Set[(Long, Long)], pairs: Set[(Long, Long)],
      clusters: Map[Long, Long], textRows: (Long, Long), ann: Seq[(Long, Int, Long, Double)])
}

final class CorpusPipeline(seed: Long, work: String) extends Workload {
  import CorpusPipeline.Pass
  val name = "corpus_pipeline"
  val opSpan = "pass"
  val minOps = 2
  val nDocs = 1000
  private val threshold = 0.8
  private val topK = 10
  private val dir = s"$work/corpus"
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var corpus: Gen.Corpus = _

  def setup(s: SparkSession): Unit = {
    spark = s
    corpus = Gen.corpus(seed, nDocs)
    import s.implicits._
    corpus.docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    corpus.embeddings.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def emb: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")

  def inputDigest(): String = s"${Gen.digest(docs)}/${Gen.digest(emb)}"

  private def stage[T](st: String)(f: => DataFrame)(collect: DataFrame => T): T =
    tracer.span(s"pipeline.$st", "pipeline") {
      val df = f
      tracer.span("spark.exec", "spark") {
        val r = collect(df)
        if (tracer.enabled) tracer.note("exchanges", PlanStats.of(df.queryExecution.executedPlan).exchanges)
        r
      }
    }

  private def exact(d: DataFrame): Set[(Long, Long)] =
    stage("exact")(Dedup.exact(d).filter(col("n_copies") > 1)) { df =>
      df.select("canonical_id", "n_copies").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }

  /** Near-duplicate pairs, and the clusters they form. */
  private def nearDups(d: DataFrame): (Set[(Long, Long)], Map[Long, Long]) = {
    var pairsDf: DataFrame = null
    val pairs = stage("near_dup") {
      pairsDf = Dedup.nearDuplicates(d, threshold).select("doc_a", "doc_b").persist()
      pairsDf
    }(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val clusters = try stage("clusters")(Dedup.duplicateClusters(pairsDf)) {
      _.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally pairsDf.unpersist()
    (pairs, clusters)
  }

  private def text(d: DataFrame): (Long, Long) = tracer.span("pipeline.text", "pipeline") {
    val q = TextAnalysis.quality(d).agg(count(lit(1)), sum(col("keep").cast("long")))
    val g = TextAnalysis.gopherRules(d).agg(count(lit(1)), sum(col("keep").cast("long")))
    tracer.span("spark.exec", "spark") {
      val (qr, gr) = (q.head, g.head)
      if (tracer.enabled) tracer.note("exchanges",
        Seq(q, g).map(x => PlanStats.of(x.queryExecution.executedPlan).exchanges).sum)
      require(qr.getLong(0) == gr.getLong(0), s"quality saw ${qr.getLong(0)} docs, gopher ${gr.getLong(0)}")
      (qr.getLong(0), gr.getLong(0))
    }
  }

  private def ann(): Seq[(Long, Int, Long, Double)] =
    stage("ann")(Similarity.ivfTopK(emb, col("vec_id") % 50 === 0, topK, 100)) {
      _.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    }

  private def pass(): Pass = tracer.request("pass") {
    val d = docs
    val ex = exact(d)
    val (pairs, clusters) = nearDups(d)
    val textRows = text(d)
    Pass(ex, pairs, clusters, textRows, ann())
  }

  /** The checks of one pass; returns the failures (0 to 5, one per stage). */
  private def check(p: Pass): Int = {
    def fail(stageName: String, msg: String): Int = {
      System.err.println(s"corpus stage $stageName: $msg"); 1
    }
    val planted = corpus.exactGroups.map(g => (g.min, g.size.toLong)).toSet
    val missing = planted -- p.exact
    val exactF = if (missing.isEmpty) 0 else fail("exact", s"${missing.size} planted groups not found")
    val split = corpus.exactGroups.filter(g => g.map(p.clusters.get).distinct.size != 1)
    val clusterF = if (split.isEmpty) 0 else fail("clusters", s"${split.size} exact groups not in one cluster")
    val textF = if (p.textRows._1 == corpus.docs.size) 0
      else fail("text", s"${p.textRows._1} rows for ${corpus.docs.size} docs")
    val byQuery = p.ann.groupBy(_._1)
    val annBad = byQuery.values.count { rs =>
      val s = rs.sortBy(_._2)
      s.map(_._2) != (1 to s.size) || s.size > topK ||
        s.sliding(2).exists { case Seq(a, b) => a._4 < b._4; case _ => false }
    }
    val annF = if (annBad == 0 && byQuery.nonEmpty) 0 else fail("ann", s"$annBad malformed top-k lists")
    exactF + clusterF + textF + annF
  }

  private def nearRecall(p: Pass): Double =
    corpus.nearPairs.count(x => p.pairs.contains(x)).toDouble / corpus.nearPairs.size

  private def twinRecall(p: Pass): Double = {
    val hits = p.ann.map(r => (r._1, r._3)).toSet
    val asked = corpus.vectorTwins.filter(_._1 % 50 == 0)
    if (asked.isEmpty) 0.0 else asked.count(hits.contains).toDouble / asked.size
  }

  private var last: Pass = _

  /** Untimed: every stage once, the four independent ones side by side,
   *  so their first-run compilation overlaps. */
  def warmup(): Unit = {
    tracer = new Tracer(spark.sparkContext, enabled = false)
    val d = docs
    Workload.parallel(Seq[() => Any](() => exact(d), () => nearDups(d), () => text(d), () => ann()))(_())
  }

  def measure(seconds: Double, minOps: Int, tr: Tracer): Phase = {
    tracer = tr
    val passMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var attempted = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || passMs.size < minOps) {
      attempted += 5
      val (res, ms) = Workload.timeMs(Try(pass()))
      passMs += ms
      res match {
        case Success(p) =>
          failed += check(p)
          last = p
        case Failure(e) =>
          System.err.println(s"corpus pass failed: $e")
          failed += 5
      }
    }
    val med = Stats.median(passMs.toSeq).value
    Phase(attempted, failed, passMs.toSeq, corpus.docs.size / (med / 1000.0),
      Seq(Metric("pipeline_docs_per_s", corpus.docs.size / (med / 1000.0), "docs/s")),
      Seq(f"passes=${passMs.size} docs=${corpus.docs.size} " +
        f"near_dup_recall=${Option(last).map(nearRecall).getOrElse(0.0)}%.4f " +
        f"ann_twin_recall=${Option(last).map(twinRecall).getOrElse(0.0)}%.4f"))
  }

  def perLayer(v: TraceView): Map[String, Double] = {
    val passes = v.roots("pass")
    val n = passes.size.max(1).toDouble
    val candidates = Dedup.candidates(docs).count()
    val stages = PerLayer.PipelineStages.flatMap { st =>
      val ss = v.named(s"pipeline.$st")
      val jobs = ss.flatMap(v.jobsUnder)
      Seq(
        s"pipeline.${st}_ms" -> v.msOf(ss) / n,
        s"pipeline.${st}_jobs" -> jobs.size / n,
        s"pipeline.${st}_shuffle_bytes" -> jobs.map(_.shuffleWrite).sum / n)
    }
    stages.toMap ++ Map(
      "plans.exchanges" -> v.note(v.named("spark.exec"), "exchanges") / n,
      "pipeline.verified_per_candidate" ->
        PerLayer.ratio(Option(last).map(_.pairs.size).getOrElse(0).toDouble, candidates.toDouble),
      "pipeline.near_dup_recall" -> Option(last).map(nearRecall).getOrElse(0.0),
      "pipeline.ann_twin_recall" -> Option(last).map(twinRecall).getOrElse(0.0))
  }
}
