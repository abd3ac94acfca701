package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards for the pipeline operators' scale
 *  claims, pinned as assertions so a refactor cannot silently
 *  reintroduce a scale trap. */
class PipelinePlanSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private def spark = TestSpark.spark
  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("per-group top-k compiles to WindowGroupLimit (local top-k before the shuffle)") {
    assert(plan(graft.pipeline.Corpus.topKByDomain(docs, 25))
      .contains("WindowGroupLimit"))
    assert(plan(graft.pipeline.TextAnalysis.keywords(docs, 3))
      .contains("WindowGroupLimit"))
  }

  test("chunking is pure per-row generation: no exchange anywhere") {
    val p = plan(graft.pipeline.Corpus.chunk(docs, 32))
    assert(!p.contains("Exchange"), s"chunk must not shuffle:\n$p")
  }

  test("decontamination and near-dup joins have no cartesian product") {
    val p1 = plan(graft.pipeline.Corpus.decontaminate(docs, col("doc_id") % 97 === 0, 2))
    val p2 = plan(graft.pipeline.Dedup.nearDuplicates(docs, 0.5))
    // the incremental form probes the reference's band table: new x ref only
    val (sigsNew, sigsRef, incremental) = graft.pipeline.Dedup
      .nearDuplicatesAgainstReferenceLazy(docs.filter(col("doc_id") % 3 === 0),
        docs.filter(col("doc_id") % 2 === 0), 0.5, Int.MaxValue)
    val p3 = try plan(incremental) finally { sigsNew.unpersist(); sigsRef.unpersist() }
    Seq(p1, p2, p3).foreach { p =>
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"all-pairs product crept in:\n$p")
    }
  }

  test("text statistics are row-local: no exchange, window, aggregate or join") {
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExecBase
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Seq[(String, DataFrame => DataFrame)](
      "stats" -> TextAnalysis.stats, "quality" -> TextAnalysis.quality,
      "repetition" -> TextAnalysis.repetition, "gopherRules" -> TextAnalysis.gopherRules)
      .foreach { case (name, op) =>
        val df = op(docs)
        df.collect()
        val nodes = Nodes.collect(df.queryExecution.executedPlan) { case n => n }
        assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]),
          s"$name: the walk must reach the scan")
        val bad = nodes.filter {
          case _: Exchange | _: WindowExecBase | _: BaseAggregateExec | _: BaseJoinExec => true
          case _ => false
        }
        assert(bad.isEmpty, s"$name is not row-local: ${bad.map(_.nodeName).mkString(", ")}")
      }
  }

  test("embedding near-dup: per-(table, bucket) equi-join, scalar distinct, no cartesian") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val p = plan(graft.pipeline.Similarity.cosineNearDuplicates(emb, 0.3))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs product crept in:\n$p")
    // the cross-table pair dedup is a hash aggregate over three scalars —
    // an array-carrying dedup would fall to SortAggregate
    assert(!p.contains("SortAggregate"), s"scalar distinct degraded:\n$p")
  }

  test("MinHash candidates: signature arrays stay OFF the band self-join sides") {
    // the band join must carry only (doc_id, band, key) scalars; the
    // 32-long sig arrays attach AFTER pair dedup by two equi-joins
    val p = plan(graft.pipeline.Dedup.candidates(docs))
    assert(!p.contains("SortAggregate"), s"pair dedup degraded to SortAggregate:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("corpus_pipeline stages keep their exchange and join counts") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Nodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // every node of the planned (not yet run) physical plan, a persisted
    // frame's cached plan included once per scan of it
    def nodes(p: SparkPlan): Seq[SparkPlan] = Nodes.collect(p) { case n => n }.flatMap {
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case n => Seq(n)
    }
    def counts(df: DataFrame): (Int, Int) = {
      val ns = nodes(df.queryExecution.executedPlan)
      (ns.count(_.isInstanceOf[Exchange]), ns.count(_.isInstanceOf[BaseJoinExec]))
    }
    // the near_dup and ann stages as the benchmark runs them; a shared
    // ranker, probe or bucket-mate join that adds a shuffle or a join
    // to either fails here
    assert(counts(graft.pipeline.Dedup.nearDuplicates(docs, 0.5)) === ((8, 3)))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(counts(graft.pipeline.Similarity.ivfTopK(emb, col("vec_id") % 50 === 0, 10, 100))
      === ((6, 3)))
  }

  test("zipf-head join: explicit broadcast on the hot head survives planning") {
    val p = plan(graft.pipeline.TextAnalysis.corpusLogProb(docs))
    assert(p.contains("BroadcastHashJoin"), s"hot-head broadcast missing:\n$p")
  }

  test("duplicateSpans: one hash aggregate, no join, no sort aggregate") {
    val p = plan(graft.pipeline.Dedup.duplicateSpans(docs, 16, 8))
    assert(!p.contains("Join"), s"span dedup must be join-free:\n$p")
    assert(!p.contains("SortAggregate"), s"span group-by degraded:\n$p")
  }

  test("quality terciles: docs broadcast-join the histogram; the only Sort is the tiny histogram's") {
    val p = plan(graft.pipeline.Corpus.qualityBuckets(docs, 333, 333))
    assert(p.contains("BroadcastHashJoin"), s"bucket table must broadcast:\n$p")
    // the per-doc side must NOT sort: every Sort in the plan belongs to
    // the distinct-score histogram's prefix window (bounded input), which
    // sits under the broadcast side
    val afterBroadcast = p.substring(0, p.indexOf("BroadcastExchange"))
    assert(!afterBroadcast.contains("Sort "),
      s"a per-doc sort crept into the probe side:\n$p")
  }

  test("temperature sampling: rates broadcast; no doc-keyed exchange on the probe side") {
    val p = plan(graft.pipeline.Corpus.temperatureSample(docs, "source", 700))
    assert(p.contains("BroadcastHashJoin"), s"rates must broadcast:\n$p")
  }

  test("PII scrub: single codegen'd projection, no exchange") {
    val p = plan(graft.pipeline.TextAnalysis.redactPii(docs))
    assert(!p.contains("Exchange"), s"redaction must not shuffle:\n$p")
    // executedPlan.toString marks whole-stage-codegen spans with "*(n)"
    assert(p.contains("*(1) Project"), s"redaction fell out of codegen:\n$p")
  }

  test("span removal: canonical-per-fingerprint is a hash aggregate, no cartesian") {
    val p = plan(graft.pipeline.Corpus.removeDuplicateSpans(docs, 16))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs product crept in:\n$p")
  }

  test("PQ encode/search: packed-long argmin stays a HashAggregate; codebooks broadcast") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pEnc = plan(graft.pipeline.Similarity.pqEncode(emb, 8, 100))
    assert(!pEnc.contains("SortAggregate"), s"argmin buffer degraded:\n$pEnc")
    assert(!pEnc.contains("Window"), s"argmin must not plan a Window:\n$pEnc")
    assert(pEnc.contains("BroadcastHashJoin"), s"codebooks must broadcast:\n$pEnc")
    val pTop = plan(graft.pipeline.Similarity.pqTopK(emb, col("vec_id") % 25 === 0, 3, 8, 100))
    assert(!pTop.contains("CartesianProduct") && !pTop.contains("BroadcastNestedLoop"),
      s"ADC must join on (sub, code), never all-pairs:\n$pTop")
  }
}
