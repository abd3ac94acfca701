package graft

import graft.events.{EventsEngine, EventsQuery}
import graft.query._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Boundary semantics across operators — the cases a result-hash oracle
 *  rarely reaches. */
class EdgeCasesSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val tagset = Map("h" -> "a")

  test("empty selection flows through the whole engine without errors") {
    import graft.filters._
    val df = Fixtures.series("m", tagset, (0L, 1.0))
    val q = TsdbQuery(MetricLiteral(Seq("nonexistent")), 0, 3600,
      rate = Some(RateSpec()),
      downsample = Some(DownsampleSpec("1m", "avg")),
      groupBy = Some(GroupBySpec(Seq("h"), "sum")))
    assert(QueryEngine.run(df, q).count() === 0)
  }

  test("single-point series: rate drops it, downsample keeps it") {
    val df = Fixtures.series("m", tagset, (42L, 7.0))
    assert(QueryEngine.rate(df, RateSpec()).count() === 0)
    val ds = QueryEngine.downsample(df, DownsampleSpec("1m", "sum"), 0, 3600)
      .select("bucket_ts", "value").head
    assert(ds.getLong(0) === 0L && ds.getDouble(1) === 7.0)
  }

  test("single-point series: timeDifference drops it too; empty selection flows through") {
    val df = Fixtures.series("m", tagset, (42L, 7.0))
    assert(QueryEngine.timeDifference(df, TimeDifferenceSpec()).count() === 0)
    import graft.filters._
    val q = TsdbQuery(MetricLiteral(Seq("nonexistent")), 0, 3600,
      timeDifference = Some(TimeDifferenceSpec("hours")),
      downsample = Some(DownsampleSpec("1m", "avg")))
    assert(QueryEngine.run(df, q).count() === 0)
  }

  test("rerank with kCand beyond the corpus degenerates to exact search") {
    import spark.implicits._
    // 4 vectors, kCand = 100 >> corpus: candidates = everything, so the
    // re-rank IS brute-force cosine — and must agree with it
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.2f, 0.8f), 1)
    ).toDF("vec_id", "embedding", "label")
    val pred = col("vec_id") === 0
    val cb = graft.pipeline.Similarity.pqCodebooksK(emb, m = 2, k = 4)
    val rr = graft.pipeline.Similarity.rerankTopK(emb, cb, pred, 2, kCand = 100, m = 2)
      .select("rank", "vec_id").collect().map(r => r.getInt(0) -> r.getLong(1)).toSet
    val brute = graft.pipeline.Similarity.bruteForceTopK(emb, pred, 2)
      .select("rank", "vec_id").collect().map(r => r.getInt(0) -> r.getLong(1)).toSet
    assert(rr === brute)
    intercept[IllegalArgumentException] {
      graft.pipeline.Similarity.rerankTopK(emb, cb, pred, 3, kCand = 2, m = 2)
    }
  }

  test("paging beyond the result set returns empty, not an error (T1)") {
    import spark.implicits._
    val docs = Seq((1L, "ns", "s", "t", "m", "low", 10L, 20L, false))
      .toDF("event_id", "namespace", "source", "title", "message", "priority",
        "start_ts", "end_ts", "ongoing")
      .withColumn("dimensions", map(lit("host"), lit("w")))
    assert(EventsEngine.page(docs, EventsQuery(0, 100), from = 10, size = 5).count() === 0)
    assert(EventsEngine.page(docs, EventsQuery(0, 100), from = 0, size = 5).count() === 1)
  }

  test("meta queries on an empty filter selection return empty results") {
    import graft.filters._
    val dim = graft.sources.TsdbViews.seriesDim(
      Fixtures.series("m", tagset, (0L, 1.0)))
    assert(graft.meta.MetaQueries.metrics(dim, TagLiteral("h", Seq("zzz"))).count() === 0)
    assert(graft.meta.MetaQueries.tagValues(dim, MatchAll, "missing_key").count() === 0)
  }

  test("payload smaller than one frame yields exactly one short frame") {
    import spark.implicits._
    val docs = Seq((0L, "tiny", "en", "src0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = docs.select(col("doc_id"), lit("image").as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(lit(64).as("width"), lit(64).as("height"), lit(40L).as("duration_ms")).as("meta"))
    val fr = graft.pipeline.Multimodal.frames(media).collect()
    assert(fr.length === 1)
    assert(fr(0).getAs[Long]("frame_bytes") === 4L)
  }

  test("empty payload yields zero frames, not a spurious descending sequence") {
    import spark.implicits._
    val docs = Seq((0L, "", "en", "src0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = docs.select(col("doc_id"), lit("image").as("modality"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(lit(64).as("width"), lit(64).as("height"), lit(0L).as("duration_ms")).as("meta"))
    assert(graft.pipeline.Multimodal.frames(media).count() === 0)
  }

  test("percentile name validation: resolve and isRegistered agree, bad names throw") {
    for (ok <- Seq("p50", "p99.9", "p0", "p100"))
      assert(Aggregators.isRegistered(ok), ok)
    for (bad <- Seq("p", "p..", "p101", "pabc", "p99.99", "p-1"))
      assert(!Aggregators.isRegistered(bad), bad)
    for (bad <- Seq("p", "p..", "p101", "nope"))
      assertThrows[IllegalArgumentException](Aggregators.resolve(bad))
  }

  test("ingest maintenance no-ops are safe: empty rollup flush, missing lake compaction") {
    val base = java.nio.file.Files.createTempDirectory("graft_edge_ing").toString
    val cfg = graft.streaming.IngestJob.Config(s"$base/lake", s"$base/ckpt")
    graft.streaming.IngestJob.flushRung(spark, cfg, "1h", Seq.empty) // no segments: no-op
    assert(graft.streaming.IngestJob.compactPoints(spark, cfg) === Seq.empty) // no lake yet
    assert(graft.streaming.IngestJob.purge(cfg, Long.MaxValue) === Seq.empty)
  }

  test("ingest input modes resolve by scheme; unknown scheme throws") {
    assertThrows[IllegalArgumentException](
      graft.streaming.IngestInputs.start(spark, "bogus:x",
        graft.streaming.IngestJob.Config("/tmp/x", "/tmp/y")))
    assertThrows[IllegalArgumentException](
      graft.streaming.IngestInputs.start(spark, "kafka:no-topic-part",
        graft.streaming.IngestJob.Config("/tmp/x", "/tmp/y")))
    // file mode runs the real pipeline end-to-end
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_edge_in")
    val src = s"$base/src"
    Seq((1L, 1000L * 1000000000L, 1L, "cpu", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(src)
    val cfg = graft.streaming.IngestJob.Config(s"$base/lake", s"$base/ckpt",
      retentionSec = Long.MaxValue / 4)
    graft.streaming.IngestInputs.start(spark, s"file:$src", cfg).awaitTermination()
    assert(graft.streaming.IngestJob.points(spark, cfg).count() === 1)
  }

  test("rollup serve over a window with no rollup rows is empty, count included") {
    val pts = Fixtures.series("m", tagset, (0L, 1.0))
    val rollup = graft.rollup.Rollup.build(pts, "1h")
    for (agg <- Seq("sum", "count")) {
      val served = graft.rollup.Rollup.serve(rollup,
        DownsampleSpec("2h", agg), start = 7200, end = 14400)
      assert(served.count() === 0, s"agg=$agg: absent buckets stay absent (count fills 0 only within present rows)")
    }
  }

  test("dedupe is a no-op on already-unique timestamps") {
    val df = Fixtures.series("m", tagset, (0L, 1.0), (10L, 2.0), (20L, 3.0))
    assert(QueryEngine.dedupe(df).count() === 3)
  }

  test("lsh top-k with a query alone in its bucket returns no neighbors") {
    import spark.implicits._
    // two orthogonal-ish vectors forced into different sign buckets
    val emb = Seq(
      (0L, Array.fill(64)(1.0f), 0),
      (25L, Array.fill(64)(-1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity.lshTopK(emb, col("vec_id") === 25, 3)
    assert(out.count() === 0)
  }

  test("pipeline operators survive an empty corpus") {
    import spark.implicits._
    val none = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    import graft.pipeline._
    assert(TextAnalysis.repetition(none).count() === 0)
    assert(TextAnalysis.corpusLogProb(none).count() === 0)
    assert(TextAnalysis.keywords(none, 3).count() === 0)
    assert(Corpus.chunk(none, 32).count() === 0)
    assert(Corpus.decontaminate(none, col("doc_id") % 97 === 0).count() === 0)
    assert(Corpus.topKByDomain(none, 5).count() === 0)
    // the funnel report still emits its single row, with zero counts
    val rep = Corpus.report(none, 0.5).collect()
    assert(rep.length === 1)
    assert(rep.head.getAs[Long]("n_docs") === 0L)
    assert(rep.head.getAs[Long]("n_selected") === 0L)
  }

  test("round-11 operator validation: bad sketch/anomaly parameters throw, not corrupt") {
    import spark.implicits._
    import graft.operators.QuantileSketch
    val df = Seq(1.0, 2.0).toDF("v").withColumn("k", lit("m"))
    // alpha outside (0,1) is a planning error on both build and walk
    assertThrows[IllegalArgumentException](QuantileSketch.sketch(df, col("k"), col("v"), 0.0))
    assertThrows[IllegalArgumentException](QuantileSketch.sketch(df, col("k"), col("v"), 1.0))
    val b = QuantileSketch.sketch(df, col("k"), col("v"), 0.02)
    // quantiles must sit in [0, 1): q = 1 has no rank under the floor convention
    assertThrows[IllegalArgumentException](QuantileSketch.quantiles(b, Seq(1.0), 0.02))
    assertThrows[IllegalArgumentException](QuantileSketch.quantiles(b, Seq.empty, 0.02))
    // KMV set ops need a real sketch budget
    assertThrows[IllegalArgumentException](graft.meta.MetaQueries.sketchSetOps(
      df.withColumn("metric", lit("m")).withColumn("tags", map(lit("a"), lit("b"))),
      graft.filters.MatchAll, graft.filters.MatchAll, lit("x"), k = 1))
    // unknown anomaly model still throws through run()'s dispatch
    val pts = Fixtures.series("m", tagset, (0L, 1.0), (60L, 2.0))
    assertThrows[IllegalArgumentException](QueryEngine.run(pts,
      TsdbQuery(graft.filters.MatchAll, 0, 3600,
        downsample = Some(DownsampleSpec("1m", "count")),
        anomaly = Some(AnomalySpec(model = "prophet")))))
  }

  test("pmi parameter validation and empty-corpus behavior") {
    import spark.implicits._
    import graft.pipeline.TextAnalysis
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    assertThrows[IllegalArgumentException](TextAnalysis.pmi(docs, minCount = 0))
    assertThrows[IllegalArgumentException](TextAnalysis.pmi(docs, k = 0))
    assertThrows[IllegalArgumentException](TextAnalysis.pmi(docs, headVocab = 0))
    assertThrows[IllegalArgumentException](TextAnalysis.pmiFromCounts(
      TextAnalysis.unigramCounts(docs), TextAnalysis.bigramCounts(docs), k = 0))
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.pmi(none).count() === 0)
    assert(TextAnalysis.pmiFromCounts(
      TextAnalysis.unigramCounts(none), TextAnalysis.bigramCounts(none)).count() === 0)
  }

  test("transition matrix and DDSketch survive empty inputs") {
    import spark.implicits._
    val noEvents = Seq.empty[(Long, String, Long, Long)].toDF("u", "t", "ts", "seq")
    assert(graft.operators.Transitions.matrix(noEvents,
      col("u"), col("t"), col("ts"), col("seq")).count() === 0)
    val noVals = Seq.empty[(String, Double)].toDF("k", "v")
    val b = graft.operators.QuantileSketch.sketch(noVals, col("k"), col("v"), 0.02)
    assert(b.count() === 0)
    assert(graft.operators.QuantileSketch.quantiles(b, Seq(0.5), 0.02).count() === 0)
  }

  test("pipeline operators on empty and all-space documents: null fractions, no failure") {
    import spark.implicits._
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    import graft.pipeline._
    // both texts are the one empty token: a zero-length token stream
    val rep = TextAnalysis.repetition(blank).collect()
    assert(rep.length === 2)
    rep.foreach { r =>
      assert(r.getAs[Long]("n_tokens") === 1L)
      assert(r.getAs[Long]("top_bigram_cover") === 0L && r.getAs[Long]("max_token_run") === 1L)
      assert(r.isNullAt(r.fieldIndex("top_bigram_frac")) && r.isNullAt(r.fieldIndex("dup_5gram_frac")))
    }
    val gopher = TextAnalysis.gopherRules(blank).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(gopher.size === 2)
    gopher.values.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("top_bigram_frac")) && r.isNullAt(r.fieldIndex("dup_5gram_frac")))
      // the integer gates still decide: 0 ≤ 0 passes, a 1-token count fails
      assert(r.getAs[Boolean]("r_rep") && !r.getAs[Boolean]("r_count") && !r.getAs[Boolean]("keep"))
    }
    assert(gopher(1L).isNullAt(gopher(1L).fieldIndex("symbol_ratio")))
    assert(gopher(2L).getAs[Double]("symbol_ratio") === 0.0)
    val st = TextAnalysis.stats(blank).collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(st(1L).isNullAt(st(1L).fieldIndex("alpha_ratio")) &&
      st(1L).isNullAt(st(1L).fieldIndex("digit_ratio")))
    assert(st(2L).getAs[Double]("alpha_ratio") === 0.0)
    assert(TextAnalysis.quality(blank).filter(col("keep")).count() === 0)
  }

  test("pipeline operators on a one-token document") {
    import spark.implicits._
    val one = Seq((7L, "word")).toDF("doc_id", "text")
    import graft.pipeline._
    val rep = TextAnalysis.repetition(one).collect()
    assert(rep.length === 1) // no bigrams/5-grams: covers coalesce to 0
    assert(rep.head.getAs[Long]("top_bigram_cover") === 0L)
    assert(rep.head.getAs[Long]("max_token_run") === 1L)
    val ch = Corpus.chunk(one, 32).collect()
    assert(ch.length === 1 && ch.head.getAs[Long]("n_tokens") === 1L)
    val lp = TextAnalysis.corpusLogProb(one).collect()
    assert(lp.length === 1)
    assert(lp.head.getAs[Double]("avg_logprob") === 0.0) // p = 1/1
    assert(lp.head.getAs[Double]("entropy") === 0.0)
  }
}
