package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The upstream TSDB 3.x analytic nodes (sliding window, top-n,
 *  expression) over the engine's aggregated output shape — semantics
 *  (trailing frames over existing buckets, deterministic ranked cut,
 *  intersection joins) plus their plan shapes. */
class SeriesAnalyticsSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  // an aggregated frame: two series, bucket 30 missing for series b
  private def agg = Seq(
    ("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 3.0), ("a", 40L, 4.0),
    ("b", 10L, 10.0), ("b", 20L, 20.0), ("b", 40L, 40.0)
  ).toDF("series", "bucket_ts", "value")

  test("sliding avg: trailing frame over the buckets that EXIST (gaps skip, not zero-fill)") {
    val out = SeriesAnalytics.sliding(agg, Seq(col("series")), 3, "avg")
      .select("series", "bucket_ts", "value").as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("a", 10L, 1.0), ("a", 20L, 1.5), ("a", 30L, 2.0), ("a", 40L, 3.0),
      // b@40's frame is the three EXISTING buckets 10,20,40 — the
      // missing bucket 30 does not contribute a zero
      ("b", 10L, 10.0), ("b", 20L, 15.0), ("b", 40L, (10.0 + 20.0 + 40.0) / 3)))
  }

  test("sliding max/sum honor the frame width; buckets=1 is identity") {
    val mx = SeriesAnalytics.sliding(agg, Seq(col("series")), 2, "max")
      .filter(col("series") === "a").select("bucket_ts", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(mx.toSeq === Seq((10L, 1.0), (20L, 2.0), (30L, 3.0), (40L, 4.0)))
    val id = SeriesAnalytics.sliding(agg, Seq(col("series")), 1, "sum")
      .select("series", "bucket_ts", "value").as[(String, Long, Double)].collect().toSet
    assert(id === agg.as[(String, Long, Double)].collect().toSet)
    intercept[IllegalArgumentException] {
      SeriesAnalytics.sliding(agg, Seq(col("series")), 0, "avg")
    }
    // the plugin registry serves the sliding node too (round 10 — the
    // upstream factory resolves percentiles from the shared registry):
    // a's values are 1,2,3,4 → trailing-3 medians 1, 1.5, 2, 3
    val med = SeriesAnalytics.sliding(agg, Seq(col("series")), 3, "median")
      .filter(col("series") === "a").select("bucket_ts", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(med.toSeq === Seq((10L, 1.0), (20L, 1.5), (30L, 2.0), (40L, 3.0)))
    // identity-over-frame and unknown names still fail the config
    intercept[IllegalArgumentException] {
      SeriesAnalytics.sliding(agg, Seq(col("series")), 3, "last")
    }
    intercept[IllegalArgumentException] {
      SeriesAnalytics.sliding(agg, Seq(col("series")), 3, "nope")
    }
  }

  test("sliding registry aggregators receive bucket_ts as the time axis (not a constant)") {
    // "first" resolves through the registry as min_by(value, ts): with
    // bucket_ts as ts, a trailing-3 frame over a's 1,2,3,4 yields the
    // frame's EARLIEST value 1,1,1,2 — a constant ts column would make
    // every min_by pick arbitrary
    val out = SeriesAnalytics.sliding(agg, Seq(col("series")), 3, "first")
      .filter(col("series") === "a").select("bucket_ts", "value")
      .as[(Long, Double)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((10L, 1.0), (20L, 1.0), (30L, 1.0), (40L, 2.0)))
  }

  test("topN keeps the n best series' FULL bucket rows + their total; bottom-n via top=false") {
    val top1 = SeriesAnalytics.topN(agg, Seq("series"), 1)
    assert(top1.select("series").distinct().as[String].collect().toSeq === Seq("b"))
    assert(top1.count() === 3) // all of b's bucket rows survive the cut
    assert(top1.select("series_total").distinct().as[Double].collect().toSeq === Seq(70.0))
    val bottom = SeriesAnalytics.topN(agg, Seq("series"), 1, top = false)
    assert(bottom.select("series").distinct().as[String].collect().toSeq === Seq("a"))
  }

  test("topN tie on total resolves by key ascending — the cut is deterministic") {
    val tied = Seq(("z", 1L, 5.0), ("a", 1L, 5.0), ("m", 1L, 5.0))
      .toDF("series", "bucket_ts", "value")
    val keep = SeriesAnalytics.topN(tied, Seq("series"), 2)
      .select("series").as[String].collect().sorted
    assert(keep.toSeq === Seq("a", "m"))
  }

  test("topN ranking aggregator (upstream TopNConfig.aggregator): max/avg/last differ from sum") {
    // a: steady 30+30 (sum 60, max 30, last 30)
    // b: spike 50+1   (sum 51, max 50, last 1)
    val ds = Seq(("a", 10L, 30.0), ("a", 20L, 30.0), ("b", 10L, 50.0), ("b", 20L, 1.0))
      .toDF("series", "bucket_ts", "value")
    def win(agg: String) = SeriesAnalytics.topN(ds, Seq("series"), 1, agg = agg)
      .select("series").distinct().as[String].collect().toSeq
    assert(win("sum") === Seq("a"), "by total, steady a wins")
    assert(win("max") === Seq("b"), "by peak, spiky b wins")
    assert(win("avg") === Seq("a"))
    assert(win("last") === Seq("a"), "last bucket: a=30 beats b=1")
    val stat = SeriesAnalytics.topN(ds, Seq("series"), 1, agg = "max")
      .select("series_total").distinct().as[Double].collect().toSeq
    assert(stat === Seq(50.0), "series_total carries the ranking statistic, not the sum")
    assertThrows[IllegalArgumentException](SeriesAnalytics.topN(ds, Seq("series"), 1, agg = "p95"))
  }

  test("binary: intersection join semantics; divide drops zero denominators") {
    val l = Seq(("u1", 10L, 6.0), ("u1", 20L, 8.0), ("u2", 10L, 9.0))
      .toDF("k", "bucket_ts", "value")
    val r = Seq(("u1", 10L, 2.0), ("u1", 20L, 0.0), ("u3", 10L, 7.0))
      .toDF("k", "bucket_ts", "value")
    val div = SeriesAnalytics.binary(l, r, Seq("k"), "divide")
      .select("k", "bucket_ts", "value").as[(String, Long, Double)].collect()
    // u1@20 drops (zero denominator); u2/u3 drop (no intersection)
    assert(div.toSeq === Seq(("u1", 10L, 3.0)))
    val sub = SeriesAnalytics.binary(l, r, Seq("k"), "subtract")
      .select("value").as[Double].collect().sorted
    assert(sub.toSeq === Seq(4.0, 8.0))
    intercept[IllegalArgumentException] {
      SeriesAnalytics.binary(l, r, Seq("k"), "modulo")
    }
  }

  test("zscore: expanding history, warm-up nulls, zero-variance guard, threshold flag") {
    val s = spark
    import s.implicits._
    val ds = Seq(
      ("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 3.0), ("a", 40L, 100.0),
      ("b", 10L, 5.0), ("b", 20L, 5.0), ("b", 30L, 5.0), ("b", 40L, 9.0)
    ).toDF("series", "bucket_ts", "value")
    val out = SeriesAnalytics.zscore(ds, Seq(col("series")))
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(3)) None else Some(r.getDouble(3))), r.getBoolean(4))).toMap
    // warm-up: fewer than 3 history buckets → null z, not flagged
    assert(out(("a", 10L)) === ((None, false)) && out(("a", 30L)) === ((None, false)))
    // history 1,2,3: mean 2, sd 1 → z = 98, flagged
    assert(out(("a", 40L)) === ((Some(98.0), true)))
    // zero-variance history (5,5,5): sd = 0 → null z even with history
    assert(out(("b", 40L)) === ((None, false)))
  }

  test("robustZscore flags the masked outlier a retrospective stddev detector misses") {
    val s = spark
    import s.implicits._
    val vals = Seq(8.0, 9.0, 10.0, 11.0, 12.0, 100.0)
    val ds = vals.zipWithIndex.map { case (v, i) => ("a", (i + 1) * 10L, v) }
      .toDF("series", "bucket_ts", "value")
    // the masking premise: the spike inflates the cohort stddev so its own
    // plain z stays under 3 — mean 25, sd ~36.8, z(100) ~ 2.04
    val mean = vals.sum / vals.size
    val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / (vals.size - 1))
    assert(math.abs(100.0 - mean) / sd < 3.0, "premise: plain z must miss the spike")
    val out = SeriesAnalytics.robustZscore(ds, Seq("series"), lit(0))
      .collect().map(r => r.getDouble(2) ->
        ((if (r.isNullAt(4)) None else Some(r.getDouble(4))), r.getBoolean(5))).toMap
    // med 10.5, mad 1.5 → rz(100) = 89.5/(1.4826*1.5) ≈ 40.2 → flagged
    val (rzOpt, flagged) = out(100.0)
    assert(flagged && math.abs(rzOpt.get - 89.5 / (1.4826 * 1.5)) < 1e-4)
    // the in-cohort values stay unflagged: rz(8) = -2.5/2.2239 ≈ -1.12
    assert(out(8.0) === ((Some(BigDecimal(-2.5 / (1.4826 * 1.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble), false)))
    assert(!out(12.0)._2)
  }

  test("robustZscore: a zero-MAD cohort emits null scores and never flags") {
    val s = spark
    import s.implicits._
    val ds = Seq(5.0, 5.0, 5.0, 9.0).zipWithIndex
      .map { case (v, i) => ("a", (i + 1) * 10L, v) }
      .toDF("series", "bucket_ts", "value")
    // med 5, adev [0,0,0,4] → mad 0: no scale to score against
    val out = SeriesAnalytics.robustZscore(ds, Seq("series"), lit(0)).collect()
    assert(out.forall(r => r.isNullAt(4) && !r.getBoolean(5)))
  }

  test("robustZscore: the seasonal position splits cohorts — same value, different verdicts") {
    val s = spark
    import s.implicits._
    // slot 0 cohort is tight around 10 (50 is anomalous there);
    // slot 1 cohort is spread 40..60 (50 is its median)
    val rows = Seq(9.0, 10.0, 10.0, 11.0, 50.0).zipWithIndex.map {
      case (v, i) => ("a", i * 20L, v) } ++
      Seq(40.0, 45.0, 50.0, 55.0, 60.0).zipWithIndex.map {
        case (v, i) => ("a", i * 20L + 10L, v) }
    val ds = rows.toDF("series", "bucket_ts", "value")
    val out = SeriesAnalytics.robustZscore(ds, Seq("series"),
      (col("bucket_ts") / 10) % 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)) -> r.getBoolean(5)).toMap
    assert(out((80L, 50.0)), "50 in the tight slot-0 cohort must flag")
    assert(!out((50L, 50.0)), "50 is the median of the spread slot-1 cohort")
  }

  test("summarize: one row per series with the requested summary columns; first/last by bucket order") {
    val out = SeriesAnalytics.summarize(agg, Seq("series"),
      Seq("avg", "sum", "min", "max", "count", "first", "last"))
    assert(out.columns.toSeq === Seq("series", "avg_value", "sum_value", "min_value",
      "max_value", "n_buckets", "first_value", "last_value"))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    val a = rows("a")
    assert(a.getDouble(1) === 2.5 && a.getDouble(2) === 10.0 && a.getDouble(3) === 1.0)
    assert(a.getDouble(4) === 4.0 && a.getLong(5) === 4L)
    assert(a.getDouble(6) === 1.0 && a.getDouble(7) === 4.0) // first@10, last@40
    val b = rows("b")
    assert(b.getLong(5) === 3L && b.getDouble(7) === 40.0) // gap doesn't break last
    // percentile summaries (upstream pNN vocabulary): exact
    // interpolation — p50 of {1,2,3,4} = 2.5, p75 = 3.25
    val pct = SeriesAnalytics.summarize(agg, Seq("series"), Seq("p50", "p75"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(pct("a") === ((2.5, 3.25)))
    assert(pct("b") === ((20.0, 30.0))) // {10,20,40}: p75 = 20 + 0.5*(40-20)
    intercept[IllegalArgumentException] {
      SeriesAnalytics.summarize(agg, Seq("series"), Seq("median"))
    }
    intercept[IllegalArgumentException] {
      SeriesAnalytics.summarize(agg, Seq("series"), Seq("p0"))
    }
    intercept[IllegalArgumentException] {
      SeriesAnalytics.summarize(agg, Seq("series"), Nil)
    }
  }

  test("ratio: per-bucket share of the all-series total; zero-total buckets drop") {
    val withZero = agg.union(Seq(("c", 50L, 5.0), ("d", 50L, -5.0)).toDF("series", "bucket_ts", "value"))
    val out = SeriesAnalytics.ratio(withZero, asPercent = true)
      .select("series", "bucket_ts", "value").as[(String, Long, Double)]
      .collect().sortBy(r => (r._2, r._1))
    // bucket 10 total = 11 → a: 100/11, b: 1000/11; bucket 50 total = 0 → dropped
    assert(!out.exists(_._2 == 50L), "zero-total bucket must drop, not emit infinities")
    val b10 = out.filter(_._2 == 10L).map(r => r._1 -> r._3).toMap
    assert(math.abs(b10("a") - 100.0 / 11) < 1e-12 && math.abs(b10("b") - 1000.0 / 11) < 1e-12)
    // asPercent = false: shares sum to 1 per surviving bucket
    val shares = SeriesAnalytics.ratio(agg, asPercent = false)
      .groupBy("bucket_ts").agg(sum("value").as("s"))
      .select("s").as[Double].collect()
    shares.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("ratio plan: the per-bucket total broadcasts back (no series-frame shuffle)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .groupBy(col("source").as("series"), (col("doc_id") % 7).as("bucket_ts"))
      .agg(sum(col("n_chars")).cast("double").as("value"))
    val r = SeriesAnalytics.ratio(docs)
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket totals must broadcast onto the series rows:\n$plan")
  }

  test("plan shapes: partitioned window (never a global sort); ranked cut is " +
      "TakeOrderedAndProject; winners broadcast onto the bucket rows") {
    // parquet-backed AGGREGATED input (the operators' contract shape) so
    // optimizer rewrites can't hide the plan shapes
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .groupBy(col("source").as("series"), (col("doc_id") % 7).as("bucket_ts"))
      .agg(sum(col("n_chars")).cast("double").as("value"))
    val pSlide = SeriesAnalytics.sliding(docs, Seq(col("series")), 3, "avg")
      .queryExecution.executedPlan.toString
    assert(pSlide.contains("Window") && !pSlide.contains("SinglePartition"),
      s"sliding window must partition by the series key:\n$pSlide")
    val top = SeriesAnalytics.topN(docs, Seq("series"), 5)
    val pTop = top.queryExecution.executedPlan.toString
    assert(pTop.contains("TakeOrderedAndProject"),
      s"ranked cut must be a local-top-n, not a global sort:\n$pTop")
    assert(pTop.contains("BroadcastHashJoin"),
      s"the n-row winner table must broadcast:\n$pTop")
    // topN references its input twice (totals + output join). The two
    // branches share an identical scan→partial-agg→Exchange prefix, so
    // AQE MUST reuse the exchange at runtime — the input is scanned
    // once, not twice (at 100 TB the double scan would double the query)
    top.collect()
    val executed = top.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("ReusedQueryStage"),
      s"AQE exchange reuse must dedupe the double input reference:\n$executed")
  }

  test("movingAverage: truncated EWMA with exact dyadic weights; head renormalizes") {
    val out = SeriesAnalytics.movingAverage(agg, Seq(col("series")), samples = 2, alpha = 0.5)
      .select("series", "bucket_ts", "value").as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    // weight chain (1, 0.5): head bucket has no lag-1 → denominator 1.0
    assert(out.toSeq === Seq(
      ("a", 10L, 1.0), ("a", 20L, (2.0 + 0.5 * 1.0) / 1.5),
      ("a", 30L, (3.0 + 0.5 * 2.0) / 1.5), ("a", 40L, (4.0 + 0.5 * 3.0) / 1.5),
      // b's missing bucket 30 does not zero-contribute: lag is over the
      // buckets that EXIST, so b@40 smooths against b@20
      ("b", 10L, 10.0), ("b", 20L, (20.0 + 0.5 * 10.0) / 1.5),
      ("b", 40L, (40.0 + 0.5 * 20.0) / 1.5)))
    intercept[IllegalArgumentException] {
      SeriesAnalytics.movingAverage(agg, Seq(col("series")), 0)
    }
    intercept[IllegalArgumentException] {
      SeriesAnalytics.movingAverage(agg, Seq(col("series")), 3, alpha = 1.5)
    }
  }

  test("movingAverage exponential=false: equal-weight trailing mean, head renormalizes") {
    val out = SeriesAnalytics.movingAverage(agg, Seq(col("series")), samples = 3,
        exponential = false)
      .select("series", "bucket_ts", "value").as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("a", 10L, 1.0), ("a", 20L, 1.5), ("a", 30L, 2.0), ("a", 40L, 3.0),
      ("b", 10L, 10.0), ("b", 20L, 15.0), ("b", 40L, (40.0 + 20.0 + 10.0) / 3)))
  }

  test("timeDifference: per-series gap in the configured unit; first point drops") {
    val points = Seq(
      ("s1", 0L, 1.0), ("s1", 120L, 2.0), ("s1", 300L, 3.0),
      ("s2", 60L, 4.0), ("s2", 90L, 5.0)
    ).toDF("series_id", "ts", "value")
    val out = graft.query.QueryEngine.timeDifference(points,
        graft.query.TimeDifferenceSpec("minutes"))
      .select("series_id", "ts", "value").as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("s1", 120L, 2.0), ("s1", 300L, 3.0), ("s2", 90L, 0.5)))
    intercept[IllegalArgumentException] {
      graft.query.TimeDifferenceSpec("days").unitSeconds
    }
  }

  test("bucketQuantile: cumulative pick reports the bucket upper bound; overflow its lower") {
    // one series, one ts: counts 5/3/2 in buckets [0,10) [10,100) [100,inf)
    val counters = Seq(
      ("lat_0_10", "u1", 100L, 5.0), ("lat_10_100", "u1", 100L, 3.0),
      ("lat_100_inf", "u1", 100L, 2.0)
    ).toDF("metric", "tag_user", "bucket_ts", "value")
    val out = SeriesAnalytics.bucketQuantile(counters, Seq("tag_user"), Seq(0.5, 0.9, 0.99))
      .select("quantile", "value").as[(Double, Double)].collect().toMap
    // total 10: q=0.5 → cum 5 ≥ 5 in first bucket (upper 10); q=0.9 →
    // cum 8 ≥ 9? no → overflow? cum(2nd)=8 < 9, third reaches 10 ≥ 9 →
    // overflow bucket reports its LOWER bound 100
    assert(out(0.5) === 10.0)
    assert(out(0.9) === 100.0)
    assert(out(0.99) === 100.0)
    // cumulative "le"-counter shape: running totals 5/8/10 must pick
    // identically to the per-bucket counts 5/3/2
    val cum = Seq(
      ("lat_0_10", "u1", 100L, 5.0), ("lat_10_100", "u1", 100L, 8.0),
      ("lat_100_inf", "u1", 100L, 10.0)
    ).toDF("metric", "tag_user", "bucket_ts", "value")
    val outCum = SeriesAnalytics
      .bucketQuantile(cum, Seq("tag_user"), Seq(0.5, 0.9, 0.99), cumulative = true)
      .select("quantile", "value").as[(Double, Double)].collect().toMap
    assert(outCum === out)
    intercept[IllegalArgumentException] {
      SeriesAnalytics.bucketQuantile(counters, Seq("tag_user"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      SeriesAnalytics.bucketQuantile(counters, Seq("tag_user"), Seq(1.5))
    }
  }

  test("bucketQuantile inside run(): metric-keyed group-by feeds the node; terminal guard") {
    import graft.query.{BucketQuantileSpec, DownsampleSpec, GroupBySpec, QueryEngine, SummarizerSpec, TsdbQuery}
    import graft.filters.MatchAll
    // counter-series points: bucket metrics lat_0_10 / lat_10_100 /
    // lat_100_inf for user u1, counts arriving as individual points
    // (downsample count rebuilds 5/3/2 per day), plus user u2 with all
    // mass in the overflow bucket
    val rows =
      (1 to 5).map(i => ("lat_0_10", "u1", 100L + i)) ++
      (1 to 3).map(i => ("lat_10_100", "u1", 200L + i)) ++
      (1 to 2).map(i => ("lat_100_inf", "u1", 300L + i)) ++
      (1 to 4).map(i => ("lat_100_inf", "u2", 400L + i))
    val pts = rows.zipWithIndex.map { case ((m, u, ts), i) => (m, u, ts, 1.0, i.toLong) }
      .toDF("metric", "user", "ts", "value", "seq")
      .withColumn("tags", map(lit("user"), col("user")))
      .withColumn("series_id",
        graft.core.SeriesId.seriesId(col("metric"), col("tags")))
      .drop("user")
    val q = TsdbQuery(MatchAll, 0L, 86400L,
      downsample = Some(DownsampleSpec("1d", "count")),
      groupBy = Some(GroupBySpec(Seq("user"), "sum")),
      bucketQuantile = Some(BucketQuantileSpec(Seq(0.5, 0.9))))
    val out = QueryEngine.run(pts, q).collect()
      .map(r => (r.getAs[String]("user"), r.getAs[Double]("quantile")) ->
        r.getAs[Double]("value")).toMap
    // u1: counts 5/3/2, total 10 → q.5 picks bucket 1 (upper 10), q.9
    // overflows (lower 100); u2: all mass overflow → both pick 100
    assert(out(("u1", 0.5)) === 10.0)
    assert(out(("u1", 0.9)) === 100.0)
    assert(out(("u2", 0.5)) === 100.0)
    assert(out(("u2", 0.9)) === 100.0)
    // terminal: combining with another analytic node is a config error,
    // as is omitting the groupBy that carries the spatial identity
    intercept[IllegalArgumentException] {
      QueryEngine.run(pts, q.copy(summarizer = Some(SummarizerSpec(Seq("avg")))))
    }
    intercept[IllegalArgumentException] {
      QueryEngine.run(pts, q.copy(groupBy = None))
    }
  }

  test("bucketQuantile inside run(), STORED cumulative counters: downsample last reads " +
      "the running total, never recounts it") {
    import graft.query.{BucketQuantileSpec, DownsampleSpec, GroupBySpec, QueryEngine, TsdbQuery}
    import graft.filters.MatchAll
    // Prometheus-style stored "le" counter series: each bucket series is
    // a monotone running count SAMPLED TWICE (ts 100 and 200) — the
    // engine must read the ts-200 value per bucket (5/8/10), not count
    // the 6 sample points. A `count` downsample here would yield 2/2/2
    // per bucket and a completely different pick — the shape is
    // discriminating.
    val rows = Seq(
      ("lat_0_10", 100L, 3.0), ("lat_0_10", 200L, 5.0),
      ("lat_10_100", 100L, 5.0), ("lat_10_100", 200L, 8.0),
      ("lat_100_inf", 100L, 6.0), ("lat_100_inf", 200L, 10.0))
    val pts = rows.zipWithIndex.map { case ((m, ts, v), i) => (m, ts, v, i.toLong) }
      .toDF("metric", "ts", "value", "seq")
      .withColumn("tags", map(lit("user"), lit("u1")))
      .withColumn("series_id",
        graft.core.SeriesId.seriesId(col("metric"), col("tags")))
    val q = TsdbQuery(MatchAll, 0L, 86400L,
      downsample = Some(DownsampleSpec("1d", "last")),
      groupBy = Some(GroupBySpec(Seq("user"), "sum")),
      bucketQuantile = Some(BucketQuantileSpec(Seq(0.5, 0.9), cumulative = true)))
    val out = QueryEngine.run(pts, q, assumeDeduped = true).collect()
      .map(r => r.getAs[Double]("quantile") -> r.getAs[Double]("value")).toMap
    // end-of-day cumulative 5/8/10 (total 10): q.5 → cum 5 ≥ 5 in bucket
    // 1 (upper 10); q.9 → first cum ≥ 9 is the overflow (lower 100)
    assert(out(0.5) === 10.0)
    assert(out(0.9) === 100.0)
  }

  test("olympic: trimmed-mean baseline over strictly-earlier same-position buckets") {
    // one series, one position (pos constant): history accumulates in
    // bucket order; 5th bucket sees 4 history points → olympic trim
    val ds = Seq(
      ("a", 10L, 10.0), ("a", 20L, 2.0), ("a", 30L, 4.0),
      ("a", 40L, 100.0), ("a", 50L, 5.0)
    ).toDF("series", "bucket_ts", "value")
    val out = SeriesAnalytics.olympic(ds, Seq(col("series")), lit(0), threshold = 0.5)
      .select("bucket_ts", "baseline", "anomaly")
      .as[(Long, Option[Double], Boolean)].collect().sortBy(_._1).toSeq
    assert(out(0) === ((10L, None, false)))  // no history → warm-up
    assert(out(1) === ((20L, None, false)))  // n=1 < minHistory(2) → still warm-up
    // 30: history {10,2} → mean 6.0; |4-6|/6 = 0.3333 < 0.5 → not anomalous
    assert(out(2)._2 === Some(6.0) && !out(2)._3)
    // 40: history {10,2,4} → mean 5.3333; |100-5.3333|/5.3333 ≥ 0.5 → anomaly
    assert(out(3)._2 === Some(5.3333) && out(3)._3)
    // 50: history {10,2,4,100} n=4 → olympic: drop 2 and 100 → (10+4)/2 = 7
    assert(out(4)._2 === Some(7.0))
  }
}
