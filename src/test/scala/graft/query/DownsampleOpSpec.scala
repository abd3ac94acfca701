package graft.query

import graft.{Fixtures, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Downsample semantics, porting the reference scenarios from
 * AuraMetricsNumericArrayIteratorTest (aligned 60s windows
 * :50-77, NaN gaps :80-118, infectious NaN) onto the Spark engine.
 */
class DownsampleOpSpec extends AnyFunSuite {
  TestSpark.spark

  private val tagset = Map("host" -> "a")

  private def run(df: org.apache.spark.sql.DataFrame, spec: DownsampleSpec0): Map[Long, Double] =
    QueryEngine.downsample(df, spec.toSpec, spec.start, spec.end)
      .select("bucket_ts", "value").collect()
      .filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private case class DownsampleSpec0(interval: String, agg: String, start: Long = 0,
      end: Long = 3600, runAll: Boolean = false, infectious: Boolean = false) {
    def toSpec: DownsampleSpec =
      DownsampleSpec(interval, agg, runAll = runAll, infectiousNan = infectious)
  }

  test("aligned 60s windows, sum — every bucket has its per-minute sum") {
    // 2 points per minute for 4 minutes: values 1,2 | 3,4 | 5,6 | 7,8
    val df = Fixtures.series("m", tagset,
      (0 until 8).map(i => (i * 30L, (i + 1).toDouble)): _*)
    assert(run(df, DownsampleSpec0("1m", "sum")) ===
      Map(0L -> 3.0, 60L -> 7.0, 120L -> 11.0, 180L -> 15.0))
  }

  test("avg / min / max / count / last per window") {
    val df = Fixtures.series("m", tagset, (0L, 2.0), (30L, 4.0), (60L, 10.0))
    assert(run(df, DownsampleSpec0("1m", "avg")) === Map(0L -> 3.0, 60L -> 10.0))
    assert(run(df, DownsampleSpec0("1m", "min")) === Map(0L -> 2.0, 60L -> 10.0))
    assert(run(df, DownsampleSpec0("1m", "max")) === Map(0L -> 4.0, 60L -> 10.0))
    assert(run(df, DownsampleSpec0("1m", "count")) === Map(0L -> 2.0, 60L -> 1.0))
    assert(run(df, DownsampleSpec0("1m", "last")) === Map(0L -> 4.0, 60L -> 10.0))
    // FIRST is last's time-order mirror
    assert(run(df, DownsampleSpec0("1m", "first")) === Map(0L -> 2.0, 60L -> 10.0))
    // DEV is the sample standard deviation: {2,4} → √2; single point → NULL
    // (run() drops null aggregate rows only at output when asked; here the
    // bucket survives with a null value, so probe via the engine directly)
    val dev = QueryEngine.downsample(df, DownsampleSpec("1m", "dev"), 0, 120)
      .collect().map(r => r.getLong(r.fieldIndex("bucket_ts")) ->
        Option(r.get(r.fieldIndex("value")))).toMap
    assert(math.abs(dev(0L).get.asInstanceOf[Double] - math.sqrt(2.0)) < 1e-12)
    assert(dev(60L).isEmpty)
  }

  test("NaN gap: NaN values are skipped, empty buckets are absent") {
    // minute 1 all-NaN, minute 2 missing entirely (reference NaN-gap test)
    val df = Fixtures.series("m", tagset,
      (0L, 1.0), (30L, 2.0), (60L, Double.NaN), (180L, 7.0))
    val out = run(df, DownsampleSpec0("1m", "sum"))
    assert(out(0L) === 3.0)
    assert(out(180L) === 7.0)
    // all-NaN bucket yields a row with null (skipped sum over no values)
    val row60 = QueryEngine.downsample(df, DownsampleSpec("1m", "sum"), 0, 3600)
      .filter(col("bucket_ts") === 60).select("value").collect()
    assert(row60.length === 1 && row60(0).isNullAt(0))
    assert(!out.contains(120L), "empty interval must be absent, not zero")
  }

  test("infectious NaN: any NaN in the interval poisons it (reference :465-473)") {
    val df = Fixtures.series("m", tagset, (0L, 1.0), (30L, Double.NaN), (60L, 5.0))
    val out = run(df, DownsampleSpec0("1m", "sum", infectious = true))
    assert(out(0L).isNaN, "bucket with a NaN point must be NaN")
    assert(out(60L) === 5.0)
    // without the flag the same bucket sums the non-NaN values
    assert(run(df, DownsampleSpec0("1m", "sum"))(0L) === 1.0)
  }

  test("runAll and the 0all marker both collapse to one whole-range bucket") {
    val df = Fixtures.series("m", tagset, (10L, 1.0), (500L, 2.0), (3000L, 3.0))
    assert(run(df, DownsampleSpec0("0all", "sum", runAll = true)) === Map(0L -> 6.0))
    // ADVICE fix: "0all" without runAll must not silently bucket per-point
    assert(run(df, DownsampleSpec0("0all", "sum")) === Map(0L -> 6.0))
  }

  test("reporting average divides by expected dps, not actual count") {
    // interval 1m, reporting 10s ⇒ divisor 6 regardless of 2 actual points
    val df = Fixtures.series("m", tagset, (0L, 6.0), (30L, 6.0))
    val spec = DownsampleSpec("1m", "avg", reportingInterval = Some("10s"))
    val out = QueryEngine.downsample(df, spec, 0, 60)
      .select("value").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(2.0)) // 12 / 6, not 12 / 2
  }

  test("duplicate timestamps: dedupe keeps the last arrival (S5/R3)") {
    val df = Fixtures.points(
      ("m", tagset, 0L, 1.0, 0L), ("m", tagset, 0L, 9.0, 1L), ("m", tagset, 30L, 2.0, 2L))
    val out = run(QueryEngine.dedupe(df), DownsampleSpec0("1m", "sum"))
    assert(out === Map(0L -> 11.0)) // 9 (last write) + 2
  }

  test("dedupeAgg: same winners as the window dedupe, no sort in the plan") {
    // multi-series, multi-duplicate, out-of-order arrival
    val df = Fixtures.points(
      ("m", tagset, 0L, 1.0, 0L), ("m", tagset, 0L, 9.0, 5L), ("m", tagset, 0L, 4.0, 3L),
      ("m", tagset, 30L, 2.0, 2L),
      ("m2", tagset, 0L, 7.0, 1L), ("m2", tagset, 0L, 8.0, 0L))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("metric", "ts", "value", "seq").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(QueryEngine.dedupeAgg(df)) === rows(QueryEngine.dedupe(df)))
    // the aggregate path must carry no sort (the window's spill source)
    val plan = QueryEngine.dedupeAgg(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Sort "), s"dedupeAgg plan must be sort-free:\n$plan")
  }

  test("dedupe strategy config selects the hash-agg path; results identical; bad value rejected") {
    import graft.filters.MatchAll
    val spark = graft.TestSpark.spark
    val df = Fixtures.points(
      ("m", tagset, 10L, 1.0, 0L), ("m", tagset, 10L, 5.0, 1L), // LWW pair
      ("m", tagset, 70L, 2.0, 2L))
    val q = TsdbQuery(MatchAll, 0, 3600, downsample = Some(DownsampleSpec("1m", "sum")))
    def rows = QueryEngine.run(df, q).select("bucket_ts", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaWindow = rows
    try {
      spark.conf.set("spark.graft.dedupe.strategy", "hashagg")
      val planned = QueryEngine.run(df, q)
      // strategy is read at PLAN BUILD: the hashagg plan carries no
      // dedupe window sort-limit
      assert(!planned.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
      assert(planned.select("bucket_ts", "value")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap === viaWindow)
      spark.conf.set("spark.graft.dedupe.strategy", "bogus")
      intercept[IllegalArgumentException] { QueryEngine.run(df, q) }
    } finally spark.conf.unset("spark.graft.dedupe.strategy")
    assert(viaWindow === Map(0L -> 5.0, 60L -> 2.0))
  }

  test("median and percentile aggregate the buffered interval values") {
    val df = Fixtures.series("m", tagset, (0L, 1.0), (10L, 2.0), (20L, 9.0))
    assert(run(df, DownsampleSpec0("1m", "median")) === Map(0L -> 2.0))
    assert(run(df, DownsampleSpec0("1m", "p100")) === Map(0L -> 9.0))
  }

  test("assumeDeduped skips the dedupe window; results match on clean input") {
    import graft.filters.MatchAll
    val df = Fixtures.series("m", tagset, (0L, 1.0), (30L, 2.0), (90L, 3.0))
    val q = TsdbQuery(MatchAll, 0, 3600, downsample = Some(DownsampleSpec("1m", "sum")))
    val a = QueryEngine.run(df, q).select("bucket_ts", "value").collect().toSet
    val b = QueryEngine.run(df, q, assumeDeduped = true).select("bucket_ts", "value").collect().toSet
    assert(a === b)
    val plan = QueryEngine.run(df, q, assumeDeduped = true).queryExecution.executedPlan.toString
    assert(!plan.contains("WindowGroupLimit"), "dedupe window must be gone")
  }

  test("timezone calendar alignment: local-midnight buckets, DST transition honored per-row") {
    // US spring-forward 2024: 2024-03-10 02:00 MST → 03:00 MDT, i.e.
    // epoch 1710061200 (09:00 UTC). Before: UTC-7 (-25200); after: UTC-6
    // (-21600). Denver's Mar-10 local midnight = 1710054000 (07:00 UTC);
    // the 23-hour local day ends at Mar-11 local midnight = 1710136800
    // (06:00 UTC — one hour EARLIER in UTC than a fixed -7h would put it).
    val dayStart = 1710054000L
    val segs = graft.core.Intervals.zoneOffsets(
      "America/Denver", dayStart, dayStart + 2 * 86400)
    assert(segs === Seq(dayStart -> -25200, 1710061200L -> -21600))
    val df = Fixtures.series("m", tagset,
      (1710054000L, 1.0), // Mar 10 00:00 MST — first second of the local day
      (1710061200L, 2.0), // Mar 10 03:00 MDT — the skipped-hour boundary itself
      (1710136799L, 4.0), // Mar 10 23:59:59 MDT — last second of the 23h day
      (1710136800L, 8.0)) // Mar 11 00:00 MDT — next local day
    val spec = DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))
    val got = QueryEngine.downsample(df, spec, dayStart, dayStart + 2 * 86400)
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(1710054000L -> 7.0, 1710136800L -> 8.0),
      "all 23h-day points share the Mar-10 local-midnight label (the MST " +
        "offset at the bucket's local start); a UTC epoch floor would split " +
        "them at 00:00 UTC, per-row label offsets would split the day at the " +
        "transition, and a fixed -7h would misplace Mar-11 midnight")
    // and the fixed-offset winter case the declared q_ds_tz rides: one
    // segment only, label = local midnight in epoch (07:00 UTC)
    val winter = graft.core.Intervals.zoneOffsets(
      "America/Denver", 1704412800L, 1706140800L)
    assert(winter === Seq(1704412800L -> -25200))
    // plan-shape guard: the zone CASEs are pure projection arithmetic —
    // the tz plan must carry EXACTLY the exchanges of the UTC plan
    def exchanges(d: DownsampleSpec): Int =
      "(?<!Broadcast)Exchange".r.findAllIn(
        QueryEngine.downsample(df, d, dayStart, dayStart + 2 * 86400)
          .queryExecution.executedPlan.toString).length
    assert(exchanges(spec) === exchanges(DownsampleSpec("1d", "sum")),
      "timezone bucketing must not introduce a shuffle")
  }
}