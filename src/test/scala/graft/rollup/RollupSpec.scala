package graft.rollup

import graft.{Fixtures, Routed, ScanStats}
import graft.filters.MatchAll
import graft.query.{DownsampleSpec, QueryEngine, TsdbQuery}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Rollup build + routing (A10/A14) on the engine path: the
 *  [[graft.plans.RollupRouting]] rule serves a downsample over a routed
 *  frame from the stores, and the scans of the executed plan show which
 *  store served it, or that it ran raw. */
class RollupSpec extends AnyFunSuite {

  private val tagset = Map("host" -> "a")
  // 4 points across two 1h buckets inside one day
  private val pts = Fixtures.series("m", tagset,
    (0L, 1.0), (600L, 3.0), (3600L, 10.0), (4200L, 2.0))

  test("rollup stores the composite aggregates per interval (A10)") {
    val r = Rollup.build(pts, "1h").collect()
      .map(x => x.getAs[Long]("bucket_ts") ->
        (x.getAs[Double]("sum"), x.getAs[Long]("cnt"), x.getAs[Double]("min"),
          x.getAs[Double]("max"), x.getAs[Double]("last"), x.getAs[Double]("sumsq"))).toMap
    assert(r(0L) === ((4.0, 2L, 1.0, 3.0, 3.0, 10.0)))
    assert(r(3600L) === ((12.0, 2L, 2.0, 10.0, 2.0, 104.0)))
  }

  /** `p` and its rollup stores at `intervals`, persisted so a routed
   *  frame's scans name what served it. */
  private final class Lake(p: DataFrame, intervals: String*) {
    val (points, pointsDir) = Routed.persist(p, "points")
    private val stores = intervals.map(iv => iv -> Routed.persist(Rollup.build(p, iv), s"rollup_$iv"))
    def store(iv: String): DataFrame = stores.toMap.apply(iv)._1
    def dir(iv: String): String = stores.toMap.apply(iv)._2
    /** `spec` over [start, end) on the engine path, served by the rule
     *  from the rungs `ivs` (all, by default). */
    def run(spec: DownsampleSpec, start: Long, end: Long, ivs: Seq[String] = intervals): DataFrame =
      Routed.downsample(points, ivs.map(iv => (store(iv), iv, Long.MaxValue)), spec, start, end)
    /** Which of the points and the stores `df` scans: "points" or an interval. */
    def scans(df: DataFrame): Set[String] = {
      val names = (("points" -> pointsDir) +: intervals.map(iv => iv -> dir(iv))).toMap
      val hit = ScanStats.scanned(df, names.values.toSeq: _*)
      names.collect { case (n, d) if hit(d) => n }.toSet
    }
    /** The raw engine answer over the persisted points. */
    def raw(spec: DownsampleSpec, start: Long, end: Long): DataFrame =
      QueryEngine.run(points, TsdbQuery(MatchAll, start, end, downsample = Some(spec)))
  }

  private def values(df: DataFrame): Map[Long, Double] =
    df.select("bucket_ts", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def rows(df: DataFrame): Seq[String] =
    df.select("series_id", "bucket_ts", "value").collect().map(_.toString).sorted.toSeq

  test("routing decision mirrors the reference's divisibility rule (A14)") {
    val lake = new Lake(pts, "1h")
    def routesTo(spec: DownsampleSpec, scans: String) = {
      val df = lake.run(spec, 0, 86400)
      assert(lake.scans(df) === Set(scans), s"$spec")
      assert(rows(df) === rows(lake.raw(spec, 0, 86400)), s"$spec")
    }
    routesTo(DownsampleSpec("1d", "sum"), "1h")
    routesTo(DownsampleSpec("2h", "avg"), "1h")
    routesTo(DownsampleSpec("90m", "sum"), "points") // 5400 % 3600 != 0
    routesTo(DownsampleSpec("1d", "median"), "points") // median is not stored
    // tz-aligned buckets start at local midnight, not at the stored UTC
    // boundaries: served only through the zone label itself (whole-hour
    // offsets), never re-bucketed to UTC — equality with raw pins that
    routesTo(DownsampleSpec("1d", "sum", timezone = Some("America/Denver")), "1h")
    routesTo(DownsampleSpec("1d", "sum", infectiousNan = true), "points")
    // the whole range as one bucket is a constant label: served
    routesTo(DownsampleSpec("1d", "sum", runAll = true), "1h")
  }

  test("zone offsets and transitions must land on store boundaries to serve") {
    // hourly points over Jan 5-19 2024 and across the 2024 US
    // spring-forward (1710061200, a whole hour)
    val jan = (1704412800L until 1706140800L by 3600L).map(t => (t, (t % 7).toDouble))
    val mar = (1710028800L until 1710288000L by 1800L).map(t => (t, (t % 5).toDouble))
    val lake = new Lake(Fixtures.series("m", tagset, jan ++ mar: _*), "1h", "30m")
    val denver = DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))
    val kolkata = DownsampleSpec("1d", "sum", timezone = Some("Asia/Kolkata"))
    def scans(spec: DownsampleSpec, ivs: Seq[String], start: Long, end: Long) = {
      val df = lake.run(spec, start, end, ivs)
      assert(rows(df) === rows(lake.raw(spec, start, end)), s"$spec $ivs [$start, $end)")
      lake.scans(df)
    }
    // Jan 2024, no transitions: Denver -7h on a 1h store serves
    assert(scans(denver, Seq("1h"), 1704412800L, 1706140800L) === Set("1h"))
    // +5:30 is not a whole hour: a 1h row straddles Kolkata's local
    // midnight, so the 1h store is refused; a 30m store's rows do not
    assert(scans(kolkata, Seq("1h"), 1704412800L, 1706140800L) === Set("points"))
    assert(scans(kolkata, Seq("30m"), 1704412800L, 1706140800L) === Set("30m"))
    // the 2024 US spring-forward transition is a whole hour — still
    // servable across it
    assert(scans(denver, Seq("1h"), 1710028800L, 1710288000L) === Set("1h"))
    // an unaligned start clips differently on the two paths: raw
    assert(scans(denver, Seq("1h"), 1704412800L + 60, 1706140800L) === Set("points"))
    // a transition OFF the store grid refuses even when every offset is
    // on it: St. John's sprang forward at 00:01 local on 2010-03-14
    // (03:31Z, 1268537460) from -3:30 to -2:30 — both offsets whole
    // half hours, but a 30m row straddles the transition instant; a 1m
    // store's rows do not
    val stJohns = DownsampleSpec("1d", "sum", timezone = Some("America/St_Johns"))
    val (sjLo, sjHi) = (1268352000L, 1268697600L) // 2010-03-12 .. 03-16 UTC
    val sj = new Lake(Fixtures.series("m", tagset,
      (sjLo until sjHi by 600L).map(t => (t, (t % 3).toDouble)): _*), "30m", "1m")
    val sjRefused = sj.run(stJohns, sjLo, sjHi, Seq("30m"))
    assert(sj.scans(sjRefused) === Set("points"))
    val sjServed = sj.run(stJohns, sjLo, sjHi, Seq("1m"))
    assert(sj.scans(sjServed) === Set("1m"))
    assert(rows(sjRefused) === rows(sjServed))
    assert(rows(sjServed) === rows(sj.raw(stJohns, sjLo, sjHi)))
  }

  test("tz rollup serving equals the raw tz downsample across a DST transition") {
    // points across the 23h spring-forward Denver day + the next day
    val dayStart = 1710054000L // Mar 10 2024 00:00 MST
    val p = Fixtures.series("m", tagset,
      (dayStart, 1.0), // local midnight
      (1710061199L, 2.0), // 01:59:59 MST, last pre-transition second
      (1710061200L, 4.0), // 03:00:00 MDT, the skipped-hour boundary
      (1710136799L, 8.0), // 23:59:59 MDT, last second of the 23h day
      (1710136800L, 16.0)) // next local midnight
    val spec = DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))
    val (start, end) = (dayStart, dayStart + 2 * 86400)
    val raw = values(QueryEngine.downsample(p, spec, start, end))
    assert(raw === Map(dayStart -> 15.0, 1710136800L -> 16.0))
    // the rule serves the engine's zone label from the stored hourly
    // composites (full serve, legal range), reproducing the per-point
    // local-midnight grouping exactly
    val lake = new Lake(p, "1h")
    val routed = lake.run(spec, start, end)
    assert(lake.scans(routed) === Set("1h"))
    assert(values(routed) === raw)
  }

  test("served results equal the direct computation") {
    val lake = new Lake(pts, "1h")
    for (agg <- Seq("sum", "count", "min", "max", "avg", "last")) {
      val served = lake.run(DownsampleSpec("2h", agg), 0, 7200)
      assert(lake.scans(served) === Set("1h"), s"agg=$agg")
      val direct = QueryEngine.downsample(pts, DownsampleSpec("2h", agg), 0, 7200)
      assert(values(served) === values(direct), s"agg=$agg")
    }
  }

  test("dev serves from the stored moments, composing across sub-intervals") {
    // 2h query over 1h rollup rows: total sumsq/sum/cnt ADD across the
    // two sub-buckets, so the served stddev must equal the direct
    // stddev over the raw values {1,3,10,2} (moment formula vs
    // Welford-style accumulation agree far below 1e-9 here)
    val lake = new Lake(pts, "1h")
    val servedDf = lake.run(DownsampleSpec("2h", "dev"), 0, 7200)
    assert(lake.scans(servedDf) === Set("1h"))
    val served = values(servedDf)
    val direct = values(QueryEngine.downsample(pts, DownsampleSpec("2h", "dev"), 0, 7200))
    assert(served.keySet === direct.keySet)
    served.foreach { case (k, v) => assert(math.abs(v - direct(k)) < 1e-9, s"bucket $k") }
    // a single-point bucket is NULL (sample stddev undefined), not 0 or NaN;
    // and a constant-valued bucket is exactly 0, not NaN from a tiny
    // negative variance
    val single = new Lake(Fixtures.series("m", tagset, (0L, 5.0), (3600L, 7.0), (3700L, 7.0)),
      "1h")
    val r1Df = single.run(DownsampleSpec("1h", "dev"), 0, 7200)
    assert(single.scans(r1Df) === Set("1h"))
    val r1 = r1Df.select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(r1(0L).isEmpty)
    assert(r1(3600L) === Some(0.0))
  }

  test("sampled percentile serves losslessly from the stored sample + presence pair") {
    // membership is a pure function of ts, so serving from the stored
    // sample must BIT-equal the direct sampled aggregator over raw
    // points — including presence rows whose sample is empty (NULL)
    import org.apache.spark.sql.functions._
    val rows = (0L until 40L).map(t => (t, (t * 7 % 13).toDouble)) ++
      Seq((3600L, 5.0)) // second bucket: likely no sampled ts → NULL row
    val df = Fixtures.series("m", tagset, rows: _*)
    graft.query.Aggregators.register("p95s_spec", (v, ts, _, _) =>
      percentile(when(pmod(call_function("md5prefix28", ts.cast("string")),
        lit(4)) === 0, v), lit(0.95)))
    val direct = graft.query.QueryEngine
      .downsample(df, DownsampleSpec("1h", "p95s_spec"), 0, 7200)
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val served = Rollup.servePercentileSampled(
      Rollup.build(df, "1h"), Rollup.buildSample(df, "1h", 4), "1h", 0.95, 0, 7200)
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(served === direct)
    assert(served.keySet === Set(0L, 3600L)) // presence covers the unsampled bucket
    // the sample really is a strict subset
    val nSample = Rollup.buildSample(df, "1h", 4).count()
    assert(nSample > 0 && nSample < rows.size)
  }

  test("a routed query's physical plan scans the rollup table only") {
    val lake = new Lake(pts, "1h")
    assert(lake.scans(lake.run(DownsampleSpec("1d", "sum"), 0, 86400)) === Set("1h"),
      "must scan the rollup parquet, not the raw points")
    assert(lake.scans(lake.run(DownsampleSpec("90m", "sum"), 0, 86400)) === Set("points"),
      "non-divisible interval must route to raw points")
    // tz serving reaches the rollup scan when the range is legal...
    val tzSpec = DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))
    assert(lake.scans(lake.run(tzSpec, 0, 86400)) === Set("1h"),
      "whole-hour-offset zone over an aligned range must serve from the rollup")
    // ...and falls back to raw for a fractional-hour zone
    assert(lake.scans(lake.run(tzSpec.copy(timezone = Some("Asia/Kolkata")), 0, 86400))
      === Set("points"), "+5:30 against a 1h rollup must route to raw")
  }

  test("rollup output conforms to the declared schema; interval vocabulary enforced") {
    val declared = graft.core.TsdbSchema.rollup.fields.map(f => f.name -> f.dataType).toMap
    val actual = Rollup.build(pts, "1h").schema.fields.map(f => f.name -> f.dataType).toMap
    for ((name, dt) <- declared)
      assert(actual.get(name).contains(dt), s"missing/mistyped rollup column $name")
    assertThrows[IllegalArgumentException](Rollup.build(pts, "7m"))
  }

  test("hybrid routing: frontier clamps, floors to query buckets, and degrades to pure raw/rollup") {
    import org.apache.spark.sql.functions._
    val p = graft.Fixtures.series("m", tagset,
      (0L, 1.0), (600L, 3.0), (7300L, 5.0), (14500L, 7.0)) // 3 segments
    val ru = Rollup.build(p, "1h")
    val spec = DownsampleSpec("2h", "sum")
    val expect = Map(0L -> 4.0, 7200L -> 5.0, 14400L -> 7.0)
    def run(rollup: DataFrame, until: Long) =
      values(Routed.downsample(p, Seq((rollup, "1h", until)), spec, 0, 21600))
    // frontier past end → pure rollup; at/below start → pure raw (even
    // with an EMPTY rollup table)
    assert(run(ru, Long.MaxValue) === expect)
    assert(run(ru.limit(0), 0L) === expect)
    assert(run(ru.limit(0), -5L) === expect)
    // mid-segment frontier floors DOWN to a query-bucket boundary: with
    // the rollup missing everything >= 7200, frontier 8000 must still
    // serve bucket 7200 from raw (a ceil would silently lose it)
    assert(run(ru.filter(col("bucket_ts") < 7200), 8000L) === expect)
    // an end OFF the store grid splits the same way: the store serves
    // up to the last bucket label on the grid (14400), the tail reads raw
    val lake = new Lake(p, "1h")
    val offGrid = lake.run(spec, 0, 14400 + 200)
    assert(lake.scans(offGrid) === Set("1h", "points"))
    assert(values(offGrid) === expect)
    // non-servable spec ignores the rollup entirely
    val fallback = Routed.downsample(p, Seq((ru.limit(0), "1h", 7200L)),
      DownsampleSpec("90m", "sum"), 0, 21600)
      .agg(sum(col("value"))).head.getDouble(0)
    assert(fallback === 16.0)
  }

  test("tz hybrid: frontier lands on a local-midnight label; closed days read the rollup, the tail reads raw") {
    import org.apache.spark.sql.functions._
    val dayStart = 1710054000L // Mar 10 2024 00:00 MST — the 23h day
    val p = Fixtures.series("m", tagset,
      (dayStart, 1.0), (1710061199L, 2.0), (1710061200L, 4.0),
      (1710136799L, 8.0), (1710136800L, 16.0))
    val spec = DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))
    val (start, end) = (dayStart, dayStart + 2 * 86400)
    val expect = Map(dayStart -> 15.0, 1710136800L -> 16.0)
    val ru = Rollup.build(p, "1h")
    def run(rollup: DataFrame, until: Long): Map[Long, Double] = {
      val rows = Routed.downsample(p, Seq((rollup, "1h", until)), spec, start, end)
        .collect().map(r => r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value"))
      assert(rows.map(_._1).distinct.length === rows.length,
        s"split double-emitted a bucket: ${rows.toSeq}")
      rows.toMap
    }
    // frontier mid-second-day → split at the Mar-11 local-midnight LABEL
    // (1710136800): poison every rollup row past it — the tail must read
    // raw, so the poison cannot surface
    val poisonTail = ru.withColumn("sum",
      when(col("bucket_ts") >= 1710136800L, lit(1e9)).otherwise(col("sum")))
    assert(run(poisonTail, 1710136800L + 7200) === expect)
    // ...and nudge every row BEFORE it to prove the closed 23h day
    // really is served from the stored composites (4 rollup rows → +4)
    val poisonHead = ru.withColumn("sum",
      when(col("bucket_ts") < 1710136800L, col("sum") + 1.0).otherwise(col("sum")))
    assert(run(poisonHead, 1710136800L + 7200)
      === Map(dayStart -> 19.0, 1710136800L -> 16.0))
    // frontier before the first closed local day → pure raw, rollup unused
    assert(run(ru.limit(0), dayStart + 3600) === expect)
    // fractional-hour zone: no legal split exists → raw end to end
    assert({
      val rows = Routed.downsample(p, Seq((poisonTail, "1h", 1710136800L + 7200)),
        spec.copy(timezone = Some("Asia/Kolkata")), start, end)
        .agg(sum(col("value"))).head.getDouble(0)
      rows
    } === 31.0)
  }

  test("hybrid routing with an unaligned start falls back to raw (partial first bucket unservable)") {
    import org.apache.spark.sql.functions._
    val p = graft.Fixtures.series("m", tagset,
      (0L, 1.0), (600L, 3.0), (7300L, 5.0), (14500L, 7.0))
    val ru = Rollup.build(p, "1h")
    val spec = DownsampleSpec("2h", "sum")
    // start=600 is not on the 1h store grid: the stored row for bucket
    // 0 contains ts=0 (before start), so serving it from the stored
    // composite would overcount. The route must be pure raw and match
    // the raw engine exactly.
    def routed = Routed.downsample(p, Seq((ru, "1h", 7900L)), spec, 600, 21600)
    val out = routed
      .collect().map(r => r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value"))
    assert(out.map(_._1).distinct.length === out.length, s"duplicate buckets in ${out.toSeq}")
    assert(out.toMap === Map(0L -> 3.0, 7200L -> 5.0, 14400L -> 7.0))
    val direct = graft.query.QueryEngine.downsample(
        p.filter(col("ts") >= 600 && col("ts") < 21600), spec, 600, 21600)
      .collect().map(r => r.getAs[Long]("bucket_ts") -> r.getAs[Double]("value")).toMap
    assert(out.toMap === direct)
    // and the unaligned route never touches the rollup table in the plan
    val plan = routed.queryExecution.optimizedPlan.toString
    assert(!plan.contains("sumsq"), s"rollup columns leaked into the raw plan:\n$plan")
  }

  test("dedupe strategy covers every rollup dedupe site, winners identical") {
    // overwrite at ts=600 (seq order) so a dedupe that misses it diverges;
    // the strategy switch must reach build, buildSample, AND the hybrid
    // raw tail — not just QueryEngine.run
    val spark = graft.TestSpark.spark
    val dup = graft.Fixtures.points(
      ("m", tagset, 0L, 1.0, 0L), ("m", tagset, 600L, 3.0, 1L),
      ("m", tagset, 600L, 9.0, 2L), // LWW winner
      ("m", tagset, 3600L, 10.0, 3L), ("m", tagset, 4200L, 2.0, 4L))
    def runAll(): (Set[String], Set[String], Set[String]) = {
      val b = Rollup.build(dup, "1h").collect()
        .map(r => s"${r.getAs[Long]("bucket_ts")}:${r.getAs[Double]("sum")}:${r.getAs[Double]("last")}").toSet
      val s = Rollup.buildSample(dup, "1h", mod = 1).collect()
        .map(r => s"${r.getAs[Long]("ts")}:${r.getAs[Double]("value")}").toSet
      // the hybrid: bucket 0 from the store, the tail bucket 3600 raw
      // through the configured dedupe
      val h = Routed.downsample(dup, Seq((Rollup.build(dup, "1h"), "1h", 3600L)),
          DownsampleSpec("1h", "sum"), 0L, 7200L)
        .collect().map(r => s"${r.getAs[Long]("bucket_ts")}:${r.getAs[Double]("value")}").toSet
      (b, s, h)
    }
    val window = runAll()
    // bucket 0: LWW drops the overwritten 3.0, keeps 1.0 + 9.0
    assert(window._1.contains("0:10.0:9.0"), s"LWW sum/last: ${window._1}")
    assert(window._3 === Set("0:10.0", "3600:12.0"))
    try {
      spark.conf.set("spark.graft.dedupe.strategy", "hashagg")
      assert(runAll() === window, "hashagg strategy must be bit-identical at every site")
    } finally spark.conf.unset("spark.graft.dedupe.strategy")
  }
}
