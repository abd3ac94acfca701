package graft.query

import graft.Fixtures
import graft.core.Intervals
import graft.filters.MatchAll
import graft.rollup.Rollup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Calendar-interval downsample semantics end-to-end: engine bucketing,
 *  the dense-fill grid, rollup serving legality + equality, and the
 *  olympic seasonal position over calendar ordinals. */
class CalendarDownsampleSpec extends AnyFunSuite {

  private val tagset = Map("host" -> "a")

  // Denver month boundary inside the data: 2024-01-01 00:00 MST = 07:00Z
  private val DecB = 1701414000L
  private val JanB = 1704092400L

  test("monthly Denver buckets split on the LOCAL month boundary") {
    // 01:00Z and 06:30Z on Jan 1 are still December in Denver; 08:00Z is January
    val pts = Fixtures.series("m", tagset,
      (1704070800L, 1.0), (1704090600L, 2.0), (1704096000L, 10.0))
    val out = QueryEngine.downsample(pts,
      DownsampleSpec("1n", "sum", timezone = Some("America/Denver")),
      1704067200L, 1706745600L)
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(DecB -> 3.0, JanB -> 10.0))
  }

  test("UTC monthly is the zone default") {
    val pts = Fixtures.series("m", tagset, (1704070800L, 1.0), (1704096000L, 2.0))
    val out = QueryEngine.downsample(pts, DownsampleSpec("1n", "sum"),
      1704067200L, 1706745600L)
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1704067200L -> 3.0)) // both in UTC January
  }

  test("reporting average over a calendar interval is rejected, not approximated") {
    val pts = Fixtures.series("m", tagset, (1704070800L, 1.0))
    val e = intercept[IllegalArgumentException] {
      QueryEngine.downsample(pts,
        DownsampleSpec("1n", "avg", reportingInterval = Some("1m")),
        1704067200L, 1706745600L)
    }
    assert(e.getMessage.contains("fixed-length"))
  }

  test("dense fill enumerates the calendar grid, empty months filled") {
    val pts = Fixtures.series("m", tagset, (1704096000L, 5.0)) // Denver January
    val ds = QueryEngine.downsample(pts,
      DownsampleSpec("1n", "sum", timezone = Some("America/Denver")),
      1704067200L, 1711951200L) // [Jan 1Z, Apr 1 Denver)
    val filled = QueryEngine.denseFill(ds, "1n", 1704067200L, 1711951200L,
      fill = "zero", timezone = Some("America/Denver"))
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // grid = Dec'23, Jan, Feb, Mar boundaries; only January has data
    assert(filled === Map(
      DecB -> 0.0, JanB -> 5.0, 1706770800L -> 0.0, 1709276400L -> 0.0))
  }

  /** `spec` over [s, e) on the engine path, served by the rule from the
   *  persisted `ivs` stores of `lake`: (rows, which of points/stores it
   *  scanned), checked equal to the raw engine answer. */
  private def routed(lake: (String, Seq[(String, String)]), ivs: Seq[String],
      spec: DownsampleSpec, s: Long, e: Long): (Map[Long, Double], Set[String]) = {
    val spark = graft.TestSpark.spark
    val (pointsDir, stores) = lake
    val points = spark.read.parquet(pointsDir)
    val df = graft.Routed.downsample(points,
      ivs.map(iv => (spark.read.parquet(stores.toMap.apply(iv)), iv, Long.MaxValue)),
      spec, s, e)
    def toMap(d: org.apache.spark.sql.DataFrame) =
      d.select("bucket_ts", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val names = ("points" -> pointsDir) +: stores
    val hit = graft.ScanStats.scanned(df, names.map(_._2): _*)
    val out = toMap(df)
    assert(out === toMap(QueryEngine.run(points, TsdbQuery(MatchAll, s, e,
      downsample = Some(spec)))), s"$spec $ivs")
    (out, names.collect { case (n, d) if hit(d) => n }.toSet)
  }

  /** Points and their 1h and 30m rollup stores, persisted. */
  private def persisted(pts: org.apache.spark.sql.DataFrame): (String, Seq[(String, String)]) = {
    val (_, pointsDir) = graft.Routed.persist(pts, "points")
    (pointsDir, Seq("1h", "30m").map(iv =>
      iv -> graft.Routed.persist(Rollup.build(pts, iv), s"rollup_$iv")._2))
  }

  test("calendar serving needs every boundary on a store row edge") {
    val denver = DownsampleSpec("1n", "sum", timezone = Some("America/Denver"))
    val kolkata = DownsampleSpec("1n", "sum", timezone = Some("Asia/Kolkata"))
    val utc = DownsampleSpec("1n", "sum")
    val (s, e) = (1704067200L, 1709251200L)
    // one point every 5h over Jan-Feb 2024
    val lake = persisted(Fixtures.series("m", tagset,
      (s until e by 18000L).map(t => (t, (t % 11).toDouble)): _*))
    assert(routed(lake, Seq("1h"), denver, s, e)._2 === Set("1h"), "whole-hour offsets")
    assert(routed(lake, Seq("1h"), utc, s, e)._2 === Set("1h"))
    // Kolkata +5:30: month starts at :30 past the hour — a 1h rollup row
    // straddles the local month boundary; a 30m row does not
    assert(routed(lake, Seq("1h"), kolkata, s, e)._2 === Set("points"))
    assert(routed(lake, Seq("30m"), kolkata, s, e)._2 === Set("30m"))
    // an unaligned start clips differently on the two paths
    assert(routed(lake, Seq("1h"), denver, s + 60, e)._2 === Set("points"))
    // order statistics are not stored; fixed intervals serve as before
    assert(routed(lake, Seq("1h"),
      DownsampleSpec("1n", "median", timezone = Some("America/Denver")), s, e)._2 ===
      Set("points"))
    assert(routed(lake, Seq("1h"), DownsampleSpec("1d", "sum"), s, e)._2 === Set("1h"))
  }

  test("calendar rollup serving equals the raw path, full and hybrid") {
    // points straddling the Denver month boundary, hour-aligned range
    val pts = Fixtures.series("m", tagset,
      (1704064000L, 1.0), (1704067000L, 2.0), // Dec 31 Denver
      (1704093000L, 4.0), (1704150000L, 8.0)) // January Denver
    val (s, e) = (1704063600L, 1704153600L)
    def raw(spec: DownsampleSpec) = QueryEngine.downsample(pts, spec, s, e)
      .select("bucket_ts", "value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val month = DownsampleSpec("1n", "sum", timezone = Some("America/Denver"))
    assert(raw(month) === Map(DecB -> 3.0, JanB -> 12.0))
    val (pointsDir, stores) = persisted(pts)
    val spark = graft.TestSpark.spark
    val store = stores.toMap.apply("1h")
    // months and quarters: Denver's Q4/Q1 boundary is the same local
    // midnight as Dec/Jan
    for (spec <- Seq(month, month.copy(interval = "3n"))) {
      def run(until: Long, end: Long = e) = {
        val df = graft.Routed.downsample(spark.read.parquet(pointsDir),
          Seq((spark.read.parquet(store), "1h", until)), spec, s, end)
        val hit = graft.ScanStats.scanned(df, pointsDir, store)
        (df.select("bucket_ts", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
          Set("points" -> pointsDir, "1h" -> store).collect { case (n, d) if hit(d) => n })
      }
      val expect = raw(spec)
      assert(run(Long.MaxValue) === ((expect, Set("1h"))), spec)
      // hybrid: flush frontier at the month boundary → served head + raw tail
      assert(run(JanB) === ((expect, Set("1h", "points"))), spec)
      // an end off the store grid splits at the month boundary too
      assert(run(Long.MaxValue, e - 600) === ((expect, Set("1h", "points"))), spec)
      // frontier below the first in-range boundary → all raw
      assert(run(s + 3600) === ((expect, Set("points"))), spec)
    }
  }

  test("olympic seasonal position keys on absolute calendar ordinals") {
    // six monthly points Nov'23..Apr'24, one per Denver month; period 2
    // alternates slots by ABSOLUTE month index (Nov=646 → slot 0)
    val monthTs = Seq(
      1700000000L -> 2.0, // Nov 2023 (slot 0)
      1701800000L -> 10.0, // Dec 2023 (slot 1)
      1704500000L -> 4.0, // Jan 2024 (slot 0)
      1707000000L -> 20.0, // Feb 2024 (slot 1)
      1709700000L -> 3.0, // Mar 2024 (slot 0)
      1712200000L -> 30.0) // Apr 2024 (slot 1)
    val pts = Fixtures.series("m", tagset, monthTs: _*)
    val q = TsdbQuery(MatchAll, 1698818400L, 1714536000L,
      downsample = Some(DownsampleSpec("1n", "sum", timezone = Some("America/Denver"))),
      anomaly = Some(AnomalySpec("olympic", minHistory = 1, period = 2)))
    val out = QueryEngine.run(pts, q)
      .select("bucket_ts", "baseline", "anomaly").collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), r.getBoolean(2))).toMap
    val bs = Intervals.calendarOrdinals("1n", "America/Denver",
      1698818400L, 1714536000L).toMap
    // Mar 2024 (slot 0) baselines over {Nov 2, Jan 4} → 3.0, |3-3|/3 → quiet
    val marB = bs.collectFirst { case (b, o) if o == 650L => b }
    assert(out(1709276400L) === ((Some(3.0), false)))
    assert(marB.contains(1709276400L))
    // Apr 2024 (slot 1) baselines over {Dec 10, Feb 20} → 15.0, dev 1.0 → anomaly
    assert(out(1711951200L) === ((Some(15.0), true)))
    // Jan (slot 0, history {2}) and Feb (slot 1, history {10}) both deviate
    assert(out(JanB) === ((Some(2.0), true)))
    assert(out(1706770800L) === ((Some(10.0), true)))
    // warm-up months carry no baseline
    assert(out(1698818400L /* Nov 1 2023 00:00 MDT */)._1 === None)
  }
}
