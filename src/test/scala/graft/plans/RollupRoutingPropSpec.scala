package graft.plans

import graft.TestSpark
import graft.rollup.Rollup
import graft.sources.TsdbViews
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Randomized equivalence property for the rollup routing rule, over
 *  SQL and over the engine path: for RANDOM flush frontiers, range bounds
 *  (aligned and unaligned), bucket phrasings, and aggregates, the result
 *  over the marked view must equal the raw view EXACTLY — whether the
 *  rewrite fires, splits hybrid, or refuses is an optimization detail
 *  the answer must never depend on (the rule's core contract). A seeded
 *  RNG keeps every case reproducible. */
class RollupRoutingPropSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private lazy val env: (DataFrame, DataFrame, DataFrame) = {
    val pts = TsdbViews.pointsWithNan(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_prop").toString
    Rollup.build(pts, "1h").write.mode("overwrite").parquet(s"$dir/rollup")
    Rollup.build(pts, "1d").write.mode("overwrite").parquet(s"$dir/rollup1d")
    graft.query.QueryEngine.dedupeConfigured(pts).createOrReplaceTempView("vp_raw")
    (pts, spark.read.parquet(s"$dir/rollup"), spark.read.parquet(s"$dir/rollup1d"))
  }

  private val DataStart = 1704067200L // 2024-01-01, where the points start
  private val Lo = 1704412800L // 2024-01-05
  private val Hi = 1705622400L // 2024-01-19

  private val clean = "CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE) ELSE value END"

  /** The bucket phrasings a SQL user writes for the same daily dashboard. */
  private val phrasings = Seq(
    "ts - ts % 86400",
    "floor(ts / 86400) * 86400",
    "(ts div 86400) * 86400",
    "to_unix_timestamp(date_trunc('DAY', timestamp_seconds(ts)))",
    "to_unix_timestamp(to_utc_timestamp(date_trunc('DAY', " +
      "from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')), 'America/Denver'))")

  private val aggs = Seq(
    s"round(sum($clean), 4) AS v",
    s"count($clean) AS v",
    s"round(avg($clean), 4) AS v",
    s"round(max($clean), 4) AS v",
    s"round(min($clean), 4) AS v")

  test("routed == raw for random frontiers, bounds, phrasings, aggregates (seeded)") {
    val (pts, store, _) = env
    val rng = new scala.util.Random(14)
    for (i <- 0 until 40) {
      // frontier on an hour grid somewhere inside (or past) the range;
      // every fourth case uses a COMPLETE store (no frontier)
      val complete = i % 4 == 0
      val frontier =
        if (complete) Long.MaxValue
        else Lo + (rng.nextInt(16 * 24) + 1) * 3600L
      val truncated =
        if (complete) store else store.filter(col("bucket_ts") < frontier)
      RollupRouting.registerView(spark, pts, truncated, "1h", "vp_routed",
        rollupUntil = frontier)
      // bounds: mostly day-aligned, sometimes hour-aligned, sometimes
      // deliberately UNALIGNED (the refusal path must also stay equal)
      def bound(base: Long): Long = rng.nextInt(3) match {
        case 0 => base + rng.nextInt(14) * 86400L
        case 1 => base + rng.nextInt(14 * 24) * 3600L
        case _ => base + rng.nextInt(14 * 86400)
      }
      val lo = bound(Lo)
      val hi = math.max(lo + 86400, bound(Lo + 86400))
      val phr = phrasings(rng.nextInt(phrasings.size))
      val agg = aggs(rng.nextInt(aggs.size))
      // sometimes group by an extra identity column / add a series filter
      val extraKey = if (rng.nextBoolean()) ", tags['host'] AS h" else ""
      val extraPred = if (rng.nextInt(3) == 0) " AND metric = 'click'" else ""
      val q =
        s"""SELECT metric$extraKey, ($phr) AS b, $agg
           |FROM __VIEW__ WHERE ts >= $lo AND ts < $hi$extraPred
           |GROUP BY ${if (extraKey.isEmpty) "1, 2" else "1, 2, 3"}""".stripMargin
      val a = spark.sql(q.replace("__VIEW__", "vp_routed"))
        .collect().map(_.toString).sorted.toSeq
      val b = spark.sql(q.replace("__VIEW__", "vp_raw"))
        .collect().map(_.toString).sorted.toSeq
      assert(a === b,
        s"case $i diverged (frontier=$frontier lo=$lo hi=$hi):\n$q")
    }
  }

  test("SQL ladder == raw for random per-rung frontiers (seeded, round 15)") {
    // fuzzes the frontier-ranked rung choice: each rung gets its OWN
    // random frontier (complete / lagging / fresher-finer / both-lag in
    // all combinations), and whichever rung the dispatch picks — or a
    // split, or a refusal — the answer must equal raw exactly
    val (pts, store1h, store1d) = env
    val rng = new scala.util.Random(51)
    for (i <- 0 until 30) {
      val f1h = if (rng.nextInt(3) == 0) Long.MaxValue
        else Lo + (rng.nextInt(16 * 24) + 1) * 3600L
      val f1d = if (rng.nextInt(3) == 0) Long.MaxValue
        else Lo + (rng.nextInt(16) + 1) * 86400L
      RollupRouting.registerLadder(spark, pts,
        Seq((store1d.filter(col("bucket_ts") < f1d), "1d", f1d),
          (store1h.filter(col("bucket_ts") < f1h), "1h", f1h)),
        "vp_ladder")
      def bound(base: Long): Long = rng.nextInt(3) match {
        case 0 => base + rng.nextInt(14) * 86400L
        case 1 => base + rng.nextInt(14 * 24) * 3600L
        case _ => base + rng.nextInt(14 * 86400)
      }
      val lo = bound(Lo)
      val hi = math.max(lo + 86400, bound(Lo + 86400))
      val phr = phrasings(rng.nextInt(phrasings.size))
      val agg = aggs(rng.nextInt(aggs.size))
      val extraKey = if (rng.nextBoolean()) ", tags['host'] AS h" else ""
      val extraPred = if (rng.nextInt(3) == 0) " AND metric = 'click'" else ""
      val q =
        s"""SELECT metric$extraKey, ($phr) AS b, $agg
           |FROM __VIEW__ WHERE ts >= $lo AND ts < $hi$extraPred
           |GROUP BY ${if (extraKey.isEmpty) "1, 2" else "1, 2, 3"}""".stripMargin
      val a = spark.sql(q.replace("__VIEW__", "vp_ladder"))
        .collect().map(_.toString).sorted.toSeq
      val b = spark.sql(q.replace("__VIEW__", "vp_raw"))
        .collect().map(_.toString).sorted.toSeq
      assert(a === b,
        s"case $i diverged (f1h=$f1h f1d=$f1d lo=$lo hi=$hi):\n$q")
    }
  }

  test("engine ladder == raw downsample for random rung frontiers and specs (seeded)") {
    import graft.query.{DownsampleSpec, QueryEngine}
    val day = 86400L
    // the testdata spans January only: a copy of Jan 5-19 shifted 59 days
    // onto Mar 4-18 puts points on both sides of the DST transition
    val jan = env._1
    val pts = jan.unionByName(jan.filter(col("ts") >= Lo && col("ts") < Hi)
      .withColumn("ts", col("ts") + 59 * day)
      .withColumn("segment_start", graft.core.SeriesId.segmentStart(col("ts"))))
    val dir = java.nio.file.Files.createTempDirectory("graft_prop_mar").toString
    Rollup.build(pts, "1h").write.parquet(s"$dir/rollup")
    Rollup.build(pts, "1d").write.parquet(s"$dir/rollup1d")
    val (store1h, store1d) = (spark.read.parquet(s"$dir/rollup"), spark.read.parquet(s"$dir/rollup1d"))
    val rng = new scala.util.Random(41)
    val denver = Some("America/Denver")
    // (spec, range start) per scenario: epoch buckets over the Jan
    // window, Denver days across the 2024-03-10 spring-forward, and
    // Denver months / quarters across the Dec/Jan local boundary
    val dst = 1710028800L - 2 * day // 2024-03-08 00:00Z
    val scenarios: Seq[(DownsampleSpec, () => Long)] = Seq(
      DownsampleSpec("1d", "sum") -> (() => Lo + rng.nextInt(5) * day),
      DownsampleSpec("2h", "avg") -> (() => Lo + rng.nextInt(5) * day),
      DownsampleSpec("1d", "max") -> (() => Lo + rng.nextInt(5) * day),
      DownsampleSpec("1d", "last") -> (() => Lo + rng.nextInt(5) * day),
      DownsampleSpec("90m", "sum") -> (() => Lo), // never servable from 1h/1d: raw path
      DownsampleSpec("1d", "sum", timezone = denver) -> (() => Lo + rng.nextInt(5) * day),
      DownsampleSpec("1d", "sum", timezone = denver) -> (() => dst + rng.nextInt(2) * day),
      DownsampleSpec("1n", "sum", timezone = denver) -> (() => DataStart),
      DownsampleSpec("3n", "sum", timezone = denver) -> (() => DataStart))
    for (i <- 0 until 30) {
      val (spec, startAt) = scenarios(rng.nextInt(scenarios.size))
      val lo = startAt()
      // ends on the day grid, or OFF every store grid (a split there)
      val hi = lo + (rng.nextInt(6) + 1) * day + (if (rng.nextBoolean()) 0L else rng.nextInt(86400))
      def frontier(grid: Long) =
        if (rng.nextBoolean()) Long.MaxValue else lo + (rng.nextInt(7 * 86400 / grid.toInt) + 1) * grid
      val (f1h, f1d) = (frontier(3600L), frontier(day))
      val rungs = Seq(
        (store1h.filter(col("bucket_ts") < f1h), "1h", f1h),
        (store1d.filter(col("bucket_ts") < f1d), "1d", f1d))
      val served = graft.Routed.downsample(pts, rungs, spec, lo, hi)
        .withColumn("value", org.apache.spark.sql.functions.round(col("value"), 4))
        .collect().map(_.toString).sorted.toSeq
      val raw = QueryEngine.downsample(
          QueryEngine.dedupeConfigured(
            pts.filter(col("ts") >= lo && col("ts") < hi)), spec, lo, hi)
        .withColumn("value", org.apache.spark.sql.functions.round(col("value"), 4))
        .collect().map(_.toString).sorted.toSeq
      assert(served.nonEmpty && served === raw,
        s"case $i diverged (spec=$spec f1h=$f1h f1d=$f1d lo=$lo hi=$hi)")
    }
  }
}
