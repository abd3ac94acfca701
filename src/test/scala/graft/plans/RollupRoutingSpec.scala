package graft.plans

import graft.TestSpark
import graft.rollup.Rollup
import graft.sources.TsdbViews
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Transparent SQL rollup routing: the [[RollupRouting]] optimizer rule
 *  must serve downsample-shaped aggregates over the marked facade view
 *  from the stored composite — bit-equal (post round-4) to the raw path —
 *  and fall back to raw, still correct, on every non-servable shape. */
class RollupRoutingSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  /** View pair over NaN-injected points: `v_routed` carries the marker +
   *  a persisted rollup store; `v_raw` is the same LWW view unmarked. */
  private lazy val env: (DataFrame, DataFrame) = {
    val pts = TsdbViews.pointsWithNan(spark, sf)
    val storeDir = java.nio.file.Files.createTempDirectory("graft_route").toString
    Rollup.build(pts, "1h").write.mode("overwrite").parquet(s"$storeDir/rollup")
    val store = spark.read.parquet(s"$storeDir/rollup")
    RollupRouting.registerView(spark, pts, store, "1h", "v_routed")
    graft.query.QueryEngine.dedupeConfigured(pts).createOrReplaceTempView("v_raw")
    (pts, store)
  }
  private def setup: Unit = { env; () }

  private val Lo = 1704412800L // 2024-01-05, hour- and day-aligned
  private val Hi = 1705622400L // 2024-01-19

  private def sql(view: String, q: String): DataFrame =
    spark.sql(q.replace("$V", view))

  /** What the executed plan scans: (a rollup store, the raw points).
   *  Stores live in temp dirs, the points under the testdata dir. */
  private def sides(df: DataFrame): (Boolean, Boolean) =
    (graft.ScanStats.scanned(df, System.getProperty("java.io.tmpdir")).nonEmpty,
      graft.ScanStats.scanned(df, sf).nonEmpty)

  /** Served from a store alone. */
  private def routed(df: DataFrame): Boolean = sides(df) == ((true, false))

  /** Split hybrid: a store head and a raw tail. */
  private def hybrid(df: DataFrame): Boolean = sides(df) == ((true, true))

  private def assertSame(q: String, expectRouted: Boolean): Unit = {
    setup
    val a = sql("v_routed", q)
    val b = sql("v_raw", q)
    assert(routed(a) === expectRouted, s"routing mismatch for:\n$q\n${a.queryExecution}")
    assert(!routed(b), "the unmarked view must never route")
    val (ra, rb) = (a.collect().map(_.toString).sorted.toSeq,
      b.collect().map(_.toString).sorted.toSeq)
    assert(ra === rb, s"value divergence for:\n$q")
    assert(ra.nonEmpty)
  }

  private val clean = "CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE) ELSE value END"

  test("daily sum over the marked view serves from the store") {
    assertSame(
      s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
         |       round(sum($clean), 4) AS sum_value
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY 1, 2, 3""".stripMargin, expectRouted = true)
  }

  test("min/max/count/avg all rewrite to their stored forms") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS bucket_ts,
         |       round(min($clean), 4) AS mn, round(max($clean), 4) AS mx,
         |       count($clean) AS cnt, round(avg($clean), 4) AS av
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY 1, 2""".stripMargin, expectRouted = true)
  }

  test("stddev_samp rewrites to the stored-moments reconstruction") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(stddev_samp($clean), 4) AS sd
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("nanvl spelling of the clean value also serves") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum(nanvl(value, NULL)), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("series-identity predicates carry over to the store scan") {
    assertSame(
      s"""SELECT tags['host'] AS h, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi AND metric = 'click'
         |  AND tags['colo'] = 'den'
         |GROUP BY 1, 2""".stripMargin, expectRouted = true)
  }

  test("a 90m bucket (not a multiple of 1h) falls back to raw") {
    assertSame(
      s"""SELECT metric, ts - ts % 5400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("an unaligned range bound falls back to raw") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= ${Lo + 60} AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("count(*) is a row count the composite cannot serve — raw") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, count(*) AS c
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("plain sum(value) keeps NaN-poisoning semantics — raw") {
    // with NaN injected every 101st seq, a routed answer would differ:
    // equality against the raw view proves the rule refused the rewrite
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, sum(value) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("a value predicate falls back to raw") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi AND value > 0 GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("non-aggregate uses of the view strip the marker cleanly") {
    setup
    val rows = spark.sql(s"SELECT * FROM v_routed WHERE ts >= $Lo LIMIT 5").collect()
    assert(rows.length === 5)
  }

  test("two routed aggregates in one query get independent store scans") {
    setup
    val q =
      s"""SELECT metric, b, s FROM (
         |  SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |  FROM v_routed WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2
         |  UNION ALL
         |  SELECT metric, ts - ts % 43200 AS b, round(sum($clean), 4) AS s
         |  FROM v_routed WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2)""".stripMargin
    val a = spark.sql(q)
    assert(routed(a), a.queryExecution.executedPlan.toString)
    val b = sql("v_raw", q.replace("v_routed", "v_raw"))
    assert(a.collect().map(_.toString).sorted.toSeq ===
      b.collect().map(_.toString).sorted.toSeq)
  }

  test("a maintained-store flush frontier splits serving hybrid") {
    val (pts, store) = env
    // frontier mid-DAY on an hour boundary: the split must floor to the
    // day-7 label, not serve the partial day
    val frontier = Lo + 7 * 86400 + 3600
    // the store genuinely ends at the frontier — a split that reads the
    // store past it, or raw below it, would lose or double-count rows
    val truncated = store.filter(
      org.apache.spark.sql.functions.col("bucket_ts") < frontier)
    RollupRouting.registerView(spark, pts, truncated, "1h", "v_frontier",
      rollupUntil = frontier)
    def q(hi: Long) = spark.sql(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_frontier WHERE ts >= $Lo AND ts < $hi GROUP BY 1, 2""".stripMargin)
    assert(routed(q(Lo + 7 * 86400)), "a range closed below the frontier must serve")
    // a straddling range splits: store scan for closed days UNION a raw
    // window tail — both shapes present in one plan
    val past = q(Hi)
    assert(hybrid(past), s"hybrid split missing a side:\n${past.queryExecution.executedPlan}")
    val rawSql =
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin
    assert(past.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", rawSql).collect().map(_.toString).sorted.toSeq)
    // an UNBOUNDED tail splits too (raw side [frontier, inf))
    val unbounded = spark.sql(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_frontier WHERE ts >= $Lo GROUP BY 1, 2""".stripMargin)
    val rawUnbounded = sql("v_raw",
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo GROUP BY 1, 2""".stripMargin)
    assert(unbounded.collect().map(_.toString).sorted.toSeq ===
      rawUnbounded.collect().map(_.toString).sorted.toSeq)
    // no bucket floor on the grouping key ⇒ groups would straddle the
    // split ⇒ whole query reads raw
    val noFloor = spark.sql(
      s"""SELECT metric, round(sum($clean), 4) AS s
         |FROM v_frontier WHERE ts >= $Lo AND ts < $Hi GROUP BY 1""".stripMargin)
    assert(!noFloor.queryExecution.executedPlan.toString.contains("bucket_ts"))
    assert(noFloor.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw",
        s"""SELECT metric, round(sum($clean), 4) AS s
           |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1""".stripMargin)
        .collect().map(_.toString).sorted.toSeq)
  }

  test("cross-series (spatial) group-bys serve too — sums are associative") {
    // grouping by host collapses many series into one group; the store
    // rows still partition the same point set, so Σ(hourly sums) per
    // (host, day) equals the raw sum exactly
    assertSame(
      s"""SELECT tags['host'] AS h, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("SELECT DISTINCT on identity columns serves from the store") {
    // a store row exists iff a raw point exists for that (series, hour),
    // so identity-column distincts agree exactly
    assertSame(
      s"""SELECT DISTINCT metric, tags['colo'] AS colo
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi""".stripMargin,
      expectRouted = true)
  }

  test("a count() wrapper over a routed aggregate still serves") {
    // count(*) over the grouped subquery prunes `value` (and the sum)
    // out of the marker's child entirely — the rewrite must survive the
    // pruned shape and serve the groups-only aggregate from the store
    // (regression: the probe's .count() measurements silently fell back
    // raw before the lazy base-attr lookup)
    assertSame(
      s"""SELECT count(*) AS n FROM (
         |  SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |  FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2)""".stripMargin,
      expectRouted = true)
  }

  test("parent operators above a routed aggregate are untouched") {
    // HAVING becomes a Filter over an extra aggregate column, ORDER BY
    // and LIMIT reference the aggregate's output attrs — all must keep
    // resolving because the rewrite preserves every output exprId
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY 1, 2
         |HAVING sum($clean) > 1
         |ORDER BY s DESC, b, metric LIMIT 10""".stripMargin, expectRouted = true)
  }

  test("the ratio dashboard row routes both metric slices") {
    val df = graft.SparkEntry.queries("q_sql_expr_ratio")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(routed(df), plan)
    assert(!plan.contains("events.parquet"), s"raw fact scan survived:\n$plan")
  }

  test("hybrid split survives a derived-table phrasing") {
    // the subquery's aliases inline during normalization, so the raw
    // branch's result expressions arrive NON-named (GetMapValue, the
    // floor arithmetic) — the split must re-alias them, not MatchError
    // (regression: the rule's contract is raw fallback, never failure)
    val (pts, store) = env
    val frontier = Lo + 7 * 86400 + 3600
    val truncated = store.filter(
      org.apache.spark.sql.functions.col("bucket_ts") < frontier)
    RollupRouting.registerView(spark, pts, truncated, "1h", "v_dtbl",
      rollupUntil = frontier)
    def q(view: String) = spark.sql(
      s"""SELECT u, d, round(sum(CASE WHEN isnan(v) THEN CAST(NULL AS DOUBLE)
         |                            ELSE v END), 4) AS s
         |FROM (SELECT tags['user'] AS u, ts - ts % 86400 AS d, ts, value AS v
         |      FROM $view)
         |WHERE ts >= $Lo AND ts < $Hi GROUP BY u, d""".stripMargin)
    val a = q("v_dtbl")
    assert(hybrid(a), s"derived-table hybrid did not split:\n${a.queryExecution.executedPlan}")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      q("v_raw").collect().map(_.toString).sorted.toSeq)
  }

  test("a non-leaf store plan used by two aggregates in one query is safe") {
    // the truncated store is a Filter plan, not a re-instantiable leaf —
    // two rewrites insert the SAME subtree (shared exprIds in sibling
    // branches, the self-union shape); results must still be exact
    val (pts, store) = env
    val truncated = store.filter(
      org.apache.spark.sql.functions.col("bucket_ts") < Hi)
    RollupRouting.registerView(spark, pts, truncated, "1h", "v_nonleaf")
    val q =
      s"""SELECT metric, b, s FROM (
         |  SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |  FROM v_nonleaf WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2
         |  UNION ALL
         |  SELECT metric, ts - ts % 43200 AS b, round(sum($clean), 4) AS s
         |  FROM v_nonleaf WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2)""".stripMargin
    val a = spark.sql(q)
    assert(routed(a), a.queryExecution.executedPlan.toString)
    val b = sql("v_raw", q.replace("v_nonleaf", "v_raw"))
    assert(a.collect().map(_.toString).sorted.toSeq ===
      b.collect().map(_.toString).sorted.toSeq)
  }

  test("the registry rows route / fall back as declared") {
    val r = graft.SparkEntry.queries("q_sql_rollup_routed")(spark, sf)
    assert(routed(r), r.queryExecution.executedPlan.toString)
    val f = graft.SparkEntry.queries("q_sql_rollup_fallback")(spark, sf)
    assert(!routed(f), "90m must run raw over the marked view")
    val h = graft.SparkEntry.queries("q_sql_rollup_hybrid")(spark, sf)
    val hPlan = h.queryExecution.executedPlan.toString
    assert(hybrid(h),
      s"registry hybrid row must carry both sides:\n$hPlan")
  }

  test("the round-14 registry rows route / split as declared") {
    val wh = graft.SparkEntry.queries("q_sql_rollup_window_hybrid")(spark, sf)
    val whPlan = wh.queryExecution.executedPlan.toString
    assert(hybrid(wh),
      s"window-hybrid registry row must carry both sides:\n$whPlan")
    val tz = graft.SparkEntry.queries("q_sql_rollup_tz_hybrid")(spark, sf)
    val tzPlan = tz.queryExecution.executedPlan.toString
    assert(hybrid(tz),
      s"tz-hybrid registry row must carry both sides:\n$tzPlan")
    val last = graft.SparkEntry.queries("q_sql_rollup_last")(spark, sf)
    assert(routed(last), last.queryExecution.executedPlan.toString)
    val db = graft.SparkEntry.queries("q_sql_rollup_date_bound")(spark, sf)
    assert(routed(db), db.queryExecution.executedPlan.toString)
  }

  // ---------- round 13: phrasing-independent routing ----------

  test("floor(ts/N)*N serves — routing is phrasing-independent") {
    assertSame(
      s"""SELECT metric, floor(ts / 86400) * 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("cast(ts/N as long)*N serves") {
    assertSame(
      s"""SELECT metric, cast(ts / 86400 AS BIGINT) * 86400 AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("(ts div N)*N serves — pure integer floor") {
    assertSame(
      s"""SELECT metric, (ts div 86400) * 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("mirrored range-bound spellings serve (literal on the left)") {
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE $Lo <= ts AND ${Hi - 1} >= ts GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("a deterministic wrapper around a core serves (from_unixtime)") {
    // g = f(floor) is a per-bucket constant for any deterministic f, so
    // the formatted-string spelling of the day bucket routes too
    assertSame(
      s"""SELECT metric, from_unixtime(ts - ts % 86400) AS day,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("a mismatched multiplier is not a floor — raw") {
    // floor(ts/86400)*3600 is NOT ts-floored-to-anything; the rule must
    // refuse, not pattern-match loosely
    assertSame(
      s"""SELECT metric, floor(ts / 86400) * 3600 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("an integer-division floor whose width does not divide refuses — raw") {
    // (ts div 5400)*5400 IS an exact floor, but 90m buckets cannot be
    // assembled from 1h store rows — the deliberately-inexact negative
    assertSame(
      s"""SELECT metric, (ts div 5400) * 5400 AS b, round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("date_trunc over UTC walls serves (DAY and WEEK)") {
    assertSame(
      s"""SELECT metric, to_unix_timestamp(date_trunc('DAY', timestamp_seconds(ts))) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
    // WEEK walls are Monday midnights — epoch-unaligned to any fixed N,
    // but every boundary instant is a whole hour, so the 1h store serves
    assertSame(
      s"""SELECT metric, date_trunc('WEEK', cast(ts AS TIMESTAMP)) AS wk,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("GROUP BY window() serves — the TimeWindowing lowering is a recognized core") {
    // tumbling window(timestamp_seconds(ts), '1 day'): the analyzer
    // lowers it to a µs floorMod + struct + an injected
    // isnotnull(timestamp_seconds(ts)) filter — all must route
    assertSame(
      s"""SELECT metric, to_unix_timestamp(window.start) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY metric, window(timestamp_seconds(ts), '1 day')""".stripMargin,
      expectRouted = true)
    // hour windows over the 1h store route too
    assertSame(
      s"""SELECT metric, window(cast(ts AS TIMESTAMP), '1 hour') AS w,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < ${Lo + 2 * 86400}
         |GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
    // a 90-minute window cannot be assembled from 1h rows — refuse, raw
    assertSame(
      s"""SELECT metric, to_unix_timestamp(window.start) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY metric, window(timestamp_seconds(ts), '90 minutes')""".stripMargin,
      expectRouted = false)
  }

  // calendar/tz legality windows: one in-range month boundary (Denver
  // Jan 1 07:00Z = 1704092400) and the Kolkata counterpart at half past
  private val CalLo = 1704067200L // 2024-01-01 00:00 UTC
  private val CalHi = 1706745600L // 2024-02-01 00:00 UTC

  test("the Denver month idiom serves — whole-hour walls on a 1h store") {
    assertSame(
      s"""SELECT metric,
         |       to_unix_timestamp(to_utc_timestamp(date_trunc('MONTH',
         |         from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')),
         |         'America/Denver')) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $CalLo AND ts < $CalHi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("the Kolkata month idiom refuses — +05:30 walls need a 30m store") {
    // Kolkata's Feb 1 boundary = Jan 31 18:30 UTC: a 1h store row would
    // straddle it, so the rule must refuse (and stay correct raw)
    assertSame(
      s"""SELECT metric,
         |       to_unix_timestamp(to_utc_timestamp(date_trunc('MONTH',
         |         from_utc_timestamp(timestamp_seconds(ts), 'Asia/Kolkata')),
         |         'Asia/Kolkata')) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $CalLo AND ts < $CalHi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("the Denver DAY idiom serves — the tz daily dashboard") {
    assertSame(
      s"""SELECT metric,
         |       to_unix_timestamp(to_utc_timestamp(date_trunc('DAY',
         |         from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')),
         |         'America/Denver')) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  // ---------- round 13: ladder routing (coarsest legal store) ----------

  private lazy val ladderEnv: String = {
    val (pts, _) = env
    val dir = java.nio.file.Files.createTempDirectory("graft_route_1d").toString
    Rollup.build(pts, "1d").write.mode("overwrite").parquet(s"$dir/rollup1d")
    RollupRouting.registerLadder(spark, pts,
      Seq((spark.read.parquet(s"$dir/rollup1d"), "1d", Long.MaxValue),
        (env._2, "1h", Long.MaxValue)),
      "v_ladder")
    s"$dir/rollup1d"
  }

  test("ladder: a daily bucket serves from the 1d store, not the 1h") {
    ladderEnv
    val q =
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_ladder WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(routed(a), plan)
    assert(plan.contains("rollup1d"), s"daily bucket must read the 1d rung:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("ladder: an hourly bucket falls to the finer 1h rung before raw") {
    ladderEnv
    val q =
      s"""SELECT metric, ts - ts % 3600 AS b, round(sum($clean), 4) AS s
         |FROM v_ladder WHERE ts >= $Lo AND ts < ${Lo + 2 * 86400} GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(routed(a), plan)
    assert(!plan.contains("rollup1d"),
      s"3600 does not divide 86400 — must not read the 1d rung:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("ladder: a 2h bucket (divides 1h, not 1d) also lands on the 1h rung") {
    ladderEnv
    val q =
      s"""SELECT metric, ts - ts % 7200 AS b, round(sum($clean), 4) AS s
         |FROM v_ladder WHERE ts >= $Lo AND ts < ${Lo + 2 * 86400} GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(routed(a), plan)
    assert(!plan.contains("rollup1d"), s"2h must fall to the 1h rung:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("ladder: stored-last serves from the coarsest rung too") {
    // the 1d rung's `last` column is the day's last non-null value, so
    // the guarded max_by reads 24× fewer rows than the 1h rung would
    ladderEnv
    val q =
      s"""SELECT series_id, metric, ts - ts % 86400 AS b,
         |       round(max_by($clean, CASE WHEN ($clean) IS NOT NULL THEN ts END), 4) AS lv
         |FROM v_ladder WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2, 3""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(routed(a), plan)
    assert(plan.contains("rollup1d"), s"daily last must read the 1d rung:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  // ---------- round 15: rung choice maximizes the served frontier ----------

  test("ladder × frontier: a fully-flushed finer rung beats a lagging coarser rung") {
    // a 2-week daily dashboard over a 1h+1d ladder where the 1d rung's
    // close-gated frontier stops mid-range: first-coarsest-with-any-head
    // (rounds 13-14) served the head from the 1d rung and scanned the
    // whole tail raw; the dispatch must instead serve the ENTIRE range
    // from the 1h rung, whose frontier covers it — no Union, no raw
    // dedupe window
    val (pts, store1h) = env
    val dir = java.nio.file.Files.createTempDirectory("graft_route_lag1d").toString
    Rollup.build(pts, "1d").write.mode("overwrite").parquet(s"$dir/rollup1d")
    val mid = Lo + 7 * 86400
    RollupRouting.registerLadder(spark, pts,
      Seq((spark.read.parquet(s"$dir/rollup1d"), "1d", mid),
        (store1h, "1h", Long.MaxValue)),
      "v_ladder_lag")
    val q =
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_ladder_lag WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(routed(a), plan)
    assert(!plan.contains("rollup1d"),
      s"the lagging 1d rung must lose to the fully-flushed 1h rung:\n$plan")
    assert(!plan.contains("Union"),
      s"a rung covering the whole range must not hybrid-split:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder_lag", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("ladder × frontier: when every rung lags, the freshest frontier wins the split") {
    // both rungs maintained, both behind the range end: the 1h rung's
    // fresher frontier serves more closed days, so it wins and the split
    // lands on ITS frontier (1d's would re-scan two extra days raw)
    val (pts, store1h) = env
    val dir = java.nio.file.Files.createTempDirectory("graft_route_lagboth").toString
    Rollup.build(pts, "1d").write.mode("overwrite").parquet(s"$dir/rollup1d")
    val mid1d = Lo + 7 * 86400
    val mid1h = Lo + 9 * 86400
    RollupRouting.registerLadder(spark, pts,
      Seq((spark.read.parquet(s"$dir/rollup1d"), "1d", mid1d),
        (store1h, "1h", mid1h)),
      "v_ladder_lagboth")
    val q =
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_ladder_lagboth WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("Union"), s"a lagging ladder must hybrid-split:\n$plan")
    assert(!plan.contains("rollup1d"),
      s"the 1h rung's fresher frontier must win the split:\n$plan")
    assert(plan.contains(s">= $mid1h"),
      s"the raw tail must start at the WINNING rung's frontier, not the 1d one's:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder_lagboth", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("ladder × calendar: Kolkata months refuse the 1h rung and serve from a 30m rung") {
    // +05:30 walls sit on half hours: illegal against 1h rows, legal
    // against 30m — the coarsest-first walk must land on the 30m store,
    // the same per-rung outcome the engine path's calendar label gets
    val (pts, _) = env
    val dir = java.nio.file.Files.createTempDirectory("graft_route_30m").toString
    Rollup.build(pts, "30m").write.mode("overwrite").parquet(s"$dir/rollup30m")
    RollupRouting.registerLadder(spark, pts,
      Seq((env._2, "1h", Long.MaxValue),
        (spark.read.parquet(s"$dir/rollup30m"), "30m", Long.MaxValue)),
      "v_ladder_cal")
    val q =
      s"""SELECT metric,
         |       to_unix_timestamp(to_utc_timestamp(date_trunc('MONTH',
         |         from_utc_timestamp(timestamp_seconds(ts), 'Asia/Kolkata')),
         |         'Asia/Kolkata')) AS b,
         |       round(sum($clean), 4) AS s
         |FROM v_ladder_cal WHERE ts >= $CalLo AND ts < $CalHi GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(routed(a), plan)
    assert(plan.contains("rollup30m"), s"Kolkata months must read the 30m rung:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder_cal", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("ladder × frontier: a truncated coarse rung still splits hybrid correctly") {
    // the 1d rung's flush frontier lags mid-range while the 1h rung is
    // complete: the coarsest-first walk reaches the 1d rung FIRST and
    // serves it hybrid (closed days from 1d, tail raw) — semantically
    // exact regardless of which rung wins, which is what this pins
    val (pts, _) = env
    val frontier = Lo + 7 * 86400
    val dir = java.nio.file.Files.createTempDirectory("graft_route_1d_tr").toString
    Rollup.build(pts, "1d").filter(
      org.apache.spark.sql.functions.col("bucket_ts") < frontier)
      .write.mode("overwrite").parquet(s"$dir/rollup1d")
    RollupRouting.registerLadder(spark, pts,
      Seq((spark.read.parquet(s"$dir/rollup1d"), "1d", frontier),
        (env._2, "1h", Long.MaxValue)),
      "v_ladder_tr")
    val q =
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_ladder_tr WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    val plan = a.queryExecution.executedPlan.toString
    assert(plan.contains("bucket_ts"), s"no store side in:\n$plan")
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q.replace("v_ladder_tr", "$V")).collect().map(_.toString).sorted.toSeq)
  }

  test("registration refuses a rung whose interval is not positive") {
    // "0all" parses to -1: without the upfront require the rung would
    // be permanently dead (every query silently raw) instead of loud
    val (pts, store) = env
    val e = intercept[IllegalArgumentException] {
      RollupRouting.registerLadder(spark, pts,
        Seq((store, "0all", Long.MaxValue)), "v_dead_rung")
    }
    assert(e.getMessage.contains("positive rollup interval"))
  }

  test("registration refuses cleanly when the routing rule is not installed") {
    // the guard itself (requireInstalled) probes the session's optimizer
    // by optimizing a bare marker; on the graft session it must pass —
    // i.e. registration succeeds. (A rule-free session cannot be built
    // in this JVM: spark.sql.extensions is a static conf of the one
    // SparkContext, so every newSession() inherits the rule. The refusal
    // branch is exercised structurally: strip detection over the probe's
    // optimized plan is the same exists-check the positive path runs.)
    val (pts, store) = env
    RollupRouting.registerView(spark, pts, store, "1h", "v_guard_ok")
    assert(spark.sql(s"SELECT count(*) AS n FROM v_guard_ok WHERE ts >= $Lo LIMIT 1")
      .collect().head.getLong(0) > 0)
  }

  // ---------- round 14: frontier splits beyond the bare epoch floor ----------

  /** Register a view whose store is truncated at `frontier`, mirroring a
   *  live maintained lake's flush boundary. */
  private def frontierView(name: String, frontier: Long): Unit = {
    val (pts, store) = env
    val truncated = store.filter(
      org.apache.spark.sql.functions.col("bucket_ts") < frontier)
    RollupRouting.registerView(spark, pts, truncated, "1h", name,
      rollupUntil = frontier)
  }

  private def assertHybridEqualsRaw(q: String, view: String,
      splitAt: Option[Long] = None): Unit = {
    val a = spark.sql(q.replace("$V", view))
    assert(hybrid(a), s"hybrid split missing a side:\n${a.queryExecution.executedPlan}")
    splitAt.foreach { f =>
      assert(a.queryExecution.optimizedPlan.toString.contains(f.toString),
        s"split did not land on $f:\n${a.queryExecution.optimizedPlan}")
    }
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw", q).collect().map(_.toString).sorted.toSeq)
  }

  test("a window() dashboard over a maintained store splits hybrid") {
    // round-13 taught the matcher window(); round-14 teaches the SPLIT:
    // the struct's start field is the µs bucket start — an injective
    // axis, so closed days serve from the truncated store and the tail
    // runs raw, split on the UTC day label at or below the frontier
    frontierView("v_win_frontier", Lo + 7 * 86400 + 3600)
    assertHybridEqualsRaw(
      s"""SELECT metric, to_unix_timestamp(window.start) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY metric, window(timestamp_seconds(ts), '1 day')""".stripMargin,
      "v_win_frontier", splitAt = Some(Lo + 7 * 86400))
  }

  test("the Denver DAY idiom splits hybrid on a local midnight — never mid-day") {
    // frontier at Jan 15 01:00 UTC sits INSIDE Denver's Jan 14: the
    // split must land on the Jan 14 local midnight (07:00 UTC), reading
    // the straddled local day entirely raw — an epoch-day split here
    // would bisect it
    val frontier = Lo + 10 * 86400 + 3600
    val denverMidnight = Lo + 9 * 86400 + 25200 // 2024-01-14 07:00 UTC
    frontierView("v_tz_frontier", frontier)
    assertHybridEqualsRaw(
      s"""SELECT metric,
         |       to_unix_timestamp(to_utc_timestamp(date_trunc('DAY',
         |         from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')),
         |         'America/Denver')) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      "v_tz_frontier", splitAt = Some(denverMidnight))
  }

  test("date_trunc over UTC walls splits hybrid too") {
    frontierView("v_trunc_frontier", Lo + 7 * 86400 + 3600)
    assertHybridEqualsRaw(
      s"""SELECT metric,
         |       to_unix_timestamp(date_trunc('DAY', timestamp_seconds(ts))) AS b,
         |       round(sum($clean), 4) AS s
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      "v_trunc_frontier", splitAt = Some(Lo + 7 * 86400))
  }

  test("multi-aggregate + HAVING + ORDER BY survive a hybrid split") {
    // every aggregate rewrites per-branch, each group lives in exactly
    // one branch, and HAVING/ORDER BY reference the preserved output
    // exprIds above the Union — the full dashboard shape over a
    // maintained store
    frontierView("v_multi_frontier", Lo + 7 * 86400 + 3600)
    val q =
      s"""SELECT metric, ts - ts % 86400 AS b,
         |       round(sum($clean), 4) AS s, count($clean) AS c,
         |       round(avg($clean), 4) AS a
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi
         |GROUP BY 1, 2
         |HAVING count($clean) > 5
         |ORDER BY s DESC, b, metric LIMIT 50""".stripMargin
    val a = spark.sql(q.replace("$V", "v_multi_frontier"))
    assert(hybrid(a), s"hybrid split missing a side:\n${a.queryExecution.executedPlan}")
    assert(a.collect().map(_.toString).toSeq ===
      sql("v_raw", q).collect().map(_.toString).toSeq) // ordered compare
  }

  test("a wrapper-only group key still refuses the split — conservative raw") {
    // from_unixtime(floor) IS injective, but the split recognizer only
    // trusts bare cores and the known-injective lifts; an unrecognized
    // wrapper must refuse the split (whole query raw), never mis-split
    frontierView("v_wrap_frontier", Lo + 7 * 86400 + 3600)
    val q =
      s"""SELECT metric, from_unixtime(ts - ts % 86400) AS day,
         |       round(sum($clean), 4) AS s
         |FROM v_wrap_frontier WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin
    val a = spark.sql(q)
    assert(!a.queryExecution.executedPlan.toString.contains("bucket_ts"))
    assert(a.collect().map(_.toString).sorted.toSeq ===
      sql("v_raw",
        s"""SELECT metric, from_unixtime(ts - ts % 86400) AS day,
           |       round(sum($clean), 4) AS s
           |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin)
        .collect().map(_.toString).sorted.toSeq)
  }

  // ---------- round 14: LAST through the SQL rewrite ----------

  private val lastAgg =
    s"max_by($clean, CASE WHEN ($clean) IS NOT NULL THEN ts END)"

  test("guarded max_by serves LAST from the stored column when series-pinned") {
    assertSame(
      s"""SELECT series_id, metric, ts - ts % 86400 AS b,
         |       round($lastAgg, 4) AS lv
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2, 3""".stripMargin,
      expectRouted = true)
  }

  test("max_by without series pinning refuses — cross-series bucket ties") {
    // grouping by metric only puts many series in one group: the store's
    // per-(series, bucket) lasts tie on bucket_ts where raw picks by the
    // unique max ts — must refuse and run raw
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round($lastAgg, 4) AS lv
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin,
      expectRouted = false)
  }

  test("bare max_by(clean, ts) keeps null-at-end semantics — raw") {
    // unguarded ordering returns the possibly-NULL value at the max ts;
    // the stored last skips nulls — the composite cannot reproduce it
    assertSame(
      s"""SELECT series_id, metric, ts - ts % 86400 AS b,
         |       round(max_by($clean, ts), 4) AS lv
         |FROM $$V WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2, 3""".stripMargin,
      expectRouted = false)
  }

  // ---------- round 14: foldable range bounds ----------

  test("a literal-valued but non-literal-shaped bound routes") {
    // to_unix_timestamp('2024-01-05') is foldable but neither a Literal
    // nor a Cast — the bound must fold to 1704412800 and serve, not
    // strip the marker on the first fixpoint pass
    assertSame(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM $$V
         |WHERE ts >= to_unix_timestamp('2024-01-05', 'yyyy-MM-dd') AND ts < $Hi
         |GROUP BY 1, 2""".stripMargin,
      expectRouted = true)
  }

  test("the served plan reads only the store columns it needs") {
    setup
    val df = spark.sql(
      s"""SELECT metric, ts - ts % 86400 AS b, round(sum($clean), 4) AS s
         |FROM v_routed WHERE ts >= $Lo AND ts < $Hi GROUP BY 1, 2""".stripMargin)
    assert(routed(df))
    val plan = df.queryExecution.executedPlan.toString
    // column pruning applies to the substituted scan: the store scan's
    // ReadSchema carries only metric + bucket_ts + sum, not the
    // 10-column composite, and the bucket_ts range is pushed down
    val scanLine = plan.split("\n").find(l => l.contains("ReadSchema") && l.contains("bucket_ts"))
    assert(scanLine.isDefined, s"no store scan in:\n$plan")
    assert(!scanLine.get.contains("sumsq") && !scanLine.get.contains("cnt"),
      s"unpruned store scan:\n${scanLine.get}")
    assert(scanLine.get.contains("PushedFilters: [IsNotNull(bucket_ts)") ||
      scanLine.get.contains("GreaterThanOrEqual(bucket_ts"),
      s"range not pushed to the store scan:\n${scanLine.get}")
  }
}
