package graft.queries

import graft.filters.MatchAll
import graft.plans.RollupRouting
import graft.query.{DownsampleSpec, QueryEngine, TsdbQuery}
import graft.rollup.Rollup
import graft.sources.TsdbViews
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Rollup-routed downsample queries (A10 + A14). Each query routes a
 * downsample through the persisted 1h (and 1d) rollup stores — the
 * engine path over [[RollupRouting.routed]], or plain SQL over a view of
 * it — so the [[RollupRouting]] rule serves it from a store (or falls
 * back to raw when the interval doesn't divide), and is checked against
 * a DuckDB oracle computing the answer directly from raw points —
 * proving the two-stage rollup aggregation is lossless.
 */
object RollupQueries {
  import OracleCommon._

  type Q = (SparkSession, String) => DataFrame

  private val RollupInterval = "1h"

  /** Persisted composite store at `interval`, built once per source dir
   *  per JVM from batch points (the ingest-maintained store analog): the
   *  1h store serves the TRANSPARENT SQL routing rows, the 1d store the
   *  LADDER rows (round 13). */
  private def rollupStore(interval: String) = Build(s"rollup_${interval}_store") { (s, d) =>
    val dir = java.nio.file.Files.createTempDirectory(s"graft_rollup_$interval").toString
    Rollup.build(TsdbViews.points(s, d), interval)
      .write.mode("overwrite").parquet(s"$dir/rollup")
    s"$dir/rollup"
  }

  private val storeFor = rollupStore(RollupInterval)
  private val dailyStoreFor = rollupStore("1d")

  /** Register the marked facade view `graft_points_routed`: plain SQL
   *  aggregates over it are served from the store by the
   *  [[graft.plans.RollupRouting]] optimizer rule when exact. */
  private def routedView(s: SparkSession, d: String): Unit =
    RollupRouting.registerView(s, TsdbViews.points(s, d),
      s.read.parquet(storeFor(s, d)), RollupInterval, "graft_points_routed")

  /** Register the LADDER facade view `graft_points_ladder` (1h + 1d
   *  stores): the rule serves each SQL query from the rung whose served
   *  frontier reaches furthest, tie-breaking coarser — with both stores
   *  complete, a daily dashboard reads the 1d composite and an hourly
   *  one the 1h (plan-asserted in RollupRoutingSpec). */
  private def ladderView(s: SparkSession, d: String): Unit =
    RollupRouting.registerLadder(s, TsdbViews.points(s, d), ladder(s, d),
      "graft_points_ladder")

  /** The complete 1d + 1h ladder, with the 1d rung's frontier at `daily`. */
  private def ladder(s: SparkSession, d: String, daily: Long = Long.MaxValue) =
    Seq((s.read.parquet(dailyStoreFor(s, d)), "1d", daily),
      (s.read.parquet(storeFor(s, d)), RollupInterval, Long.MaxValue))

  /** A LAGGING-ladder facade (round 15): the 1d rung's flush frontier
   *  stops mid-range while the 1h rung is fully flushed. The dispatch
   *  must serve the whole range from the FRESHER 1h rung — the
   *  first-coarsest-with-any-head walk of rounds 13-14 served the head
   *  from the 1d store and re-scanned the entire open tail raw. */
  private val MidFrontier = Start + 10 * 86400L

  private def ladderLagView(s: SparkSession, d: String): Unit =
    RollupRouting.registerLadder(s, TsdbViews.points(s, d), ladder(s, d, MidFrontier),
      "graft_points_ladder_lag")

  /** The engine path: `spec` over [from, to) through [[QueryEngine.run]]
   *  over the points marked with `stores` — the rule serves it. */
  private def engineRouted(s: SparkSession, d: String,
      stores: Seq[(DataFrame, String, Long)], spec: DownsampleSpec,
      from: Long = Start, to: Long = End): DataFrame =
    QueryEngine.run(RollupRouting.routed(s, TsdbViews.points(s, d), stores),
      TsdbQuery(MatchAll, from, to, downsample = Some(spec)), assumeDeduped = true)

  /** The complete 1h store alone, up to `until`. */
  private def hourly(s: SparkSession, d: String, until: Long = Long.MaxValue) =
    Seq((s.read.parquet(storeFor(s, d)), RollupInterval, until))

  private def routed(s: SparkSession, d: String, spec: DownsampleSpec): DataFrame =
    engineRouted(s, d, hourly(s, d), spec)

  private def out(df: DataFrame, name: String): DataFrame =
    df.select(col("metric"), col("tags")("user").as("tag_user"), col("bucket_ts"),
      round(col("value"), 4).as(name))

  val defs: Map[String, Q] = Map(
    "q_rollup_sum" -> ((s, d) => out(routed(s, d, DownsampleSpec("1d", "sum")), "sum_value")),
    "q_rollup_count" -> ((s, d) => out(routed(s, d, DownsampleSpec("1d", "count")), "cnt")),
    "q_rollup_avg" -> ((s, d) => out(routed(s, d, DownsampleSpec("1d", "avg")), "avg_value")),
    "q_rollup_max" -> ((s, d) => out(routed(s, d, DownsampleSpec("1d", "max")), "max_value")),
    "q_rollup_last" -> ((s, d) => out(routed(s, d, DownsampleSpec("1d", "last")), "last_value")),
    // DEV served from the stored moments (sum/count/sumofsquare) — no
    // raw scan; shares q_ds_dev's exact stddev_samp oracle, so moment
    // reconstruction error beyond round4 fails the hash
    "q_rollup_dev" -> ((s, d) => out(routed(s, d, DownsampleSpec("1d", "dev")), "dev_value")),
    // TIMEZONE-aligned serving: Denver local-midnight daily sums from
    // the stored 1h composites (legal — every Jan-2024 offset is a
    // whole hour, so every stored row lies inside one local day). Shares q_ds_tz's oracle verbatim,
    // so a serve-side bucketing that diverges from the raw zone
    // expression by one row fails the hash.
    "q_rollup_tz" -> ((s, d) => out(routed(s, d,
      DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))), "sum_value")),
    // PERCENTILE served from the rollup pair (composite = presence,
    // stored 1/4 hash sample = order statistic): shares
    // q_ds_p95_sampled's oracle VERBATIM — the stored-sample route is
    // lossless by construction, so any divergence from the raw-scan
    // sampled percentile fails the hash
    "q_rollup_p95_sampled" -> { (s, d) =>
      val p = TsdbViews.points(s, d)
        .filter(col("ts") >= lit(Start) && col("ts") < lit(End))
      out(Rollup.servePercentileSampled(Rollup.build(p, RollupInterval),
        Rollup.buildSample(p, RollupInterval, 4), "1d", 0.95, Start, End),
        "p95_sampled")
    },
    // A14 × timezone HYBRID (round 11): the Denver daily downsample with
    // a flush frontier mid-range — closed local days serve from the
    // stored 1h composites, the tail reads raw, split on the largest
    // local-midnight LABEL at or below the frontier (tz buckets are
    // non-uniform, so an epoch floor could bisect a local day). Shares
    // q_ds_tz's oracle verbatim: a double-emitted or lost straddling
    // bucket fails the hash.
    "q_rollup_tz_hybrid" -> ((s, d) =>
      out(engineRouted(s, d, hourly(s, d, until = Start + 10 * 86400 + 3600),
        DownsampleSpec("1d", "sum", timezone = Some("America/Denver"))), "sum_value")),
    // CALENDAR serving (round 11): Denver MONTHLY sums from the stored
    // 1h composites — legal because every month boundary is a local
    // midnight on a whole-hour offset, so no stored row straddles two
    // months). Shares q_ds_month_tz's raw-scan
    // oracle verbatim: a stored row mis-floored across the Dec/Jan
    // local boundary fails the hash.
    "q_rollup_month_tz" -> ((s, d) =>
      out(engineRouted(s, d, hourly(s, d),
        DownsampleSpec("1n", "sum", timezone = Some("America/Denver")),
        DataStart, TzFillEnd), "sum_value")),
    // quarters ("3n") through the same serve: the epoch-calendar
    // anchoring (Oct 1 2023 label for the early-January rows) must
    // survive the stored-row path; q_ds_quarter_tz's oracle verbatim
    "q_rollup_quarter_tz" -> ((s, d) =>
      out(engineRouted(s, d, hourly(s, d),
        DownsampleSpec("3n", "sum", timezone = Some("America/Denver")),
        DataStart, TzFillEnd), "sum_value")),
    // 90m does not divide by 1h ⇒ the router must fall back to raw points
    "q_rollup_fallback" -> ((s, d) => out(routed(s, d, DownsampleSpec("90m", "sum")), "sum_value")),
    // A14 FOR SQL USERS (round 12): the identical daily-sum SQL a user
    // would write against the facade view, served from the persisted 1h
    // composite by the RollupRouting optimizer rule — no Window, no raw
    // scan (plan-pinned in RollupRoutingSpec). Shares q_rollup_sum's
    // oracle verbatim: a rewrite that loses a row or mis-maps an
    // aggregate fails the hash.
    "q_sql_rollup_routed" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // avg through the same rewrite: the rule maps avg(clean) to
    // Σsum/Σcnt — the reference's avg-as-sum-over-count — and shares
    // q_rollup_avg's sum/count oracle verbatim
    "q_sql_rollup_avg" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(avg(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS avg_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // A14 HYBRID at the SQL layer (round 12): the marked view carries a
    // store TRUNCATED at a mid-range flush frontier, so the rewrite must
    // SPLIT — closed days served from the store UNION the open tail run
    // raw — the same no-partial-merge split the engine path gets,
    // transparent to a SQL user whose dashboard window straddles the
    // frontier. Shares q_rollup_sum's oracle verbatim: a split that
    // loses, double-counts, or mis-floors the straddling day fails the
    // hash. Plan shape (store scan + raw window in ONE plan) is pinned
    // in RollupRoutingSpec.
    "q_sql_rollup_hybrid" -> { (s, d) =>
      val frontier = Start + 10 * 86400 + 3600 // mid-day, hour-aligned
      graft.plans.RollupRouting.registerView(s, TsdbViews.points(s, d),
        s.read.parquet(storeFor(s, d)).filter(col("bucket_ts") < frontier),
        RollupInterval, "graft_points_routed_hybrid", rollupUntil = frontier)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed_hybrid
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // the HYBRID split for window() phrasing (round 14, verdict #1): the
    // same truncated maintained store, but the dashboard groups by
    // Spark's window() — round 13 taught the matcher the phrasing, round
    // 14 teaches the SPLIT (the struct's start field is an injective
    // bucket axis). Closed days from the store UNION the open tail raw;
    // q_rollup_sum's oracle verbatim.
    "q_sql_rollup_window_hybrid" -> { (s, d) =>
      val frontier = Start + 10 * 86400 + 3600 // mid-day, hour-aligned
      graft.plans.RollupRouting.registerView(s, TsdbViews.points(s, d),
        s.read.parquet(storeFor(s, d)).filter(col("bucket_ts") < frontier),
        RollupInterval, "graft_points_win_hybrid", rollupUntil = frontier)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       to_unix_timestamp(window.start) AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_win_hybrid
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY metric, tags['user'], window(timestamp_seconds(ts), '1 day')""".stripMargin)
    },
    // the HYBRID split for the TZ idiom (round 14, verdict #1): Denver
    // local days over a truncated maintained store — the split lands on
    // the largest local MIDNIGHT at or below the frontier (an epoch-day
    // split would bisect a local day; spec-pinned in RollupRoutingSpec),
    // closed local days from stored 1h rows, the straddled day and tail
    // raw. Shares q_ds_tz's raw-scan oracle verbatim.
    "q_sql_rollup_tz_hybrid" -> { (s, d) =>
      val frontier = Start + 10 * 86400 + 3600
      graft.plans.RollupRouting.registerView(s, TsdbViews.points(s, d),
        s.read.parquet(storeFor(s, d)).filter(col("bucket_ts") < frontier),
        RollupInterval, "graft_points_tz_hybrid", rollupUntil = frontier)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       to_unix_timestamp(to_utc_timestamp(date_trunc('DAY',
           |         from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')),
           |         'America/Denver')) AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_tz_hybrid
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // LAST through the SQL rewrite (round 14, verdict #2): the
    // null-guarded max_by a SQL user writes for "latest value per day"
    // is served from the stored `last` column (max_by(last, guarded
    // bucket_ts) across store rows) — legal because the grouping pins
    // the series. Shares q_rollup_last's arg_max oracle verbatim; the
    // unpinned and unguarded shapes are refusal-pinned in
    // RollupRoutingSpec.
    "q_sql_rollup_last" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(max_by(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                         ELSE value END,
           |                    CASE WHEN (CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                               ELSE value END) IS NOT NULL THEN ts END), 4)
           |         AS last_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY series_id, metric, tags['user'], ts - ts % 86400""".stripMargin)
    },
    // FOLDABLE range bounds (round 14, verdict #4): the bound a dashboard
    // templater writes — `ts >= to_unix_timestamp('2024-01-05')` — is
    // foldable but neither a Literal nor a Cast; the rule folds any
    // foldable integral bound instead of stripping the marker on the
    // first fixpoint pass. Same day range as the canonical row, so
    // q_rollup_sum's oracle applies verbatim.
    "q_sql_rollup_date_bound" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= to_unix_timestamp('2024-01-05', 'yyyy-MM-dd') AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // CROSS-SERIES (spatial) group-by through the rewrite: grouping by
    // host collapses many series into one group, and the store rows
    // still partition the same point set, so Σ(stored hourly sums) per
    // (host, day) equals the raw sum exactly — the rule is not limited
    // to per-series shapes. Own single-stage oracle below.
    "q_sql_rollup_spatial" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT tags['host'] AS tag_host, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2""".stripMargin)
    },
    // dev through the rewrite: stddev_samp(clean) reconstructed from the
    // stored moments (sum/cnt/sumofsquare) — q_rollup_dev's exact
    // stddev_samp oracle, so moment error beyond round4 fails the hash
    "q_sql_rollup_dev" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(stddev_samp(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                              ELSE value END), 4) AS dev_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // the DASHBOARD RATIO pattern through the rewrite (round 12): two
    // metric slices of one routed CTE joined into error/click — each
    // inlined aggregate is rewritten independently, so the whole ratio
    // query runs as two store scans with no raw access (plan-pinned in
    // RollupRoutingSpec). Shares q_expr_ratio's oracle verbatim,
    // including its two-stage round-4 discipline and the zero-denominator
    // drop.
    "q_sql_expr_ratio" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""WITH ds AS (
           |  SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |         round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                        ELSE value END), 4) AS v
           |  FROM graft_points_routed
           |  WHERE ts >= $Start AND ts < $End AND metric IN ('error', 'click')
           |  GROUP BY 1, 2, 3),
           |g AS (
           |  SELECT metric, tag_user, bucket_ts, round(sum(v), 4) AS v
           |  FROM ds GROUP BY 1, 2, 3)
           |SELECT e.tag_user, e.bucket_ts, round(e.v / c.v, 4) AS ratio
           |FROM (SELECT * FROM g WHERE metric = 'error') e
           |JOIN (SELECT * FROM g WHERE metric = 'click') c
           |  USING (tag_user, bucket_ts)
           |WHERE c.v <> 0""".stripMargin)
    },
    // PHRASING-INDEPENDENT routing (round 13, verdict #1): the same
    // daily sum spelled `floor(ts/N)*N` — algebraically identical to
    // `ts - ts % N`, and the rule now normalizes every such spelling to
    // the same core before matching (the reference's serve decision is
    // phrasing-independent, AerospikeBatchQueryNode.java:196-226).
    // Shares q_rollup_sum's oracle verbatim; routing is plan-pinned in
    // RollupRoutingSpec per phrasing.
    "q_sql_rollup_floor_phrasing" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       floor(ts / 86400) * 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // the date_trunc spelling (UTC day walls == epoch-day floors): the
    // rule recognizes the calendar-truncation core and proves legality
    // by enumerating its boundary instants against the store grid —
    // q_rollup_sum's oracle verbatim again
    "q_sql_rollup_trunc_day" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       to_unix_timestamp(date_trunc('DAY', timestamp_seconds(ts))) AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // CALENDAR/TZ SQL routing (round 13, verdict #2): the standard
    // zone-truncation idiom a SQL user writes for Denver months —
    // from_utc→trunc→to_utc→epoch — served from the stored 1h composite
    // because every Denver month boundary AND the in-range spring-forward
    // land on whole hours (the same legality the engine path's
    // q_rollup_month_tz gets; Kolkata's +05:30 walls refuse,
    // spec-pinned). Shares q_ds_month_tz's raw-scan oracle verbatim: a
    // stored row mis-floored across the Dec/Jan local boundary fails the
    // hash.
    "q_sql_rollup_month_tz" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       to_unix_timestamp(to_utc_timestamp(date_trunc('MONTH',
           |         from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')),
           |         'America/Denver')) AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $DataStart AND ts < $TzFillEnd
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // Spark's own window() phrasing: the analyzer lowers the tumbling
    // window to a µs floorMod + struct (TimeWindowing); the rule
    // recognizes that generated core too, so GROUP BY window(...) serves
    // from the store like every other daily-floor spelling —
    // q_rollup_sum's oracle verbatim
    "q_sql_rollup_window" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       to_unix_timestamp(window.start) AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY metric, tags['user'], window(timestamp_seconds(ts), '1 day')""".stripMargin)
    },
    // the TZ-DAILY idiom (Denver local midnights): the same legality
    // machinery, day-grain walls — q_ds_tz's raw-scan oracle verbatim,
    // so a serve-side label one hour off fails the hash
    "q_sql_rollup_tz_day" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user,
           |       to_unix_timestamp(to_utc_timestamp(date_trunc('DAY',
           |         from_utc_timestamp(timestamp_seconds(ts), 'America/Denver')),
           |         'America/Denver')) AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // LADDER routing (round 13, verdict #3): the daily dashboard over a
    // 1h + 1d ladder serves from the COARSEST legal rung — the 1d store,
    // 24× fewer rows than the 1h it previously re-aggregated
    // (plan-asserted in RollupRoutingSpec: the 1d relation is scanned).
    // q_rollup_sum's oracle verbatim.
    "q_sql_rollup_ladder_daily" -> { (s, d) =>
      ladderView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_ladder
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // an HOURLY bucket cannot divide the 1d rung, so the ladder falls to
    // the finer 1h store before raw (plan-asserted) — own single-stage
    // oracle (2-day, one-metric slice keeps the hourly result compact)
    "q_sql_rollup_ladder_hourly" -> { (s, d) =>
      ladderView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 3600 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_ladder
           |WHERE ts >= $Start AND ts < ${Start + 2 * 86400} AND metric = 'click'
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // round-15 rung choice: over the LAGGING ladder (1d frontier stops
    // mid-range, 1h fully flushed) the dispatch serves the whole range
    // from the fresher 1h rung — no hybrid split, no raw scan of the
    // tail (plan-asserted in RollupRoutingSpec). q_rollup_sum's oracle
    // verbatim, so a mis-ranked rung that re-scans raw still has to be
    // value-identical — and the plan pin catches it being raw at all.
    "q_sql_rollup_ladder_fresh" -> { (s, d) =>
      ladderLagView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 86400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_ladder_lag
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // the engine-path twin: the same lagging rung set, and the rule
    // picks the 1h rung by served-frontier rank — shared oracle
    "q_rollup_ladder_fresh" -> ((s, d) =>
      out(engineRouted(s, d, ladder(s, d, MidFrontier), DownsampleSpec("1d", "sum")),
        "sum_value")),
    // the SQL fallback: a 90m bucket is not a multiple of the stored 1h,
    // so the rule must refuse and the query runs raw over the marked
    // view — q_rollup_fallback's oracle verbatim
    "q_sql_rollup_fallback" -> { (s, d) =>
      routedView(s, d)
      s.sql(
        s"""SELECT metric, tags['user'] AS tag_user, ts - ts % 5400 AS bucket_ts,
           |       round(sum(CASE WHEN isnan(value) THEN CAST(NULL AS DOUBLE)
           |                      ELSE value END), 4) AS sum_value
           |FROM graft_points_routed
           |WHERE ts >= $Start AND ts < $End
           |GROUP BY 1, 2, 3""".stripMargin)
    },
    // the EWMA analytic node composes over the ROLLUP-ROUTED plan: daily
    // counts served from the 1h rollup table (no raw scan), smoothed by
    // the same lag-chain — shares q_ds_ewma's raw-points oracle, so any
    // rollup lossiness OR node divergence fails the hash
    "q_rollup_ewma" -> { (s, d) =>
      val ds = routed(s, d, DownsampleSpec("1d", "count"))
      out(graft.operators.SeriesAnalytics.movingAverage(ds,
        Seq(col("metric"), col("tags")("user")), samples = 4, alpha = 0.5), "ewma")
    }
  )

  private def oracle(aggSql: String, name: String, bucketSec: Long = 86400): String =
    s"""WITH $pointsCtes
       |SELECT metric, tag_user, ts - ts % $bucketSec AS bucket_ts, $aggSql AS $name
       |FROM dedup WHERE ${inRange()}
       |GROUP BY 1, 2, 3""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_rollup_sum" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_rollup_count" -> oracle("CAST(count(value) AS DOUBLE)", "cnt"),
    "q_rollup_avg" -> oracle(rnd("sum(value) / count(value)"), "avg_value"),
    "q_rollup_max" -> oracle(rnd("max(value)"), "max_value"),
    "q_rollup_last" -> oracle(rnd("arg_max(value, ts)"), "last_value"),
    "q_rollup_dev" -> oracle(rnd("stddev_samp(value)"), "dev_value"),
    "q_rollup_p95_sampled" -> TsdbQueries.oracles("q_ds_p95_sampled"),
    "q_rollup_tz" -> TsdbQueries.oracles("q_ds_tz"),
    // maintained over the extended window — the raw monthly oracle verbatim
    "q_rollup_month_tz" -> TsdbQueries.oracles("q_ds_month_tz"),
    "q_rollup_quarter_tz" -> TsdbQueries.oracles("q_ds_quarter_tz"),
    "q_rollup_tz_hybrid" -> TsdbQueries.oracles("q_ds_tz"),
    "q_rollup_fallback" -> oracle(rnd("sum(value)"), "sum_value", bucketSec = 5400),
    "q_sql_rollup_routed" -> oracle(rnd("sum(value)"), "sum_value"),
    // phrasing twins: algebraically-identical bucket spellings share the
    // canonical floor oracle VERBATIM — value divergence in any spelling
    // (FP floor vs integer floor, trunc walls vs epoch floor) fails the hash
    "q_sql_rollup_floor_phrasing" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_trunc_day" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_month_tz" -> TsdbQueries.oracles("q_ds_month_tz"),
    "q_sql_rollup_tz_day" -> TsdbQueries.oracles("q_ds_tz"),
    "q_sql_rollup_window" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_ladder_daily" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_ladder_fresh" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_rollup_ladder_fresh" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_ladder_hourly" ->
      s"""WITH $pointsCtes
         |SELECT metric, tag_user, ts - ts % 3600 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup
         |WHERE ts >= $Start AND ts < ${Start + 2 * 86400} AND metric = 'click'
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_sql_rollup_window_hybrid" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_tz_hybrid" -> TsdbQueries.oracles("q_ds_tz"),
    "q_sql_rollup_last" -> oracle(rnd("arg_max(value, ts)"), "last_value"),
    "q_sql_rollup_date_bound" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_avg" -> oracle(rnd("sum(value) / count(value)"), "avg_value"),
    "q_sql_rollup_dev" -> oracle(rnd("stddev_samp(value)"), "dev_value"),
    "q_sql_expr_ratio" -> TsdbQueries.oracles("q_expr_ratio"),
    "q_sql_rollup_hybrid" -> oracle(rnd("sum(value)"), "sum_value"),
    "q_sql_rollup_spatial" ->
      s"""WITH $pointsCtes
         |SELECT tag_host, ts - ts % 86400 AS bucket_ts,
         |       ${rnd("sum(value)")} AS sum_value
         |FROM dedup WHERE ${inRange()}
         |GROUP BY 1, 2""".stripMargin,
    "q_sql_rollup_fallback" -> oracle(rnd("sum(value)"), "sum_value", bucketSec = 5400),
    "q_rollup_ewma" -> TsdbQueries.oracles("q_ds_ewma")
  )
}
