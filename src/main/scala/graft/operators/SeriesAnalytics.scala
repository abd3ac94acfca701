package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Post-aggregation series analytics: the upstream OpenTSDB 3.x
 * query-graph nodes an aura-backed deployment runs ABOVE the storage
 * source — sliding-window smoothing, top-n series selection, and
 * cross-query binary expressions. The reference repo contains only the
 * storage/source half of the stack (its iterators feed these nodes in the
 * upstream TSDB executor), so these operators are specified against the
 * public TSDB 3.x node semantics, re-expressed over the engine's
 * aggregated output shape (`keys…, bucket_ts, value`).
 *
 * Scale posture (100 TB): everything here consumes AGGREGATED output —
 * |series| × |buckets| rows, orders of magnitude below the fact scan — so
 * the only wide operations are one window (partitioned by series/group
 * key, never a global sort), one hash aggregate, and one broadcast of an
 * n-row ranking. No operator in this file touches raw points.
 */
object SeriesAnalytics {

  /** Trailing sliding-window aggregate per series/group: value_i :=
   *  agg(value over the last `buckets` buckets up to i). A window frame
   *  `ROWS BETWEEN buckets-1 PRECEDING AND CURRENT ROW` partitioned by
   *  the series key — Spark evaluates frames in bucket order per
   *  partition, so the shuffle is one exchange keyed by the series/group
   *  key (high-cardinality at scale; each partition holds |buckets| rows
   *  per series, a few hundred — no memory pressure at any corpus size).
   *
   *  Missing buckets are NOT filled: the frame is over the buckets that
   *  exist, matching the upstream node's treatment of absent values
   *  (skip, not zero-fill) for sum/avg/min/max. */
  def sliding(ds: DataFrame, partitionKeys: Seq[Column], buckets: Int, agg: String): DataFrame = {
    require(buckets >= 1, s"sliding window needs >= 1 buckets, got $buckets")
    val w = Window.partitionBy(partitionKeys: _*)
      .orderBy(col("bucket_ts").asc)
      .rowsBetween(-(buckets - 1), Window.currentRow)
    val f: Column = agg match {
      case "avg" => avg(col("value")).over(w)
      case "sum" | "zimsum" => sum(col("value")).over(w)
      case "min" | "mimmin" => min(col("value")).over(w)
      case "max" | "mimmax" => max(col("value")).over(w)
      // "last" over a trailing frame is the current row — identity, not
      // a smoother; reject it like the spatial side does
      case "last" => throw new IllegalArgumentException(
        "sliding agg 'last' is the identity over a trailing frame")
      // the plugin family (median / pNN / runtime customs): the SAME
      // registry as the temporal and spatial sides (P1 — the upstream
      // sliding-window node resolves its aggregator from the shared
      // NumericAggregatorFactory registry too), so "p95 over the
      // trailing N buckets" works wherever "avg" does. The aggregate
      // runs per window frame over ≤ `buckets` ALREADY-AGGREGATED
      // values — bounded work per output row at any fact size.
      // bucket_ts is the time axis at this stage, so ts-consuming
      // registered aggregators (last/first, the hash-sampled family)
      // order/sample by the real bucket labels, not a constant.
      case other if graft.query.Aggregators.isRegistered(other) =>
        graft.query.Aggregators.resolve(other)(col("value"), col("bucket_ts"), 0L, None).over(w)
      case other => throw new IllegalArgumentException(s"unknown sliding agg: $other")
    }
    ds.withColumn("value", f)
  }

  /** Top-n series selection: rank each series/group (identified by
   *  `keys`) by the 4-decimal-rounded sum of its values across buckets,
   *  keep the `n` best, and return those series' full bucket rows plus
   *  their `series_total`. Rounding the ranking total (+ the key columns
   *  as tiebreak) makes the cut deterministic and engine-replayable —
   *  the same FP discipline as the group-by queries.
   *
   *  Plan: totals are one hash aggregate (|series| rows out); the
   *  ranked cut compiles to TakeOrderedAndProject (each task keeps a
   *  local top-n, only n rows ever leave a partition — no global sort);
   *  the n-row winner table then BROADCASTS back onto the bucket rows,
   *  so the fact-side frame is never shuffled by this operator. */
  def topN(ds: DataFrame, keys: Seq[String], n: Int, top: Boolean = true,
      valueCol: String = "value", agg: String = "sum"): DataFrame = {
    require(n >= 1, s"topN needs n >= 1, got $n")
    require(keys.nonEmpty, "topN needs at least one series key column")
    // the upstream TopNConfig aggregator vocabulary: the ranking
    // statistic per series/group. FP statistics snap to 4 decimals (the
    // replayable-sum discipline); avg divides the rounded sum (the
    // q_ds_avg convention); `last` picks by bucket_ts, which downsample
    // output guarantees unique per series.
    val rankStat = agg match {
      case "sum" | "zimsum" => round(sum(col(valueCol)), 4)
      case "avg" => round(round(sum(col(valueCol)), 4) / count(col(valueCol)), 4)
      case "min" | "mimmin" => round(min(col(valueCol)), 4)
      case "max" | "mimmax" => round(max(col(valueCol)), 4)
      case "count" => count(col(valueCol)).cast("double")
      case "last" => round(max_by(col(valueCol), col("bucket_ts")), 4)
      case other => throw new IllegalArgumentException(
        s"topN aggregator must be sum/zimsum/avg/min/max/count/last, got $other")
    }
    // drop null-keyed rows UPFRONT (they cannot survive the inner join
    // below). This also makes the two references to `ds` canonicalize
    // identically — the join would otherwise push isnotnull onto only
    // the streamed side — so AQE's exchange reuse dedupes the shared
    // scan→aggregate prefix instead of computing the input twice.
    val clean = ds.filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val totals = clean.groupBy(keys.map(col): _*)
      .agg(rankStat.as("series_total"))
    val rankOrd = (if (top) col("series_total").desc else col("series_total").asc) +:
      keys.map(col(_).asc)
    val winners = totals.orderBy(rankOrd: _*).limit(n)
    clean.join(broadcast(winners), keys)
  }

  /** Summarizer node (upstream TSDB 3.x `SummarizerConfig`): collapse
   *  each series/group's bucket rows to ONE summary row carrying the
   *  requested summary columns. Runs last in the node chain — its
   *  output has no time axis. One hash aggregate over already-aggregated
   *  rows (|series| rows out); FP summaries snap to 4 decimals (the
   *  engine's replayable-sum discipline), count stays exact, first/last
   *  pick by bucket_ts via min_by/max_by (bucket_ts is unique per
   *  series, so the pick is deterministic). */
  def summarize(ds: DataFrame, keys: Seq[String], aggs: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "summarize needs at least one series key column")
    require(aggs.nonEmpty, "summarize needs at least one summary aggregator")
    val exprs = aggs.map {
      // avg is defined as round4(sum)/n so both engines divide identical
      // doubles (the q_ds_avg discipline — a raw distributed avg can land
      // on opposite sides of the 4-decimal boundary per engine)
      case "avg" => round(round(sum(col("value")), 4) / count(col("value")), 4).as("avg_value")
      case "sum" | "zimsum" => round(sum(col("value")), 4).as("sum_value")
      case "min" | "mimmin" => round(min(col("value")), 4).as("min_value")
      case "max" | "mimmax" => round(max(col("value")), 4).as("max_value")
      case "count" => count(col("value")).as("n_buckets")
      case "first" => round(min_by(col("value"), col("bucket_ts")), 4).as("first_value")
      case "last" => round(max_by(col("value"), col("bucket_ts")), 4).as("last_value")
      // pNN / pNN.N percentile summaries (upstream SummarizerConfig's
      // percentile vocabulary) — same exact-interpolation percentile as
      // the downsample plugin family (q_ds_p90's cross-engine contract)
      case p if p.length > 1 && p.head == 'p' &&
          p.tail.forall(c => c.isDigit || c == '.') =>
        val q = p.tail.toDouble / 100.0
        require(q > 0 && q <= 1, s"summarizer percentile out of range: $p")
        round(percentile(col("value"), lit(q)), 4).as(s"${p}_value")
      case other => throw new IllegalArgumentException(s"unknown summarizer agg: $other")
    }
    ds.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** Ratio node (upstream TSDB 3.x `RatioConfig`): each series' value
   *  becomes its share of the per-bucket total across ALL series in the
   *  result set (×100 when `asPercent`). Totals are one hash aggregate
   *  (|buckets| rows — tiny at any scale) that BROADCASTS back onto the
   *  bucket rows, so the series frame is never shuffled by this node;
   *  the two references to `ds` share one exchange via AQE reuse (the
   *  [[topN]] pattern). The total snaps to 4 decimals before the
   *  division so both engines divide identical doubles; zero-total
   *  buckets drop (no infinities), mirroring [[binary]]'s divide. */
  def ratio(ds: DataFrame, asPercent: Boolean = true): DataFrame = {
    val totals = ds.groupBy(col("bucket_ts"))
      .agg(round(sum(col("value")), 4).as("__tot"))
      .filter(col("__tot") =!= 0)
    val scale = if (asPercent) lit(100.0) else lit(1.0)
    ds.join(broadcast(totals), "bucket_ts")
      .withColumn("value", col("value") * scale / col("__tot"))
      .drop("__tot")
  }

  /** Anomaly scoring (the upstream TSDB 3.x anomaly node family,
   *  restated deterministically): each bucket's value is z-scored
   *  against its OWN series' expanding history — mean and sample
   *  stddev over all STRICTLY EARLIER buckets — and flagged when
   *  |z| ≥ `threshold`. The first `minHistory` buckets of a series
   *  emit null z (not enough history to call anything anomalous),
   *  exactly like a trained baseline warming up.
   *
   *  Replayability: both engines evaluate the expanding frame in
   *  bucket order, and mean/std snap to 4 decimals BEFORE the z
   *  division, so the flag threshold compares identical doubles. One
   *  window partitioned by series (never a global sort), aggregated
   *  scale. */
  def zscore(ds: DataFrame, keys: Seq[Column], threshold: Double = 3.0,
      minHistory: Int = 3): DataFrame = {
    require(minHistory >= 2, s"zscore needs >= 2 history buckets, got $minHistory")
    val w = Window.partitionBy(keys: _*)
      .orderBy(col("bucket_ts").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = round(avg(col("value")).over(w), 4)
    val s = round(stddev_samp(col("value")).over(w), 4)
    val n = count(col("value")).over(w)
    val z = when(n >= minHistory && s > 0, round((col("value") - m) / s, 4))
    ds.withColumn("zscore", z)
      .withColumn("anomaly", coalesce(abs(col("zscore")) >= lit(threshold), lit(false)))
  }

  /** MAD-based ROBUST anomaly scoring (Rousseeuw & Croux 1993 — the
   *  median-absolute-deviation detector; the robust sibling of
   *  [[zscore]] and the retrospective sibling of [[olympic]]): each
   *  bucket is scored against its (series, seasonal-slot) cohort's
   *  MEDIAN, scaled by 1.4826·MAD (the consistency constant that makes
   *  MAD estimate σ under normality), and flagged when
   *  |robust_z| ≥ `threshold`.
   *
   *  Why it earns its place beside zscore: a single large outlier
   *  inflates the mean AND the stddev it is scored against, so the
   *  plain z-score can fail to flag the very point that caused the
   *  inflation (masked outlier). Median and MAD have a 50% breakdown
   *  point — the spec pins a cohort whose spike zscore misses and
   *  robust_z flags. Unlike the causal expanding-history zscore this
   *  is a RETROSPECTIVE detector (cohort statistics over the whole
   *  queried range), the backfill/audit shape.
   *
   *  Slots with MAD = 0 (at least half the cohort sits exactly on the
   *  median) emit null robust_z and never flag — a constant cohort has
   *  no scale to score against.
   *
   *  Plan shape: TWO whole-partition window aggregates over the SAME
   *  (keys, slot) partitioning — one exchange, one sort, and the
   *  upstream (often a fact-sized downsample pipeline) evaluates
   *  exactly once BY CONSTRUCTION. The operator first shipped as
   *  groupBy + join-back, which references the aggregated lineage
   *  three times; Spark's exchange reuse recovers part of that, but
   *  the interleaved same-JVM A/B (BENCH_SCALE_TSDB.json, p_anomaly_mad_joins)
   *  still reads 3.12 / 3.99 / 18.13 s for the join form vs
   *  2.00 / 2.72 / 15.49 s for this window form across 100k/1M/10M
   *  events — faster at every decade, and single-pass whatever the
   *  optimizer does.
   *  Replayability: median and MAD are exact interpolated percentiles
   *  over identical doubles in both engines; robust_z snaps to 6
   *  decimals (the rate convention) BEFORE the threshold compare. */
  def robustZscore(ds: DataFrame, keys: Seq[String], positionCol: Column,
      threshold: Double = 3.0): DataFrame = {
    val w = Window.partitionBy((keys.map(col) :+ col("__slot")): _*)
    ds.withColumn("__slot", positionCol)
      .withColumn("__med", percentile(col("value"), lit(0.5)).over(w))
      .withColumn("__adev", abs(col("value") - col("__med")))
      .withColumn("__mad", percentile(col("__adev"), lit(0.5)).over(w))
      .withColumn("baseline", round(col("__med"), 4))
      .withColumn("robust_z", when(col("__mad") > 0,
        round((col("value") - col("__med")) / (lit(1.4826) * col("__mad")), 6)))
      .withColumn("anomaly",
        coalesce(abs(col("robust_z")) >= lit(threshold), lit(false)))
      .drop("__slot", "__med", "__adev", "__mad")
  }

  /** Cross-query binary expression (the upstream TSDB 3.x expression
   *  node): join two aggregated result sets on their common series keys
   *  + bucket and combine the values arithmetically. The join is the
   *  node's "intersection" semantics — buckets present on only one side
   *  drop out; `divide` additionally drops zero denominators (no
   *  infinities in the output). Both operands are aggregated frames, so
   *  the equi-join shuffles |series|×|buckets| rows at most — and when
   *  one side is known-small the caller can pass it pre-`broadcast`. */
  def binary(left: DataFrame, right: DataFrame, keys: Seq[String], op: String): DataFrame = {
    val joinKeys = keys :+ "bucket_ts"
    val l = left.select(joinKeys.map(col) :+ col("value").as("__l"): _*)
    val r = right.select(joinKeys.map(col) :+ col("value").as("__r"): _*)
    val joined = l.join(r, joinKeys)
    val v: Column = op match {
      case "add" => col("__l") + col("__r")
      case "subtract" => col("__l") - col("__r")
      case "multiply" => col("__l") * col("__r")
      case "divide" => col("__l") / col("__r")
      case other => throw new IllegalArgumentException(s"unknown expression op: $other")
    }
    val guarded = if (op == "divide") joined.filter(col("__r") =!= 0) else joined
    guarded.withColumn("value", v).drop("__l", "__r")
  }

  /** Moving-average node (the upstream TSDB 3.x `MovingAverageConfig`):
   *  each bucket's value becomes the weighted mean of the trailing
   *  `samples` buckets of its own series — weight `(1-alpha)^k` at lag k
   *  when `exponential` (most recent weighs 1), equal weights (the
   *  upstream simple/WMA mode, where integer-valued inputs make the sum
   *  exact FP with no weight discipline at all) when not. The upstream
   *  node bounds the window at `samples` points, so the truncation IS
   *  the node's semantics — not an approximation.
   *
   *  Determinism: the window is an explicit lag-chain (no windowed SUM,
   *  whose accumulation order differs between engines), summed
   *  left-to-right lag 0 → samples-1 in BOTH engines; with a dyadic
   *  alpha (0.5, 0.25, …) the weights are exact binary fractions, so
   *  weighted sums of integer-valued inputs are exact FP and the single
   *  terminal division runs over identical doubles cross-engine. Partial
   *  head windows renormalize over the lags that exist (upstream
   *  averageInitial behavior).
   *
   *  Plan: one exchange keyed by the series/group key, `samples` lag
   *  reads per row — no per-series state beyond the frame, no global
   *  sort; identical scale posture to [[sliding]]. */
  def movingAverage(ds: DataFrame, partitionKeys: Seq[Column], samples: Int,
      alpha: Double = 0.5, exponential: Boolean = true): DataFrame = {
    require(samples >= 1, s"movingAverage needs >= 1 samples, got $samples")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val w = Window.partitionBy(partitionKeys: _*).orderBy(col("bucket_ts").asc)
    val terms = (0 until samples).map { k =>
      val weight = if (exponential) math.pow(1 - alpha, k) else 1.0
      val v = if (k == 0) col("value") else lag(col("value"), k).over(w)
      (when(v.isNotNull, v * lit(weight)).otherwise(lit(0.0)),
        when(v.isNotNull, lit(weight)).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduceLeft(_ + _)
    val den = terms.map(_._2).reduceLeft(_ + _)
    ds.withColumn("value", num / den)
  }

  /** Bucket-quantile node (the upstream TSDB 3.x `BucketQuantileConfig`):
   *  the input series are HISTOGRAM BUCKET COUNTERS — one metric per
   *  bucket, bounds encoded in the metric name (`<base>_<lo>_<hi>`,
   *  overflow `<base>_<lo>_inf`) exactly as the upstream node parses its
   *  bucket ids. For each (series key, bucket_ts) and each requested
   *  quantile q, the output value is the UPPER bound of the first bucket
   *  (in ascending lower-bound order) whose cumulative count reaches
   *  q × total; the overflow bucket reports its lower bound (it has no
   *  finite upper edge). Output carries one row per quantile with a
   *  `quantile` column.
   *
   *  Determinism: counts are integers, the cumulative sum is exact in
   *  any evaluation order, and q × total is one IEEE multiply of the
   *  same two doubles in both engines — so the bucket pick replays
   *  bit-identically with no rounding discipline needed.
   *
   *  Plan: bound parsing is a projection; the cumulative count is one
   *  window over ≤ |buckets| rows per (series, ts) partition (a dozen
   *  rows — no skew possible); quantile fan-out is a broadcast cross
   *  join against a |quantiles|-row local relation; the pick is one
   *  hash aggregate. Nothing here touches raw points — input is already
   *  aggregated counters, |series| × |buckets| × |intervals| rows. */
  def bucketQuantile(ds: DataFrame, keys: Seq[String], quantiles: Seq[Double],
      bucketCol: String = "metric", cumulative: Boolean = false): DataFrame = {
    require(quantiles.nonEmpty, "bucketQuantile needs at least one quantile")
    require(quantiles.forall(q => q > 0 && q <= 1), s"quantiles must be in (0,1]: $quantiles")
    val lo = regexp_extract(col(bucketCol), "_([0-9.]+)_([0-9.]+|inf)$", 1).cast("double")
    val hiStr = regexp_extract(col(bucketCol), "_([0-9.]+)_([0-9.]+|inf)$", 2)
    // overflow bucket: no finite upper edge — report its lower bound
    val rep = when(hiStr === "inf", lo).otherwise(hiStr.cast("double"))
    val keyCols = keys.map(col)
    val part = keyCols :+ col("bucket_ts")
    val wCum = Window.partitionBy(part: _*).orderBy(col("__lo").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(part: _*)
    // cumulative counters (the upstream config's other bucket shape —
    // Prometheus-style "le" counters): each bucket already carries the
    // running total, so the cumulative count IS the value and the grand
    // total is the max; the pick below is identical either way
    val withLo = ds.withColumn("__lo", lo).withColumn("__rep", rep)
    val bounded =
      if (cumulative) withLo
        .withColumn("__cum", col("value"))
        .withColumn("__tot", max(col("value")).over(wTot))
      else withLo
        .withColumn("__cum", sum(col("value")).over(wCum))
        .withColumn("__tot", sum(col("value")).over(wTot))
    val spark = ds.sparkSession
    import spark.implicits._
    val qdf = broadcast(quantiles.toDF("quantile"))
    bounded.crossJoin(qdf)
      .filter(col("__cum") >= col("quantile") * col("__tot"))
      .groupBy(part :+ col("quantile"): _*)
      .agg(min(col("__rep")).as("value"))
  }

  /** Olympic-scoring anomaly baseline (the egads `OlympicModel` the
   *  upstream TSDB anomaly node family hosts, restated
   *  deterministically): each bucket's expected value is the OLYMPIC
   *  MEAN — drop the single highest and single lowest, average the
   *  rest — of its own series' STRICTLY EARLIER buckets at the same
   *  seasonal position (`positionCol`, e.g. day-of-week for daily
   *  buckets). Fewer than 4 history points fall back to the plain mean
   *  (nothing to trim); fewer than `minHistory` emit a null baseline
   *  (model warm-up, as [[zscore]]). The anomaly flag fires when
   *  |value − baseline| / baseline ≥ `threshold` (baseline > 0).
   *
   *  Determinism: sum/min/max/count over integer-valued inputs are
   *  exact in any order; the one division and the ratio snap to 4
   *  decimals before the threshold compare, so the flag replays
   *  bit-identically cross-engine.
   *
   *  Plan: ONE window partitioned by (series key, position) in bucket
   *  order — aggregated-scale rows, a handful per partition; no global
   *  sort, no second pass. */
  def olympic(ds: DataFrame, keys: Seq[Column], positionCol: Column,
      threshold: Double = 0.5, minHistory: Int = 2): DataFrame = {
    require(minHistory >= 1, s"olympic needs >= 1 history buckets, got $minHistory")
    val w = Window.partitionBy(keys :+ positionCol: _*)
      .orderBy(col("bucket_ts").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val n = count(col("value")).over(w)
    val s = sum(col("value")).over(w)
    val mn = min(col("value")).over(w)
    val mx = max(col("value")).over(w)
    val baseline = when(n >= 4, round((s - mn - mx) / (n - 2), 4))
      .when(n >= minHistory, round(s / n, 4))
    val dev = when(baseline > 0, round(abs(col("value") - baseline) / baseline, 4))
    ds.withColumn("baseline", baseline)
      .withColumn("deviation", dev)
      .withColumn("anomaly", coalesce(col("deviation") >= lit(threshold), lit(false)))
  }
}
