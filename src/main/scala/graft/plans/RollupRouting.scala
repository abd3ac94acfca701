package graft.plans

import graft.core.Intervals
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, TimestampType}

/** One stored composite in a rollup ladder: the analyzed plan of a
 *  [[graft.rollup.Rollup.build]] table (series_id, metric, tags,
 *  bucket_ts, sum, cnt, min, max, last, sumsq) at `intervalSeconds`
 *  granularity, complete over the facade's time domain up to `frontier`
 *  (`Long.MaxValue` = complete store; anything lower is the ingest's
 *  close-gated flush frontier, [[graft.streaming.IngestJob.rollupFrontier]]). */
case class RollupStoreRef(plan: LogicalPlan, intervalSeconds: Long, frontier: Long)

/**
 * Marker node for transparent rollup routing (A14 lifted into the
 * optimizer). `child` is the LWW-deduped points plan a routed frame
 * exposes; `stores` is the rollup LADDER attached by [[RollupRouting.routed]]
 * — one or more stored composites (e.g. 1h + 1d), each covering `child`'s
 * ENTIRE time domain at its own granularity up to its own flush frontier.
 * The reference's rollup-aware read picks among stored aggregation streams
 * the same way — interval id + aggregator bitmask per segment
 * (GorillaDownSampledTimeSeriesEncoder.java:85-120,138-180).
 *
 * The node is a pure pass-through: unrewritten it plans as its child (the
 * [[RollupRouting]] rule strips every marker it does not serve, in the
 * same pass), so a query that cannot be served is simply the raw query.
 * Store plans ride as FIELDS, not children, so optimizer transforms do
 * not descend into them until one is actually substituted.
 */
case class RollupServable(
    child: LogicalPlan,
    stores: Seq[RollupStoreRef]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): RollupServable =
    copy(child = newChild)
}

/**
 * Pass-through node over the raw points inside a [[RollupServable]]'s
 * child: it marks where the LWW dedupe reads its input, so the
 * [[RollupRouting]] rule can apply a raw side's ts and series conjuncts
 * BELOW the dedupe (see `RollupRouting.raw`). The rule removes it
 * together with the marker.
 */
case class DedupeInput(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): DedupeInput =
    copy(child = newChild)
}

/**
 * The reference's serve-from-rollup decision
 * (opentsdb/.../storage/AerospikeBatchQueryNode.java:196-226: stored
 * aggregator + exact interval divisibility) as a Catalyst rewrite — the
 * ONE rung choice in graft. Every routed front end builds its plan over a
 * [[routed]] frame and lets this rule decide: plain `spark.sql` over a
 * registered view ([[registerLadder]], [[graft.Graft.registerRouted]])
 * and the engine path ([[graft.Graft.queryRouted]], which runs
 * [[graft.query.QueryEngine.run]] over the same frame).
 *
 * A downsample-shaped aggregate
 *
 * {{{
 * SELECT metric, tags['user'], ts - ts % N, sum(nan-cleaned value)
 * FROM graft_points_lww WHERE ts >= a AND ts < b GROUP BY 1, 2, 3
 * }}}
 *
 * over a [[RollupServable]]-marked frame is rewritten to scan ONLY the
 * rollup store that can answer it exactly, when every condition for an
 * exact answer holds:
 *
 *  - every grouping expression references `ts` only through a recognized
 *    BUCKETING CORE that is provably constant within each stored rollup
 *    bucket (arbitrary deterministic wrappers around a core are fine —
 *    a function of a per-bucket constant is a per-bucket constant):
 *      - epoch floors, in every algebraically-equal spelling SQL users
 *        write (the serve decision is phrasing-independent in the
 *        reference, AerospikeBatchQueryNode.java:196-226): `ts - ts % N`,
 *        `floor(ts / N) * N`, `cast(ts / N as long) * N`,
 *        `(ts div N) * N` — legal when `N` is a positive multiple of the
 *        store interval. The FP spellings are exact under the
 *        registration contract (ts ∈ [0, 2^53): cast(ts as double) is
 *        exact below 2^53, the quotient's rounding error there cannot
 *        cross an integer boundary — a tie needs `n*q > 2^54` — and
 *        long→double truncation equals floor for non-negative values);
 *      - calendar truncations — `date_trunc(unit, ·)` over
 *        `timestamp_seconds(ts)` / `cast(ts as timestamp)`, directly
 *        (session-zone walls) or through the standard zone idiom
 *        `from_utc_timestamp(·, z)` (+ optional `to_utc_timestamp` /
 *        `to_unix_timestamp` wrappers) — legal when every wall-clock
 *        boundary instant of the truncation AND every zone transition
 *        inside the queried range lands on a multiple of the store
 *        interval (evaluated directly on the enumerated boundary set:
 *        Denver month starts are whole hours — a 1h store serves;
 *        Kolkata's +05:30 puts them on half hours — refused unless a 30m
 *        store is in the ladder);
 *      - the engine's compiled labels ([[graft.query.QueryEngine.downsample]]):
 *        the calendar label, a literal step chain
 *        `CASE WHEN ts >= b THEN b … END`, legal when every threshold
 *        inside the served range is on the store grid; and the zone
 *        label `((ts + O) - pmod(ts + O, iv)) - L`, with `O` a literal
 *        offset or offset step chain and `L` a function of the local
 *        bucket alone, legal when `iv` is a multiple of the store
 *        interval, every value of `O` is too, and every threshold of `O`
 *        inside the served range is on the grid;
 *  - every aggregate is sum/min/max/count/avg/stddev_samp/last of the
 *    NaN-cleaned value (`CASE WHEN isnan(value) THEN NULL ELSE value
 *    END`, or `nanvl(value, NULL)`) — the exact event space the stored
 *    composite was built over. sum→Σsum, min→min(min), max→max(max),
 *    count→Σcnt, avg→Σsum/Σcnt (the reference's avg-as-sum/count
 *    rewrite, core/downsample/AggregatorType.java), stddev from the
 *    stored moments (SumOfSquareAggregator.java:24), and the
 *    null-guarded `max_by(clean, CASE WHEN clean IS NOT NULL THEN ts
 *    END)` from the stored `last` column when the grouping pins the
 *    series (LAST is a stored aggregator in the reference's
 *    downsampled stream, core/downsample/AggregatorType.java);
 *  - the lower ts bound is store-aligned (`a % rSec == 0`), so stored
 *    rows clip exactly like raw points — an unaligned start would let
 *    the first composite row smuggle out-of-range points into the first
 *    bucket. An upper bound off the grid splits instead: the store
 *    serves up to the last split label on the grid, the rest reads raw;
 *  - all other conjuncts reference only series identity columns or ts
 *    through a legal core (they carry over to the store scan: the
 *    composite holds per-series rows).
 *
 * Anything else — count(*) (row count ≠ value count), plain sum(value)
 * (NaN-poisoning semantics the composite cannot reproduce), predicates
 * on value/seq, unaligned starts, non-deterministic expressions — falls
 * back: first to the next-finer store in the ladder, then by stripping
 * the marker so the query runs raw and stays correct. The output schema
 * (names, exprIds, types) is preserved exactly, so parent operators
 * never notice the substitution. Every raw side — a stripped marker or a
 * hybrid tail — applies its ts and series conjuncts below the LWW dedupe
 * ([[raw]]), so it scans only the segments it spans.
 *
 * A MAINTAINED store (frontier < ∞) additionally splits a
 * frontier-straddling range hybrid: closed query buckets from the store
 * UNION the open tail raw — a dashboard's trailing window never forfeits
 * the store for its closed days. The split keys on any group expr that
 * is an INJECTIVE bucket axis — a bare core, Spark's window() struct, or
 * the epoch-lift calendar idioms — and lands on the largest axis label at
 * or below the frontier (a calendar or zone axis splits on a label, so a
 * mid-bucket frontier never bisects a local day). Results equal the raw
 * computation up to floating-point summation ORDER (the same
 * nondeterminism any Spark aggregation has across partitionings); the
 * oracle rows pin equality at the engine's round-4 contract.
 *
 * Scale: this is the difference between a dashboard aggregating a
 * 100 TB fact table and the same dashboard reading a composite that is
 * ~1/3600th of it — and with a ladder, a DAILY dashboard reads the 1d
 * store (24× fewer rows again) instead of re-aggregating the 1h one —
 * with filter pushdown and column pruning then applying to the STORE
 * scan for free.
 */
object RollupRouting extends Rule[LogicalPlan] with PredicateHelper {

  /** Register `viewName` as the LWW-deduped points view with one rollup
   *  store attached for transparent serving — see [[routed]] for the
   *  full contract (this is the single-store special case). */
  def registerView(spark: SparkSession, points: DataFrame, rollupStore: DataFrame,
      rollupInterval: String, viewName: String,
      rollupUntil: Long = Long.MaxValue): Unit =
    registerLadder(spark, points, Seq((rollupStore, rollupInterval, rollupUntil)),
      viewName)

  /** Register [[routed]]`(spark, points, stores)` as the temp view
   *  `viewName`, for plain `spark.sql` users. */
  def registerLadder(spark: SparkSession, points: DataFrame,
      stores: Seq[(DataFrame, String, Long)], viewName: String): Unit =
    routed(spark, points, stores).createOrReplaceTempView(viewName)

  /** The LWW-deduped `points` with a rollup LADDER attached: `stores` is
   *  (composite, interval, frontier) per rung, e.g. the 1h and 1d stores
   *  an ingest maintains. Any aggregate built over the returned frame —
   *  SQL over a view of it, or [[graft.query.QueryEngine.run]] with
   *  `assumeDeduped = true` — is served from the rung whose served
   *  frontier reaches FURTHEST, tie-breaking coarser (round 15): with
   *  complete stores a daily dashboard reads the 1d store and an hourly
   *  one the 1h store, a non-dividing bucket falls to the finer rung
   *  before falling back to raw — and when an independently-maintained
   *  coarse rung lags, a fully-flushed finer rung serves the whole range
   *  instead of the dashboard re-scanning the coarse rung's open tail
   *  raw. The reference's per-segment interval-id dispatch
   *  (GorillaDownSampledTimeSeriesEncoder.java:138-180).
   *
   *  CONTRACT (not merely a bound check — violating it diverges
   *  silently, the same `ts >= 0` assumption [[SegmentPruning]] makes):
   *   - each store is the exact [[graft.rollup.Rollup.build]] composite
   *     of `points` over its whole time domain at its interval, up to
   *     its frontier;
   *   - `points.ts` is epoch SECONDS with ts ∈ [0, 2^53): non-negative
   *     because the store buckets with Spark's truncated `%` (a point at
   *     ts = -100 lands in bucket_ts = 0, so a served range scan would
   *     include contributions the raw `ts >= 0` filter excludes), and
   *     below 2^53 (where longs cast to double exactly) so the
   *     `floor(ts/N)*N` / `cast(ts/N as long)*N`
   *     phrasings evaluate to the exact integer floor (see the class
   *     doc). Any epoch-second — or even epoch-millisecond — horizon is
   *     orders of magnitude inside both bounds.
   *
   *  Requires [[RollupRouting]] in the session's optimizer (install via
   *  [[graft.core.GraftSession]] / `spark.sql.extensions =
   *  graft.plans.GraftExtensions`) — otherwise the marker node would
   *  survive to planning and fail with an obscure error far from the
   *  call site, so this refuses upfront instead. */
  def routed(spark: SparkSession, points: DataFrame,
      stores: Seq[(DataFrame, String, Long)]): DataFrame = {
    require(stores.nonEmpty, "rollup ladder needs at least one store")
    stores.foreach { case (_, interval, _) =>
      // refuse a permanently-dead rung (e.g. "0all" parses to -1) HERE,
      // like the missing-rule case — not silently at every query
      require(Intervals.toSeconds(interval) > 0,
        s"not a positive rollup interval: $interval")
    }
    requireInstalled(spark)
    val deduped = graft.query.QueryEngine.dedupeConfigured(
      GraftSqlBridge.ofRows(spark, DedupeInput(points.queryExecution.analyzed)))
    val marker = RollupServable(
      deduped.queryExecution.analyzed,
      stores.map { case (df, interval, until) =>
        RollupStoreRef(df.queryExecution.analyzed,
          Intervals.toSeconds(interval), until)
      })
    GraftSqlBridge.ofRows(spark, marker)
  }

  /** Probe that this session's optimizer actually carries the routing
   *  rule: optimize a bare marker — installed ⇒ stripped; absent ⇒ it
   *  survives and registration must fail loudly HERE, not at some later
   *  query's planning with an unknown-node error. */
  private def requireInstalled(spark: SparkSession): Unit = {
    val probe = GraftSqlBridge.ofRows(spark, RollupServable(OneRowRelation(), Nil))
      .queryExecution.optimizedPlan
    if (probe.exists(_.isInstanceOf[RollupServable]))
      throw new IllegalStateException(
        "RollupRouting is not installed in this session's optimizer: build the " +
          "session via graft.core.GraftSession (or set spark.sql.extensions=" +
          "graft.plans.GraftExtensions) before registering a rollup-routed view — " +
          "without the rule the marked view cannot be planned at all.")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg: Aggregate if unwrap(agg.child).isDefined =>
      val (cs, renames, m) = unwrap(agg.child).get
      val conjuncts = cs.map(normalize(renames, _))
      tryServe(agg, conjuncts, renames, m)
        .getOrElse(agg.transform { case m: RollupServable => raw(m, conjuncts) })
    // marker under filters in any other position (a rate window, a
    // SELECT *): raw, with the filters' ts and series conjuncts also
    // applied below the dedupe
    case p @ (_: Filter | _: Project) if unwrap(p).isDefined =>
      val (cs, renames, _) = unwrap(p).get
      p.transform { case m: RollupServable => raw(m, cs.map(normalize(renames, _))) }
    // marker in any other position (joins, limits…): plain pass-through
    case m: RollupServable => raw(m, Nil)
  }

  /** The series-identity and time columns: conjuncts over these alone
   *  commute with the LWW dedupe, which keeps or drops whole
   *  (series, ts) groups. */
  private val DedupeKeys = Set("ts", "series_id", "metric", "tags")

  /** The marker's raw side: its LWW-deduped points, with every conjunct
   *  of `conjuncts` (over the marker's output) that reads only
   *  [[DedupeKeys]] ALSO applied below the dedupe, at its
   *  [[DedupeInput]] — so the scan under it prunes segments and pushes
   *  the ts bounds instead of deduping the whole lake. The caller keeps
   *  every conjunct above as well; ones over value or seq stay there
   *  only. Columns are matched by name: the window dedupe passes its
   *  input attributes through, the hashagg dedupe re-aliases them. */
  private def raw(m: RollupServable, conjuncts: Seq[Expression]): LogicalPlan = {
    val keys = AttributeSet(m.child.output.filter(a => DedupeKeys(a.name)))
    val movable = conjuncts.filter(c => c.deterministic && c.references.nonEmpty &&
      c.references.subsetOf(keys) && !SubqueryExpression.hasSubquery(c))
    m.child.transformDown { case d: DedupeInput =>
      val byName = d.output.map(a => a.name -> a).toMap
      val below = movable
        .filter(_.references.forall(a => byName.contains(a.name)))
        .map(_.transform { case a: AttributeReference if keys.contains(a) => byName(a.name) })
      below.reduceOption(And).fold(d.child)(Filter(_, d.child))
    }
  }

  /** Inline view-compensation / pulled-out-grouping aliases down to the
   *  marker's own attributes, so all pattern matching sees one id space
   *  over one expression shape. Alias chains are short; iterate to a
   *  bounded fixpoint. */
  private def normalize(renames: Map[ExprId, Expression], e: Expression): Expression = {
    var cur = e
    var i = 0
    while (i < 8 && cur.references.exists(a => renames.contains(a.exprId))) {
      cur = cur.transformUp {
        case a: AttributeReference if renames.contains(a.exprId) => renames(a.exprId)
      }
      i += 1
    }
    cur
  }

  /** Peel filters and projects off the path from an aggregate to the
   *  marker, collecting filter conjuncts and every alias definition
   *  (temp-view resolution inserts an alias-compensation Project with
   *  fresh exprIds; PullOutGroupingExpressions extracts complex group
   *  exprs into `_groupingexpression` aliases; column pruning inserts
   *  attribute-only Projects). Conjuncts are returned raw — inline their
   *  attrs through the alias map before matching. Non-deterministic
   *  aliases cannot be inlined, so they fail the peel (→ raw fallback). */
  private def unwrap(plan: LogicalPlan)
      : Option[(Seq[Expression], Map[ExprId, Expression], RollupServable)] =
    plan match {
      case m: RollupServable => Some((Nil, Map.empty, m))
      case Filter(cond, c) =>
        unwrap(c).map { case (cs, sub, m) =>
          (splitConjunctivePredicates(cond) ++ cs, sub, m)
        }
      case Project(list, c) =>
        val defs = list.map {
          case _: AttributeReference => Some(Nil)
          case al @ Alias(child, _) if child.deterministic => Some(Seq(al.exprId -> child))
          case _ => None
        }
        if (defs.contains(None)) None
        else unwrap(c).map { case (cs, sub, m) =>
          (cs, sub ++ defs.flatten.flatten, m)
        }
      case _ => None
    }

  private object IntegralLiteral {
    // the rule can run before ConstantFolding reaches the expression, so
    // evaluate ANY foldable integral expression here — not just bare
    // literals and foldable casts. A bound like
    // `ts >= to_unix_timestamp('2024-01-05')` is foldable but not a Cast;
    // requiring the Cast shape meant pass 1 of the fixpoint failed to
    // serve and `apply` stripped the marker before ConstantFolding's next
    // iteration could expose the literal. Folding any `e.foldable` is
    // safe: foldable implies deterministic, and eval failure (ANSI
    // overflow etc.) just refuses the match.
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Long, LongType) => Some(v)
      case Literal(v: Int, IntegerType) => Some(v.toLong)
      case _ if e.foldable && (e.dataType == LongType || e.dataType == IntegerType) =>
        try e.eval() match {
          case v: java.lang.Long => Some(v)
          case v: java.lang.Integer => Some(v.toLong)
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  /** A foldable double operand (`86400` arrives as `cast(86400 as
   *  double)` inside a `/`; `86400.0` as a literal). */
  private object DoubleLiteral {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, DoubleType) => Some(v)
      case _ if e.foldable && e.dataType == DoubleType =>
        try e.eval() match {
          case v: java.lang.Double => Some(v)
          case _ => None
        } catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }
  }

  private def isNullLiteral(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case c: Cast => isNullLiteral(c.child)
    case _ => false
  }

  /** What a recognized bucketing core buckets by: a fixed epoch-anchored
   *  width (seconds), the same at microsecond precision with an anchor
   *  offset (Spark's `window()` lowering), a civil-calendar truncation in
   *  a zone, or one of the engine's compiled labels — a literal step
   *  chain of ts (`steps` = (threshold, value) in evaluation order, then
   *  the else value), or the zone label over the local bucket `local`
   *  with offset steps `offsets`. */
  private sealed trait BucketShape
  private case class UniformBucket(n: Long) extends BucketShape
  private case class UniformMicrosBucket(nUs: Long, offUs: Long) extends BucketShape
  private case class CalendarBucket(unit: String, zone: String) extends BucketShape
  private case class StepBucket(steps: Seq[(Long, Long)], otherwise: Long) extends BucketShape
  private case class ZoneBucket(core: Expression, local: Expression, iv: Long,
      offsets: Seq[(Long, Long)], otherwise: Long) extends BucketShape

  /** date_trunc units this rule can enumerate boundaries for (SECOND and
   *  finer truncate below any storable rollup — never servable). */
  private val TruncUnits: Map[String, String] = Map(
    "YEAR" -> "YEAR", "YYYY" -> "YEAR", "YY" -> "YEAR",
    "QUARTER" -> "QUARTER",
    "MONTH" -> "MONTH", "MON" -> "MONTH", "MM" -> "MONTH",
    "WEEK" -> "WEEK",
    "DAY" -> "DAY", "DD" -> "DAY",
    "HOUR" -> "HOUR", "MINUTE" -> "MINUTE")

  /** Epoch instants in (lo, hi) where `date_trunc(unit, wall-clock of
   *  zone)` changes value: each wall-clock unit start resolved to the
   *  timeline by the zone's rules (java.time — the same resolution
   *  Spark's datetime expressions use). Capped so a pathological range
   *  (minute-truncating a century) refuses instead of spinning; the cap
   *  is driver-side work bounded by range/unit, never fact size. */
  private def truncBoundaries(unit: String, zone: String,
      lo: Long, hi: Long): Option[Seq[Long]] = {
    import java.time.{DayOfWeek, Instant, LocalDateTime, ZoneId}
    import java.time.temporal.{ChronoUnit, TemporalAdjusters}
    val zid = try ZoneId.of(zone) catch { case _: java.time.DateTimeException => return None }
    def floorWall(l: LocalDateTime): LocalDateTime = unit match {
      case "YEAR" => LocalDateTime.of(l.getYear, 1, 1, 0, 0)
      case "QUARTER" => LocalDateTime.of(l.getYear, ((l.getMonthValue - 1) / 3) * 3 + 1, 1, 0, 0)
      case "MONTH" => LocalDateTime.of(l.getYear, l.getMonthValue, 1, 0, 0)
      case "WEEK" => l.toLocalDate.`with`(
        TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY)).atStartOfDay
      case "DAY" => l.toLocalDate.atStartOfDay
      case "HOUR" => l.truncatedTo(ChronoUnit.HOURS)
      case "MINUTE" => l.truncatedTo(ChronoUnit.MINUTES)
    }
    def next(l: LocalDateTime): LocalDateTime = unit match {
      case "YEAR" => l.plusYears(1)
      case "QUARTER" => l.plusMonths(3)
      case "MONTH" => l.plusMonths(1)
      case "WEEK" => l.plusWeeks(1)
      case "DAY" => l.plusDays(1)
      case "HOUR" => l.plusHours(1)
      case "MINUTE" => l.plusMinutes(1)
    }
    var wall = floorWall(Instant.ofEpochSecond(lo).atZone(zid).toLocalDateTime)
    val out = scala.collection.mutable.ListBuffer.empty[Long]
    var steps = 0
    var b = wall.atZone(zid).toEpochSecond
    while (b < hi && steps < 200000) {
      if (b > lo) out += b
      wall = next(wall)
      b = wall.atZone(zid).toEpochSecond
      steps += 1
    }
    if (steps >= 200000) None else Some(out.toList)
  }

  private def tryServe(agg: Aggregate, conjuncts: Seq[Expression],
      renames: Map[ExprId, Expression], marker: RollupServable): Option[LogicalPlan] = {
    def normalize(e: Expression): Expression = RollupRouting.normalize(renames, e)
    // ColumnPruning's generic case prunes the marker's CHILD down to what
    // the query references (a count() wrapper needs no `value`; a
    // groups-only distinct may not need `ts`), so these are looked up
    // lazily — each is required only by the patterns that mention it
    val base = marker.child.output
    def baseAttr(n: String) = base.find(_.name == n)
    val tsA = baseAttr("ts")
    val valueA = baseAttr("value")

    def isTs(a: AttributeReference) = tsA.exists(_.exprId == a.exprId)
    def isValue(a: AttributeReference) = valueA.exists(_.exprId == a.exprId)

    /** The long `ts` lifted to a timestamp — the leaf calendar cores
     *  truncate (`timestamp_seconds(ts)` / `cast(ts as timestamp)`;
     *  both zone-independent epoch-second reinterpretations). */
    object TsAsTimestamp {
      def unapply(e: Expression): Option[AttributeReference] = e match {
        case c: Cast if c.dataType == TimestampType => c.child match {
          case a: AttributeReference if isTs(a) => Some(a)
          case _ => None
        }
        case SecondsToTimestamp(a: AttributeReference) if isTs(a) => Some(a)
        case _ => None
      }
    }

    /** A literal step function of ts: a foldable integral, or the literal
     *  CASE chain the engine compiles zone offsets and calendar labels to
     *  (`CASE WHEN ts >= t THEN v … ELSE rest END`, nested or flat, maybe
     *  cast to long) → ((threshold, value) in evaluation order, else
     *  value). It changes value only at its thresholds. */
    object TsSteps {
      def unapply(e: Expression): Option[(Seq[(Long, Long)], Long)] = e match {
        case IntegralLiteral(v) => Some((Nil, v))
        case c: Cast if c.dataType == LongType &&
            (c.child.dataType == IntegerType || c.child.dataType == LongType) =>
          unapply(c.child)
        case CaseWhen(branches, Some(TsSteps(rest, otherwise))) =>
          val steps = branches.collect {
            case (GreaterThanOrEqual(a: AttributeReference, IntegralLiteral(t)),
                IntegralLiteral(v)) if isTs(a) => t -> v
          }
          if (steps.size == branches.size) Some((steps ++ rest, otherwise)) else None
        case _ => None
      }
    }

    /** `ts` lifted to epoch MICROSECONDS — the long form Spark's
     *  TimeWindowing lowering works in
     *  (`precisetimestampconversion(timestamp_seconds(ts), ts, long)`). */
    object PtcTsUs {
      def unapply(e: Expression): Option[AttributeReference] = e match {
        case PreciseTimestampConversion(TsAsTimestamp(a), TimestampType, LongType) =>
          Some(a)
        case _ => None
      }
    }

    /** The analyzer's CASE-guarded floorMod over microsecond ts:
     *  `CASE WHEN ((T-off) % n) < 0 THEN ((T-off) % n) + n
     *   ELSE (T-off) % n END` → (ts attr, off, n). */
    object UsFloorMod {
      private object TsOffMod {
        def unapply(e: Expression): Option[(AttributeReference, Long, Long)] = e match {
          case Remainder(Subtract(PtcTsUs(a), IntegralLiteral(off), _),
              IntegralLiteral(n), _) => Some((a, off, n))
          case _ => None
        }
      }
      def unapply(e: Expression): Option[(AttributeReference, Long, Long)] = e match {
        case CaseWhen(Seq((LessThan(TsOffMod(a1, o1, n1), IntegralLiteral(z)),
            Add(TsOffMod(a2, o2, n2), IntegralLiteral(n3), _))),
            Some(TsOffMod(a3, o3, n4)))
          if z == 0 && n1 == n2 && n2 == n3 && n3 == n4 &&
            o1 == o2 && o2 == o3 &&
            a1.exprId == a2.exprId && a2.exprId == a3.exprId =>
          Some((a1, o1, n1))
        case _ => None
      }
    }

    /** Recognize a BUCKETING CORE: a maximal subtree whose only ts
     *  reference factors through a provable per-bucket-constant
     *  function. Every spelling normalizes to its mathematical shape —
     *  the reference's serve decision is phrasing-independent
     *  (AerospikeBatchQueryNode.java:196-226). */
    def matchCore(e: Expression): Option[BucketShape] = e match {
      // Spark's TimeWindowing lowering of a TUMBLING window() group key:
      // T - floorMod(T - off, slide) - off in MICROSECONDS (the
      // named_struct / knownnullable / ptc-back-to-timestamp around it
      // are ordinary wrappers). Sliding windows lower through Expand
      // and never reach this shape.
      case Subtract(Subtract(PtcTsUs(a0), UsFloorMod(a, off, nUs), _),
          IntegralLiteral(off2), _)
          if a0.exprId == a.exprId && off == off2 && nUs > 0 =>
        Some(UniformMicrosBucket(nUs, off))
      // ts - ts % N
      case Subtract(t1: AttributeReference,
          Remainder(t2: AttributeReference, IntegralLiteral(n), _), _)
          if isTs(t1) && isTs(t2) && n > 0 =>
        Some(UniformBucket(n))
      // floor(ts / N) * N  (exact under the ts ∈ [0, 2^53) contract)
      case Multiply(Floor(Divide(c: Cast, DoubleLiteral(d), _)), IntegralLiteral(n), _)
          if c.dataType == DoubleType && n > 0 && d == n.toDouble =>
        c.child match {
          case a: AttributeReference if isTs(a) => Some(UniformBucket(n))
          case _ => None
        }
      case Multiply(IntegralLiteral(n), f: Floor, _) =>
        matchCore(Multiply(f, Literal(n))) // commuted spelling
      // cast(ts / N as long) * N  (truncation == floor for ts >= 0)
      case Multiply(cl: Cast, IntegralLiteral(n), _)
          if cl.dataType == LongType && n > 0 =>
        cl.child match {
          case Divide(c: Cast, DoubleLiteral(d), _)
              if c.dataType == DoubleType && d == n.toDouble =>
            c.child match {
              case a: AttributeReference if isTs(a) => Some(UniformBucket(n))
              case _ => None
            }
          case _ => None
        }
      // (ts div N) * N — pure integer arithmetic, exact outright
      case Multiply(IntegralDivide(t: AttributeReference, IntegralLiteral(n1), _),
          IntegralLiteral(n2), _) if isTs(t) && n1 == n2 && n1 > 0 =>
        Some(UniformBucket(n1))
      // date_trunc(unit, wall clock): directly on ts (walls of the
      // expression's own resolved zone — the session zone), or through
      // the standard from_utc_timestamp idiom (walls of the idiom's
      // zone; the outer trunc must then run on UTC walls or the shift
      // would double-apply)
      case TruncTimestamp(Literal(fmt, StringType), inner, tzId) if fmt != null =>
        TruncUnits.get(fmt.toString.toUpperCase(java.util.Locale.ROOT)).flatMap { unit =>
          inner match {
            case TsAsTimestamp(_) => tzId.map(z => CalendarBucket(unit, z))
            case FromUTCTimestamp(TsAsTimestamp(_), Literal(z, StringType))
                if z != null && tzId.contains("UTC") =>
              Some(CalendarBucket(unit, z.toString))
            case _ => None
          }
        }
      // the engine's zone label ((ts + O) - pmod(ts + O, iv)) - L
      // ([[graft.query.QueryEngine.tzBucket]]): O a literal step chain of
      // ts (the zone's offsets), L any function of the local bucket alone
      // (the label's offset)
      case Subtract(local @ Subtract(Add(t1: AttributeReference, o1 @ TsSteps(offs, off0), _),
          p: Pmod, _), label, _)
          if isTs(t1) && label.deterministic && (p.right match {
            case IntegralLiteral(iv) => iv > 0
            case _ => false
          }) && (p.left match {
            case Add(t2: AttributeReference, o2, _) => isTs(t2) && o2.semanticEquals(o1)
            case _ => false
          }) && !label.transformDown {
            case x if x.semanticEquals(local) => Literal(0L)
          }.references.exists(a => tsA.exists(_.exprId == a.exprId)) =>
        val IntegralLiteral(iv) = p.right: @unchecked
        Some(ZoneBucket(e, local, iv, offs, off0))
      // the engine's calendar label ([[graft.query.QueryEngine.calendarBucket]])
      case TsSteps(steps, otherwise) if steps.nonEmpty => Some(StepBucket(steps, otherwise))
      case _ => None
    }

    /** `e` with ts bound to `t`, evaluated on the driver. */
    def evalAt(e: Expression, t: Long): Option[Long] =
      try e.transform { case a: AttributeReference if isTs(a) => Literal(t) }.eval() match {
        case v: java.lang.Long => Some(v)
        case _ => None
      } catch { case scala.util.control.NonFatal(_) => None }

    // --- filter pass 1 (store-independent): ts range bounds; everything
    // else deferred to per-store rewriting. `kept` holds the normalized
    // ORIGINAL forms — the hybrid raw branch needs them in
    // base-attribute space.
    var lo = Option.empty[Long]
    var hi = Option.empty[Long]
    val deferred = Seq.newBuilder[Expression]
    val keptNotNullTs = Seq.newBuilder[Expression]
    conjuncts.foreach {
      // both writing orders: `ts >= a` and the mirrored `a <= ts`
      case GreaterThanOrEqual(t: AttributeReference, IntegralLiteral(v)) if isTs(t) =>
        lo = Some(lo.fold(v)(math.max(_, v)))
      case LessThanOrEqual(IntegralLiteral(v), t: AttributeReference) if isTs(t) =>
        lo = Some(lo.fold(v)(math.max(_, v)))
      case GreaterThan(t: AttributeReference, IntegralLiteral(v)) if isTs(t) && v < Long.MaxValue =>
        lo = Some(lo.fold(v + 1)(math.max(_, v + 1)))
      case LessThan(IntegralLiteral(v), t: AttributeReference) if isTs(t) && v < Long.MaxValue =>
        lo = Some(lo.fold(v + 1)(math.max(_, v + 1)))
      case LessThan(t: AttributeReference, IntegralLiteral(v)) if isTs(t) =>
        hi = Some(hi.fold(v)(math.min(_, v)))
      case GreaterThan(IntegralLiteral(v), t: AttributeReference) if isTs(t) =>
        hi = Some(hi.fold(v)(math.min(_, v)))
      case LessThanOrEqual(t: AttributeReference, IntegralLiteral(v)) if isTs(t) && v < Long.MaxValue =>
        hi = Some(hi.fold(v + 1)(math.min(_, v + 1)))
      case GreaterThanOrEqual(IntegralLiteral(v), t: AttributeReference) if isTs(t) && v < Long.MaxValue =>
        hi = Some(hi.fold(v + 1)(math.min(_, v + 1)))
      // null ts ⟺ null bucket_ts (every core is null-preserving); the
      // timestamp-lifted spelling is the TimeWindowing-injected filter
      // (`isnotnull(timestamp_seconds(ts))`), null-equivalent to ts
      case nn @ IsNotNull(t: AttributeReference) if isTs(t) =>
        keptNotNullTs += nn
      case nn @ IsNotNull(TsAsTimestamp(_)) =>
        keptNotNullTs += nn
      case other => deferred += other
    }
    // pre-1970 instants: the store buckets with Spark's TRUNCATED `%`
    // (bucket_ts = -3600 holds ts ∈ (-7200, -3600]), so range clipping
    // by bucket_ts would admit out-of-range points — refuse and run raw,
    // the same ts >= 0 contract [[routed]] states
    if (lo.exists(_ < 0) || hi.exists(_ < 0)) return None
    val deferredC = deferred.result()
    val notNullTs = keptNotNullTs.result()

    val normGroups = agg.groupingExpressions.map(normalize)
    val normResult = agg.aggregateExpressions.map(normalize)

    /** Bucket shapes a frontier split can key on: group exprs that are a
     *  bare core, or a known per-bucket-INJECTIVE wrapper of one.
     *  Injectivity matters only for the SPLIT: a non-injective wrapper
     *  (day-of-week of a floor) could map buckets on BOTH sides of the
     *  split into one group value, and the Union would emit two partial
     *  rows for that group. It suffices that ONE group expr is injective
     *  on a grid containing the split point — group tuples then include
     *  that bucket, which pins every tuple to exactly one side; the
     *  other group exprs may wrap cores arbitrarily. Recognized
     *  injective shapes beyond bare cores (round 14, verdict #1):
     *   - Spark's window() struct (group equality ⇔ start equality ⇔
     *     bucket equality — start is the bucket start instant);
     *   - the standard epoch-lift idioms around a calendar truncation
     *     (`to_unix_timestamp(...)`, `to_utc_timestamp(trunc, z)` with
     *     the idiom's own zone) — injective on the strictly-increasing
     *     resolved-boundary set the calendar split verifies (a zone
     *     skipping a whole bucket, Pacific/Apia's skipped day, resolves
     *     two walls to one instant and refuses there). */
    def splitAxis(g: Expression): Option[BucketShape] = matchCore(g).orElse(g match {
      case s: CreateNamedStruct =>
        // the TimeWindowing struct: fields are timestamp lifts of the µs
        // core (start) and core + width (end) — the lift is lossless
        def fieldAxis(e: Expression): Option[BucketShape] = e match {
          case t: TaggingExpression => fieldAxis(t.child) // KnownNullable etc.
          case PreciseTimestampConversion(inner, LongType, TimestampType) =>
            matchCore(inner) match {
              case ok @ Some(_: UniformMicrosBucket) => ok
              case _ => None
            }
          case _ => None
        }
        s.valExprs.flatMap(fieldAxis).headOption
      case ToUnixTimestamp(inner, _, _, _) => splitAxis(inner)
      case ToUTCTimestamp(inner, Literal(z, StringType)) if z != null =>
        matchCore(inner) match {
          case ok @ Some(CalendarBucket(_, zone)) if zone == z.toString => ok
          case _ => None
        }
      case _ => None
    })
    val splitAxes: Seq[BucketShape] = normGroups.flatMap(splitAxis).distinct

    // does some group expr pin the series? (required to serve LAST — see
    // the max_by case in rewriteAgg)
    val seriesPinned: Boolean = normGroups.exists {
      case a: AttributeReference => baseAttr("series_id").exists(_.exprId == a.exprId)
      case _ => false
    }

    /** Attempt to serve the aggregate from one store. Returns the plan
     *  plus how far the store's served head reaches: the hybrid split
     *  point, or Long.MaxValue when the store serves the whole declared
     *  range — the dispatch ranks candidates by it. */
    def tryServeStore(store: RollupStoreRef): Option[(LogicalPlan, Long)] = {
      val rSec = store.intervalSeconds
      if (rSec <= 0) return None
      if (lo.exists(v => Math.floorMod(v, rSec) != 0L)) return None

      // --- the head the store can serve, decided FIRST: the head range
      // [lo, split) is what the store must legally serve, so the
      // calendar legality below enumerates boundaries/transitions over
      // it. The head ends at the store's flush frontier when it is
      // MAINTAINED, and at the last grid instant at or below `hi` when
      // `hi` is off the store grid (a stored row there would carry
      // points past `hi`). A range wholly inside serves outright; any
      // other range SPLITS on the largest query-bucket label at or below
      // that limit — closed buckets from the store, the rest raw. The
      // split keys on an INJECTIVE bucket axis among the group exprs
      // ([[splitAxis]] above), so no group's rows land on both sides.
      val hiOnGrid = hi.forall(v => Math.floorMod(v, rSec) == 0L)
      val limit = math.min(store.frontier, hi.getOrElse(Long.MaxValue))
      def axisBoundary(shape: BucketShape): Option[Long] = shape match {
        case UniformBucket(n) =>
          Some(limit - Math.floorMod(limit, n))
        case UniformMicrosBucket(nUs, offUs) =>
          // largest µs-grid label (≡ offUs mod nUs) at or below the
          // limit, expressed back in whole seconds
          if (limit > Long.MaxValue / 1000000L) None
          else {
            val fUs = limit * 1000000L
            val b = fUs - Math.floorMod(fUs - offUs, nUs)
            if (Math.floorMod(b, 1000000L) != 0L) None else Some(b / 1000000L)
          }
        case CalendarBucket(unit, zone) =>
          for {
            a <- lo
            b <- hi // enumeration needs declared bounds on both sides
            if a < b
            bs <- truncBoundaries(unit, zone, a, b)
            // wall→instant injectivity over the WHOLE queried range: a
            // zone skipping an entire bucket (Pacific/Apia's skipped
            // day) resolves two walls to one instant, which would let
            // one group label occur on both sides of the split
            if bs.zip(bs.drop(1)).forall { case (x, y) => x < y }
            f <- bs.takeWhile(_ <= limit).lastOption
          } yield f
        case StepBucket(steps, otherwise) =>
          // a label chain — each value its own threshold, thresholds
          // descending in evaluation order, the else value below them
          // all — labels ts by the largest threshold at or below it, so
          // every threshold splits it
          val ts = steps.map(_._1)
          if (steps.forall { case (t, v) => t == v } && otherwise < ts.last &&
              ts.zip(ts.drop(1)).forall { case (x, y) => x > y })
            ts.find(_ <= limit)
          else None
        case ZoneBucket(core, local, iv, offsets, otherwise) =>
          // the label of the bucket holding the limit, evaluated on the
          // driver. It splits when it is a label of its own bucket and
          // the second before it is not in that bucket, and the labels
          // never decrease: the local bucket never steps back at an
          // offset threshold, and consecutive local buckets (iv apart)
          // cannot trade order through offsets that differ by < iv
          val offs = otherwise +: offsets.map(_._2)
          val monotone = offs.max - offs.min < iv && offsets.forall { case (t, _) =>
            (for (x <- evalAt(local, t - 1); y <- evalAt(local, t)) yield x <= y)
              .getOrElse(false)
          }
          for {
            f <- evalAt(core, limit)
            if monotone && f <= limit && evalAt(core, f).contains(f)
            if evalAt(core, f - 1).exists(_ < f)
          } yield f
      }
      val frontierSplit: Option[Long] =
        if (hiOnGrid && (store.frontier == Long.MaxValue || hi.exists(_ <= store.frontier)))
          None
        else {
          val cands = splitAxes.flatMap(axisBoundary)
            .filter(f => Math.floorMod(f, rSec) == 0L)
          if (cands.isEmpty) return None // no injective bucket axis: raw / finer rung
          val f = cands.max
          if (lo.exists(_ >= f) || f <= 0) return None // nothing closed: all raw
          Some(f)
        }
      // the range the STORE actually serves — legality below is proved
      // over it, not past the split point
      val servedHi = frontierSplit.orElse(hi)

      // fresh attribute ids per substitution when the store is a leaf
      // relation — two rewrites in one query must not share exprIds
      val rollup = store.plan match {
        case r: MultiInstanceRelation with LeafNode => r.newInstance()
        case other => other
      }
      val rollupSet = AttributeSet(rollup.output)
      def rAttr(n: String) = rollup.output.find(_.name == n)
      val (btsA, sumA, cntA, minA, maxA, lastA, sumsqA) =
        (rAttr("bucket_ts").getOrElse(return None), rAttr("sum").getOrElse(return None),
          rAttr("cnt").getOrElse(return None), rAttr("min").getOrElse(return None),
          rAttr("max").getOrElse(return None), rAttr("last").getOrElse(return None),
          rAttr("sumsq").getOrElse(return None))

      val dimSubst: Map[ExprId, Attribute] = Seq("metric", "tags", "series_id")
        .flatMap(n => baseAttr(n).zip(rAttr(n)))
        .map { case (a, b) => a.exprId -> b }.toMap

      /** Is this core constant within every `rSec` bucket the SERVED
       *  range touches? Uniform: exact divisibility. Calendar: every
       *  wall-boundary instant AND every zone transition in [lo,
       *  servedHi) on the store grid (needs finite declared bounds to
       *  enumerate). */
      val calendarLegal = scala.collection.mutable.Map.empty[(String, String), Boolean]
      def coreLegal(shape: BucketShape): Boolean = shape match {
        case UniformBucket(n) => n > 0 && n % rSec == 0
        case UniformMicrosBucket(nUs, offUs) =>
          // µs-grid boundaries at off + k·n must all land on whole
          // multiples of the store interval
          val rUs = rSec * 1000000L
          nUs > 0 && nUs % rUs == 0 && Math.floorMod(offUs, rUs) == 0L
        case CalendarBucket(unit, zone) =>
          calendarLegal.getOrElseUpdate((unit, zone), {
            // computed into a plain value: a `return` inside this thunk
            // would exit via NonLocalReturnControl and never cache the
            // negative, re-running boundary enumeration per occurrence
            (lo, servedHi) match {
              case (Some(a), Some(b)) if a < b =>
                val walls = truncBoundaries(unit, zone, a, b).exists(
                  _.forall(x => Math.floorMod(x, rSec) == 0L))
                val trans =
                  try Intervals.zoneOffsets(zone, a, b).drop(1)
                    .forall { case (t, _) => Math.floorMod(t, rSec) == 0L }
                  catch { case _: java.time.DateTimeException => false }
                walls && trans
              case _ => false
            }
          })
        case StepBucket(steps, _) => stepsOnGrid(steps)
        case ZoneBucket(_, _, iv, offsets, otherwise) =>
          // every offset a grid multiple: each stored row lies on one
          // offset and its local clock inside one local bucket
          iv % rSec == 0 && stepsOnGrid(offsets) &&
            (otherwise +: offsets.map(_._2)).forall(o => Math.floorMod(o, rSec) == 0L)
      }
      /** A step function of ts is constant on every stored row of the
       *  served range when each threshold inside it is on the grid. */
      def stepsOnGrid(steps: Seq[(Long, Long)]): Boolean = steps.forall { case (t, _) =>
        lo.exists(t <= _) || servedHi.exists(t >= _) || Math.floorMod(t, rSec) == 0L
      }

      /** `value` only in its NaN-cleaned form — the composite's event
       *  space. */
      def cleanValue(e: Expression): Boolean = e match {
        case CaseWhen(Seq((IsNaN(v: AttributeReference), nl)), Some(el: AttributeReference))
          if isValue(v) && el.exprId == v.exprId && isNullLiteral(nl) => true
        case NaNvl(v: AttributeReference, nl)
          if isValue(v) && isNullLiteral(nl) => true
        case _ => false
      }

      /** The null-guarded LAST ordering: `CASE WHEN clean IS NOT NULL
       *  THEN ts END` — orders by ts among non-null cleaned values only,
       *  so max_by picks the last NON-null value, which is exactly what
       *  the composite's `last` column holds (the same guarded max_by,
       *  [[graft.rollup.Rollup.build]]). A bare `max_by(clean, ts)` is
       *  NOT this: it returns the possibly-null value at the max ts,
       *  which the composite cannot reproduce — refused. */
      // a provably-false branch: the bare literal, or `isnotnull(null)`
      // as the fixpoint leaves it between push-down and constant folding
      def falseLit(e: Expression): Boolean = e match {
        case Literal(false, _) => true
        case IsNotNull(n) => isNullLiteral(n)
        case _ => false
      }
      def lastGuard(e: Expression): Boolean = e match {
        case IsNotNull(x) => cleanValue(x)
        // the optimizer pushes the IsNotNull into the clean CASE:
        // `CASE WHEN isnan(v) THEN isnotnull(null) ELSE isnotnull(v) END`
        case CaseWhen(Seq((IsNaN(v: AttributeReference), f)),
            Some(IsNotNull(v2: AttributeReference)))
          if isValue(v) && v2.exprId == v.exprId && falseLit(f) => true
        case _ => false
      }
      def lastOrdering(e: Expression): Boolean = e match {
        case CaseWhen(Seq((g, t: AttributeReference)), elseV)
          if lastGuard(g) && isTs(t) && elseV.forall(isNullLiteral) => true
        case _ => false
      }

      def rewriteAgg(ae: AggregateExpression): Option[Expression] = ae match {
        case AggregateExpression(fn, Complete, false, None, _) =>
          def fresh(f: AggregateFunction) = AggregateExpression(f, Complete, isDistinct = false)
          fn match {
            case s: Sum if cleanValue(s.child) => Some(fresh(Sum(sumA)))
            case m: Min if cleanValue(m.child) => Some(fresh(Min(minA)))
            case m: Max if cleanValue(m.child) => Some(fresh(Max(maxA)))
            case a: Average if cleanValue(a.child) =>
              Some(Divide(fresh(Sum(sumA)), Cast(fresh(Sum(cntA)), DoubleType)))
            case c: Count if c.children.size == 1 && cleanValue(c.children.head) =>
              // count(clean) is non-null; Σcnt over ≥1 store row never null
              // either, but keep the type contract explicit
              Some(Coalesce(Seq(fresh(Sum(cntA)), Literal(0L))))
            // LAST from the stored `last` column (round 14, verdict #2):
            // the reference stores LAST in the downsampled stream and
            // serves it like any other stored agg
            // (core/downsample/AggregatorType.java). Requires the
            // grouping to PIN the series (series_id among the group
            // exprs): within one series bucket_ts is unique per store
            // row and ts unique per deduped point, so max_by over
            // guarded bucket_ts is exactly the raw answer; across series
            // a bucket_ts TIE between two series' store rows would pick
            // arbitrarily where raw picks by the unique max ts — refuse.
            case MaxBy(v, ord) if seriesPinned && cleanValue(v) && lastOrdering(ord) =>
              Some(fresh(MaxBy(lastA,
                CaseWhen(Seq((IsNotNull(lastA), btsA)), None))))
            case sd: StddevSamp if cleanValue(sd.child) =>
              // sample stddev from the stored moments — the reason the
              // reference's composite carries sumofsquare at all
              // (core/downsample/SumOfSquareAggregator.java:24), with
              // greatest(0, ·) clamping the tiny negative variance FP can
              // produce when all values are equal
              val n = Cast(fresh(Sum(cntA)), DoubleType)
              val s = fresh(Sum(sumA))
              val sq = fresh(Sum(sumsqA))
              val variance = Divide(Subtract(sq, Divide(Multiply(s, s), n)),
                Subtract(n, Literal(1.0)))
              Some(CaseWhen(
                Seq((GreaterThan(n, Literal(1.0)),
                  Sqrt(Greatest(Seq(Literal(0.0), variance))))),
                Some(Literal(null, DoubleType))))
            case _ => None
          }
        case _ => None
      }

      /** Substitute base→store attrs; None when anything non-servable
       *  remains (raw ts/value/seq outside the recognized patterns, or
       *  any non-determinism — a per-row random around a constant core
       *  would group store rows differently from raw points). The
       *  aggregate replacements are resolved FIRST, by node identity, so
       *  the traversal never re-inspects a replacement's own store-side
       *  AggregateExpressions (a reference-based "already done" test
       *  would wrongly wave through reference-FREE aggregates like
       *  count(*)). Cores substitute ts→bucket_ts WITHIN their own
       *  subtree: bucket_ts is ts floored to rSec, every legal core is
       *  constant on those buckets, and bucket_ts is a member of its own
       *  bucket — so core(bucket_ts) == core(ts) for every raw point the
       *  store row folded. */
      def rewriteExpr(e: Expression): Option[Expression] = {
        if (!e.deterministic) return None
        val aggMap = new java.util.IdentityHashMap[AggregateExpression, Expression]
        e.foreach {
          case ae: AggregateExpression =>
            rewriteAgg(ae) match {
              case Some(x) => aggMap.put(ae, x)
              case None => return None
            }
          case _ => ()
        }
        var ok = true
        val out = e.transformDown {
          case ae: AggregateExpression if aggMap.containsKey(ae) => aggMap.get(ae)
          case core if matchCore(core).isDefined =>
            if (!coreLegal(matchCore(core).get)) { ok = false; core }
            else core.transform { case a: AttributeReference if isTs(a) => btsA }
          case a: AttributeReference if dimSubst.contains(a.exprId) => dimSubst(a.exprId)
        }
        if (ok && out.references.subsetOf(rollupSet)) Some(out) else None
      }

      // --- deferred conjuncts: series-identity predicates, or ts through
      // a legal core — both carry over to the store scan
      val carried = Seq.newBuilder[Expression]
      deferredC.foreach { other =>
        carried += rewriteExpr(other).getOrElse(return None)
      }
      notNullTs.foreach { _ => carried += IsNotNull(btsA) }

      // --- grouping: every expr rewrites fully (identity columns, legal
      // cores, deterministic wrappers of either — anything else leaves a
      // base attr behind and refuses)
      val newGroups = normGroups.map(g => rewriteExpr(g).getOrElse(return None))

      // --- aggregate output: preserve every name and exprId
      val newResult = agg.aggregateExpressions.zip(normResult).map { case (ne, norm) =>
        rewriteExpr(norm).getOrElse(return None) match {
          case n: NamedExpression if n.exprId == ne.exprId => n
          case other => Alias(other, ne.name)(exprId = ne.exprId)
        }
      }

      val bounds =
        lo.map(v => GreaterThanOrEqual(btsA, Literal(v)).asInstanceOf[Expression]).toSeq ++
          servedHi.map(v => LessThan(btsA, Literal(v)))
      val newCond = (bounds ++ carried.result()).reduceOption(And)
      val newChild = newCond.fold(rollup)(Filter(_, rollup))
      // Pull complex grouping expressions into a Project below the
      // aggregate (Spark's own PullOutGroupingExpressions discipline,
      // which already ran and will not run again): grouping on plain
      // attributes keeps later fixpoint re-runs of expression
      // simplification (SimplifyExtractValueOps collapsing
      // `window_struct.start` in the RESULT while the full struct stays
      // in the grouping) from rewriting a result subtree out of
      // semantic equality with its grouping expression — which would
      // break physical aggregate binding with an internal error. Applies
      // to BOTH emitted aggregates: the served one and the hybrid
      // split's raw tail.
      def pullOutGroups(groups: Seq[Expression], result: Seq[NamedExpression],
          child: LogicalPlan): Aggregate = {
        val seen = scala.collection.mutable.LinkedHashMap.empty[Expression, Alias]
        groups.foreach { g =>
          if (!g.isInstanceOf[Attribute])
            seen.getOrElseUpdate(g.canonicalized, Alias(g, "_groupingexpression")()): Unit
        }
        if (seen.isEmpty) Aggregate(groups, result, child)
        else {
          val aliasFor = seen.toMap
          val groupAttrs = groups.map(g =>
            aliasFor.get(g.canonicalized).map(_.toAttribute).getOrElse(g))
          val proj = Project(child.output ++ seen.values.toSeq, child)
          val replaced = result.map(ne => ne.transformDown {
            case e if aliasFor.contains(e.canonicalized) =>
              aliasFor(e.canonicalized).toAttribute
          }.asInstanceOf[NamedExpression])
          Aggregate(groupAttrs, replaced, proj)
        }
      }
      val served = pullOutGroups(newGroups, newResult, newChild)
      // the substitution must be invisible to parents: same schema exactly
      val sameSchema = served.output.size == agg.output.size &&
        served.output.zip(agg.output).forall { case (a, b) =>
          a.name == b.name && a.dataType == b.dataType && a.exprId == b.exprId
        }
      if (!sameSchema) return None

      frontierSplit match {
        case None => Some((served, Long.MaxValue))
        case Some(f) =>
          // raw tail [f, hi): the original aggregate, normalized to the
          // marker's own attribute space, over the marker's raw side. Result
          // aliases get FRESH ids — Union takes its output from the served
          // branch, and sibling branches must not share defining ids.
          val ts = tsA.getOrElse(return None)
          val rawConjuncts = Seq[Expression](GreaterThanOrEqual(ts, Literal(f))) ++
            hi.map(v => LessThan(ts, Literal(v))) ++ deferredC ++ notNullTs
          // normalize() can turn a bare view attribute into a non-named
          // expression (a derived-table alias inlines to GetMapValue /
          // the floor arithmetic) — re-alias those under the original
          // output name rather than relying on the input being named
          val rawResult = agg.aggregateExpressions.zip(normResult).map {
            case (_, a: Alias) => Alias(a.child, a.name)()
            case (_, n: NamedExpression) => n
            case (ne, other) => Alias(other, ne.name)()
          }
          val rawAgg = pullOutGroups(normGroups, rawResult,
            Filter(rawConjuncts.reduce(And), raw(marker, rawConjuncts)))
          val typesMatch = rawAgg.output.zip(served.output).forall { case (a, b) =>
            a.dataType == b.dataType
          }
          if (typesMatch) Some((Union(Seq(served, rawAgg)), f)) else None
      }
    }

    // --- serve from the store whose served head reaches FURTHEST
    // (round-15 ADVICE: a coarse rung's close-gated flush frontier
    // always lags a finer one's, so first-coarsest-with-any-head could
    // serve day 1 from the 1d rung and scan the whole open day raw
    // while a fully-flushed 1h rung covers both days from its store);
    // tie-break coarser — candidates iterate coarsest-first and maxBy
    // keeps the first of equal maxima. None ⇒ raw (strip) — the
    // reference's per-segment interval dispatch
    // (GorillaDownSampledTimeSeriesEncoder.java:138-180)
    val cands = marker.stores.sortBy(-_.intervalSeconds).flatMap(tryServeStore)
    if (cands.isEmpty) None else Some(cands.maxBy(_._2)._1)
  }
}
