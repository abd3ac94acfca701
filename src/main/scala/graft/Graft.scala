package graft

import graft.query.{QueryEngine, TsdbQuery}
import graft.sources.{PointsSource, TsdbViews}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The user-facing facade: one object to build a session, point at a
 * source, run TSDB-semantics queries, and expose every table to plain
 * `spark.sql`.
 *
 * {{{
 * val spark = Graft.session()
 * val src   = graft.sources.Sources.resolve("lake:/data/graft")
 * val df    = Graft.query(spark, src, TsdbQuery(filter, start, end,
 *               downsample = Some(DownsampleSpec("1m", "avg"))))
 * Graft.registerViews(spark, "/root/testdata/sf0.01")
 * spark.sql("SELECT metric, count(*) FROM graft_points GROUP BY 1")
 * }}}
 */
object Graft {

  def session(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession =
    graft.core.GraftSession.builder(cpus).getOrCreate()

  /** Compile and run a TSDB query against any points source. */
  def query(spark: SparkSession, source: PointsSource, q: TsdbQuery): DataFrame =
    QueryEngine.run(source.points(spark), q)

  /** Run a TSDB query against a STREAMED lake with A14 ladder routing:
   *  the engine plan of `q` is built over the lake's points marked with
   *  its maintained rollup ladder ([[graft.plans.RollupRouting.routed]]),
   *  and the [[graft.plans.RollupRouting]] rule serves its downsample —
   *  under any filter, group-by, fill or analytics node above it — from
   *  the rung whose served frontier reaches furthest, tie-breaking
   *  coarser (hybrid-splitting at the winning rung's frontier, round 15).
   *  A shape no rung can serve runs the raw engine path, reading only
   *  the segments its range spans. The JSON-front-end twin of
   *  [[registerRouted]] — same rule, same frontier-snapshot semantics,
   *  so re-call per refresh tick on a live lake. A lake with no flushed
   *  rung yet just runs raw. */
  def queryRouted(spark: SparkSession, cfg: graft.streaming.IngestJob.Config,
      q: TsdbQuery): DataFrame = {
    val points = graft.streaming.IngestJob.points(spark, cfg)
    val ladder = graft.streaming.IngestJob.rollupLadder(spark, cfg)
    if (ladder.isEmpty) QueryEngine.run(points, q)
    else QueryEngine.run(graft.plans.RollupRouting.routed(spark, points, ladder), q,
      assumeDeduped = true)
  }

  /** Register the ROUTED facade view for a streamed deployment: the
   *  ingest lake's raw points paired with its maintained rollup LADDER
   *  (every `cfg.rollupRungs` store that has closed windows, e.g. 1h +
   *  1d), each at the ingest's OWN per-rung flush frontier, so plain
   *  `spark.sql` aggregates over `viewName` are served from the rung
   *  whose served frontier reaches furthest (tie-break coarser) — closed
   *  windows from rollup rows, the open tail raw — by the [[graft.plans.RollupRouting]]
   *  optimizer rule (A14, transparent). The production one-liner: ingest
   *  maintains, SQL serves. Requires a maintained rung with at least one
   *  closed window and a [[graft.core.GraftSession]]-built session (the
   *  rule must be installed — registration refuses otherwise).
   *
   *  STALENESS: registration snapshots each rung's flush frontier (and,
   *  through the plan, its file listing). On a LIVE ingest the served
   *  prefix therefore ages: queries stay correct (the growing tail runs
   *  raw) but drift toward raw-scan cost until re-registered. Re-call
   *  this after each maintenance cycle — e.g. inside `foreachBatch`
   *  right after the rollup flush, or on the dashboard's refresh tick;
   *  it is a metadata-only operation (two file listings + a temp-view
   *  swap, no data read), so per-trigger re-registration is cheap. */
  def registerRouted(spark: SparkSession, cfg: graft.streaming.IngestJob.Config,
      viewName: String = "graft_points_routed"): Unit = {
    import graft.streaming.IngestJob
    require(cfg.rollupRungs.nonEmpty,
      "registerRouted needs an ingest Config with rollupInterval (or a " +
        "rollupLadder) set — there is no maintained composite to route to otherwise")
    val ladder = IngestJob.rollupLadder(spark, cfg)
    require(ladder.nonEmpty,
      s"no maintained rollup rung of ${cfg.rollupRungs} has a closed window yet " +
        "(young lake?) — nothing to route to; re-register after the first flush")
    graft.plans.RollupRouting.registerLadder(spark, IngestJob.points(spark, cfg),
      ladder, viewName)
  }

  /** Register every engine table as a temp view for `spark.sql` users. */
  def registerViews(spark: SparkSession, dir: String, prefix: String = "graft_"): Unit = {
    val pts = TsdbViews.points(spark, dir)
    pts.createOrReplaceTempView(s"${prefix}points")
    TsdbViews.seriesDim(pts).createOrReplaceTempView(s"${prefix}series_dim")
    graft.events.EventsModel.docs(spark, dir).createOrReplaceTempView(s"${prefix}events")
    spark.read.parquet(s"$dir/documents.parquet")
      .createOrReplaceTempView(s"${prefix}documents")
    spark.read.parquet(s"$dir/embeddings.parquet")
      .createOrReplaceTempView(s"${prefix}embeddings")
  }
}
