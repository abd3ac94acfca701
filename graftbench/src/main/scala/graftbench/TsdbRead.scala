package graftbench

import graft.Graft
import graft.meta.MetaQueries
import graft.query.TsdbJson
import graft.sources.{PointsSource, Sources, TsdbViews}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.{Failure, Success, Try}

/** A request template: OpenTSDB 3.x query JSON, or a meta query. */
final case class Template(id: Int, kind: String, json: String)

/**
 * A seeded dashboard over a 7-day lake. A refresh issues its 10 panels
 * one after another: 6 narrow reads over a recent 1–6 h window (the
 * hot-window case), 3 wide reads over 7, 3 and 1 days with downsample,
 * rate, group-by or top-n, and 1 meta request. Each panel keeps its
 * query shape; its parameters (metric, series, hour) are drawn Zipf from
 * a seeded pool per panel, so about half the requests of a long run
 * repeat an earlier one, as dashboard refreshes do, and a refresh costs
 * alike under every seed.
 */
object Templates {
  val PerPanel = 8

  /** Panel kinds in refresh order: 60% narrow, 30% wide, 10% meta. */
  val Panels: IndexedSeq[String] =
    IndexedSeq("narrow", "wide", "narrow", "meta", "narrow", "wide", "narrow", "narrow", "wide", "narrow")

  private def metricLit(m: String) = s"""{"type":"MetricLiteral","metric":"$m"}"""
  private def users(us: Seq[Int]) =
    s"""{"type":"TagValueLiteralOr","tagKey":"user","filter":"${us.mkString("|")}"}"""
  private def and(fs: String*) = s"""{"type":"Chain","op":"AND","filters":[${fs.mkString(",")}]}"""

  def pool(seed: Long, now: Long): IndexedSeq[Template] = {
    val rnd = new scala.util.Random(seed ^ 0x7e3a1L)
    val perm = Gen.SeriesPerm(seed)
    // popular series are asked about more often: rank ~ Zipf over series
    def hotSeries(): Int = perm(math.min(Gen.NumSeries - 1,
      math.exp(rnd.nextDouble() * math.log(Gen.NumSeries + 1.0)).toInt - 1))
    def metric(): String = Gen.Metrics(rnd.nextInt(Gen.Metrics.size))
    def downsample(iv: String, agg: String) = s""","downsample":{"interval":"$iv","aggregator":"$agg"}"""
    def narrow(hours: Int, ds: String, nUsers: Int): String = {
      val s = hotSeries()
      val us = (perm.user(s) +: Seq.fill(nUsers - 1)(perm.user(hotSeries()))).distinct
      val end = now - rnd.nextInt(24) * Gen.Hour
      s"""{"start":${end - hours * Gen.Hour},"end":$end,""" +
        s""""filter":${and(metricLit(perm.metric(s)), users(us))}$ds}"""
    }
    def wide(days: Int, filter: String, body: String): String =
      s"""{"start":${now - days * Gen.Day},"end":$now,"filter":$filter$body}"""
    def panel(p: Int, j: Int): String = p match {
      case 0 => narrow(1, "", 1)
      case 1 => wide(7, metricLit(metric()), downsample("1h", "sum") +
        ""","groupBy":{"tagKeys":["host"],"aggregator":"sum"}""")
      case 2 => narrow(2, downsample("1m", "avg"), 1)
      case 3 => j % 4 match {
        case 0 => s"""{"type":"TAG_KEYS","filter":${metricLit(metric())}}"""
        case 1 => s"""{"type":"TAG_VALUES","aggregationField":"host","filter":${metricLit(metric())}}"""
        case 2 => """{"type":"METRICS"}"""
        case _ => s"""{"type":"TIMESERIES","filter":${users(Seq(perm.user(hotSeries())))},"size":50}"""
      }
      case 4 => narrow(3, downsample("5m", "sum"), 2)
      case 5 =>
        val s = hotSeries()
        wide(3, and(metricLit(perm.metric(s)), users(Seq(perm.user(s)))),
          ""","rate":{"interval":"1s"}""" + downsample("1h", "avg"))
      case 6 => narrow(4, downsample("15m", "max"), 1)
      case 7 => narrow(6, downsample("1m", "avg"), 1)
      case 8 => wide(1, metricLit(metric()), downsample("6h", "avg") +
        ""","groupBy":{"tagKeys":["user"],"aggregator":"sum"},"topN":{"n":5,"aggregator":"sum"}""")
      case _ => narrow(1, downsample("5m", "sum"), 2)
    }
    for (p <- Panels.indices; j <- 0 until PerPanel)
      yield Template(p * PerPanel + j, Panels(p), panel(p, j))
  }

  /** An endless seeded request stream: panels in refresh order, each
   *  drawing its template Zipf(s = 1) from its own pool. */
  def stream(seed: Long, pool: IndexedSeq[Template]): Iterator[Template] = {
    val rnd = new scala.util.Random(seed ^ 0x51a7eL)
    val weights = (1 to PerPanel).map(1.0 / _)
    def zipf(): Int = {
      var u = rnd.nextDouble() * weights.sum
      var r = 0
      while (r < PerPanel - 1 && u > weights(r)) { u -= weights(r); r += 1 }
      r
    }
    Iterator.from(0).map(i => pool((i % Panels.size) * PerPanel + zipf()))
  }
}

final class TsdbRead(seed: Long, work: String) extends Workload {
  val name = "tsdb_read"
  val opSpan = "read"
  val minOps = Templates.Panels.size
  val points: Long = 100000L
  val days = 7
  private val dir = s"$work/tsdb"
  private val lakeDir = s"$dir/lake"
  private val now = Gen.T0 + days * Gen.Day
  private val pool = Templates.pool(seed, now)
  private var spark: SparkSession = _
  private var tracer: Tracer = _

  /** Each distinct template's first lake result; repeats must match it,
   *  and it must match the raw events source. */
  private val firstResult = scala.collection.mutable.LinkedHashMap.empty[Int, Check.Result]

  /** The lake source, with a span around each call into the lake layer. */
  private lazy val lake: PointsSource = {
    val inner = Sources.resolve(s"lake:$lakeDir")
    new PointsSource {
      def name: String = inner.name
      def points(s: SparkSession): DataFrame = tracer.span("lake.points", "lake")(inner.points(s))
    }
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    Gen.events(s, seed, points, Gen.T0, days * Gen.Day)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    graft.lake.Lake.materialize(s, dir, lakeDir)
  }

  def inputDigest(): String = Gen.digest(spark.read.parquet(s"$dir/events.parquet"))

  private def read(t: Template): Check.Result = tracer.request("read") {
    val df = t.kind match {
      case "meta" =>
        val r = tracer.span("query.parse", "query")(TsdbJson.parseMetaQuery(t.json))
        val dim = tracer.span("query.series_dim", "query")(lake.seriesDim(spark))
        tracer.span("meta.run", "meta")(MetaQueries.run(dim, r))
      case _ =>
        val q = tracer.span("query.parse", "query")(TsdbJson.parseQuery(t.json))
        tracer.span("query.build", "query")(Graft.query(spark, lake, q))
    }
    val (result, _) = Workload.collect(tracer, df)
    tracer.note("kind_" + t.kind, 1)
    result
  }

  /** Lake reads in the warm-up: the first five panels, which hold every
   *  request kind. */
  private val WarmReads = 5

  /** Untimed, four requests at a time: the first measured refresh's
   *  references through the events source, which compile every panel
   *  shape, beside `WarmReads` lake reads from another seeded stream,
   *  which warm the lake's own path. A read that throws here fails again,
   *  and counts, when measured. */
  def warmup(): Unit = {
    tracer = new Tracer(spark.sparkContext, enabled = false)
    val first = Templates.stream(seed, pool).take(Templates.Panels.size).map(_.id).toSeq.distinct
    val warm = Templates.stream(seed ^ 0x3a3aL, pool).take(WarmReads).toSeq
    references(first, warm.map(t => () => { Try(read(t)); () }))
  }

  private lazy val cursor: Iterator[Template] = Templates.stream(seed, pool)

  /** The unit operation is one read. Reads are issued as whole
   *  refreshes, 10 panels in a fixed order, so every phase has the same
   *  60/30/10 mix and the median read sits inside the narrow-read cluster
   *  under every seed. A read that throws counts as failed and keeps its
   *  elapsed time. */
  def measure(seconds: Double, minOps: Int, tr: Tracer): Phase = {
    tracer = tr
    val lat = scala.collection.mutable.ArrayBuffer.empty[(Template, Double)]
    var failed = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || lat.size < minOps) {
      Templates.Panels.foreach { _ =>
        val t = cursor.next()
        val (res, ms) = Workload.timeMs(Try(read(t)))
        lat += t -> ms
        res match {
          case Failure(e) =>
            System.err.println(s"read ${t.id} failed: $e")
            failed += 1
          case Success(r) => firstResult.get(t.id) match {
            case None => firstResult(t.id) = r
            case Some(first) => Check.diff(r, first).foreach { d =>
              System.err.println(s"template ${t.id} repeat differs from its first result: $d")
              failed += 1
            }
          }
        }
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val distinct = lat.map(_._1.id).distinct.toSeq
    // a template that differs from the events source fails every read of it
    val (bad, checkMs) = Workload.timeMs(checkAgainstRaw(distinct))
    failed += bad.map(id => lat.count(_._1.id == id)).sum
    System.err.println(f"graftbench: ${lat.size} reads in $wallS%.1f s, checked in ${checkMs / 1000}%.1f s")
    val ms = lat.map(_._2).toSeq
    val repeatShare = 1.0 - distinct.size.toDouble / lat.size
    // a p90 needs 10 reads beyond it; shorter runs report the median only
    val p90 = if (ms.size >= Stats.MinBeyond * 10) Seq(Metric("read_p90_ms", Stats.tail(ms, 0.9).value, "ms"))
      else Nil
    val headline = (Metric("read_p50_ms", Stats.median(ms).value, "ms") +: p90) :+
      Metric("read_qps", lat.size / wallS, "reads/s")
    Phase(lat.size, failed, ms, lat.size / wallS, headline,
      Seq((if (p90.isEmpty) s"read_p90_ms not reported: ${ms.size} reads, 100 needed\n" else "") +
        f"reads=${lat.size} distinct_templates=${distinct.size} repeat_share=$repeatShare%.2f " +
        lat.groupBy(_._1.kind).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" ")))
  }

  /** Each template's result through the raw `events:` source. */
  private val reference = scala.collection.mutable.Map.empty[Int, Try[Check.Result]]

  /** Answer the templates that have no reference yet through the events
   *  source, its points cached for the duration. The requests run four at
   *  a time, beside any `alongside` work: each is a small query, so their
   *  fixed costs overlap. */
  private def references(ids: Seq[Int], alongside: Seq[() => Unit] = Nil): Unit = {
    val todo = ids.filterNot(reference.contains)
    if (todo.isEmpty && alongside.isEmpty) return
    val pts = Sources.resolve(s"events:$dir").points(spark).cache()
    val src = new PointsSource {
      def name: String = "events"
      def points(s: SparkSession): DataFrame = pts
    }
    def answer(id: Int): Check.Result = {
      val t = pool(id)
      val df = t.kind match {
        case "meta" => MetaQueries.run(TsdbViews.seriesDim(pts), TsdbJson.parseMetaQuery(t.json))
        case _ => Graft.query(spark, src, TsdbJson.parseQuery(t.json))
      }
      Check.Result(df.columns.toSeq, df.collect().toSeq)
    }
    val tasks = todo.map(id => Left(id)) ++ alongside.map(Right(_))
    try reference ++= Workload.parallel(tasks) {
      case Left(id) => Some(id -> Try(answer(id)))
      case Right(f) => f(); None
    }.flatten
    finally pts.unpersist()
  }

  private val checked = scala.collection.mutable.Set.empty[Int]

  /** Compare each newly seen template's lake result with its reference;
   *  returns the templates that differ. A template none of whose reads
   *  succeeded has no result to compare, and its reads already count as
   *  failed. */
  private def checkAgainstRaw(ids: Seq[Int]): Seq[Int] = {
    val todo = ids.filter(firstResult.contains).filterNot(checked)
    checked ++= todo
    references(todo)
    todo.filter { id =>
      val d = reference(id) match {
        case Success(want) => Check.diff(firstResult(id), want)
        case Failure(e) => Some(s"the events source failed: $e")
      }
      d.foreach(x => System.err.println(s"template $id (${pool(id).kind}) differs from the events source: $x"))
      d.isDefined
    }
  }

  def perLayer(v: TraceView): Map[String, Double] = {
    val reads = v.roots("read")
    val n = reads.size.max(1).toDouble
    val builds = v.named("query.build")
    val execs = v.named("spark.exec")
    def pruning(kind: String): Double = {
      val ex = reads.filter(_.notes.contains("kind_" + kind)).flatMap(v.subtree)
        .filter(_.name == "spark.exec")
      PerLayer.ratio(v.note(ex, "rows_read"), v.note(ex, "rows_returned"))
    }
    Map(
      "query.parse_ms" -> PerLayer.meanMs(v.named("query.parse")),
      "query.build_ms" -> PerLayer.meanMs(builds),
      "query.build_jobs" -> PerLayer.ratio(builds.map(b => v.jobsUnder(b).size).sum, builds.size),
      "plans.plan_ms" -> PerLayer.meanMs(v.named("plans.plan")),
      "plans.exchanges" -> v.note(execs, "exchanges") / n,
      "lake.files_read" -> v.note(execs, "files_read") / n,
      "lake.bytes_read" -> v.note(execs, "bytes_read") / n,
      "lake.rows_read" -> v.note(execs, "rows_read") / n,
      "lake.rows_read_per_row_returned.narrow" -> pruning("narrow"),
      "lake.rows_read_per_row_returned.wide" -> pruning("wide"),
      "meta.ms" -> PerLayer.meanMs(v.named("meta.run")))
  }
}
