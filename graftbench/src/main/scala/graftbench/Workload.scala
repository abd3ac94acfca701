package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A measured quantity as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one measured phase of a workload did. `opMs` holds the latency of
 *  each of the workload's unit operations (a read, a micro-batch, a
 *  pipeline pass); `headline` holds the workload's named end-to-end
 *  figures. A failed operation, including one whose output is wrong,
 *  stays in `attempted` and counts in `failed`. */
final case class Phase(
    attempted: Int,
    failed: Int,
    opMs: Seq[Double],
    workPerS: Double,
    headline: Seq[Metric],
    notes: Seq[String])

trait Workload {
  def name: String

  /** The root span of one operation: per-layer figures are per one. */
  def opSpan: String

  /** The fewest operations an untraced run measures, however short
   *  `--seconds` is, so that its median has enough samples. */
  def minOps: Int

  /** One complete set-up from nothing on a fresh session: generate the
   *  inputs and materialise them where graft reads them. */
  def setup(spark: SparkSession): Unit

  /** Digest of the generated inputs, echoed with the seed. */
  def inputDigest(): String

  /** Untimed operations that let caches fill and classes load. */
  def warmup(): Unit

  /** Run operations, continuing the workload's seeded sequence, until
   *  `seconds` have passed and at least `minOps` operations ran. A
   *  workload runs whole cycles of its request mix, so every phase sees
   *  the same mix. */
  def measure(seconds: Double, minOps: Int, tracer: Tracer): Phase

  /** Per-layer figures of a traced phase. */
  def perLayer(view: TraceView): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("tsdb_read", "ingest_routed", "corpus_pipeline")

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "tsdb_read" => new TsdbRead(seed, work)
    case "ingest_routed" => new IngestRouted(seed, work)
    case "corpus_pipeline" => new CorpusPipeline(seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${Names.mkString(", ")})")
  }

  /** Plan and collect a query under the `plans` and `spark` spans. A
   *  traced run notes on the spark span what the final plan scanned and
   *  exchanged, and returns that plan's figures. */
  def collect(tracer: Tracer, df: DataFrame): (Check.Result, Option[PlanStats]) = {
    tracer.span("plans.plan", "plans")(df.queryExecution.executedPlan)
    tracer.span("spark.exec", "spark") {
      val rows = df.collect()
      val plan = if (tracer.enabled) Some(PlanStats.of(df.queryExecution.executedPlan)) else None
      plan.foreach { p =>
        tracer.note("exchanges", p.exchanges)
        tracer.note("files_read", p.files)
        tracer.note("bytes_read", p.bytes)
        tracer.note("rows_read", p.rows)
        tracer.note("rows_returned", rows.length)
      }
      (Check.Result(df.columns.toSeq, rows.toSeq), plan)
    }
  }

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** `f` over `xs`, four at a time, results in order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val exec = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(exec)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally exec.shutdown()
  }

  private def files(dir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val s = java.nio.file.Files.walk(root)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => java.nio.file.Files.isRegularFile(p))
      finally s.close()
    }
  }

  /** Bytes on disk under a directory. */
  def diskBytes(dir: String): Long = files(dir).map(p => java.nio.file.Files.size(p)).sum

  /** Data files (not checksums or markers) under a directory. */
  def dataFiles(dir: String): Set[String] =
    files(dir).map(_.toString).filter(_.endsWith(".parquet")).toSet
}

/** The spans and attributed jobs of one traced phase. */
final class TraceView(val spans: Seq[Span], val jobsBySpan: Map[Int, Seq[JobCollector.Job]]) {
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)
  def named(n: String): Seq[Span] = spans.filter(_.name == n)
  def roots(n: String): Seq[Span] = spans.filter(s => s.parent == 0 && s.name == n)
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  def jobs(s: Span): Seq[JobCollector.Job] = jobsBySpan.getOrElse(s.id, Nil)
  def jobsUnder(s: Span): Seq[JobCollector.Job] = subtree(s).flatMap(jobs)
  def allJobs: Seq[JobCollector.Job] = spans.flatMap(jobs)
  def selfNs(s: Span): Long = s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum
  def msOf(ss: Seq[Span]): Double = ss.map(_.durNs).sum / 1e6
  def note(ss: Seq[Span], key: String): Double = ss.map(_.notes.getOrElse(key, 0.0)).sum
  def selfMsByLayer: Map[String, Double] =
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfNs).sum / 1e6 }
}

/** The per-layer metric catalog: every traced run reports each of these,
 *  with 0 where the workload does not exercise the layer. */
object PerLayer {
  val Layers: Seq[String] =
    Seq("client", "query", "plans", "lake", "meta", "spark", "streaming", "rollup", "pipeline")
  val PipelineStages: Seq[String] = Seq("exact", "near_dup", "clusters", "text", "ann")

  val catalog: Seq[(String, String, String)] =
    Layers.map(l => (s"self_ms.$l", "ms", "lower")) ++ Seq(
      ("trace.overhead_ms", "ms", "lower"),
      ("trace.overhead_share", "ratio", "lower"),
      ("trace.spans_per_op", "count", "lower"),
      ("peak_rss_mb", "MB", "lower"),
      ("query.parse_ms", "ms", "lower"),
      ("query.build_ms", "ms", "lower"),
      ("query.build_jobs", "count", "lower"),
      ("plans.plan_ms", "ms", "lower"),
      ("plans.exchanges", "count", "lower"),
      ("plans.rung_served_share", "ratio", "higher"),
      ("spark.exec_ms", "ms", "lower"),
      ("spark.jobs", "count", "lower"),
      ("spark.stages", "count", "lower"),
      ("spark.tasks", "count", "lower"),
      ("spark.task_s", "s", "lower"),
      ("spark.cores_used", "cores", "higher"),
      ("spark.shuffle_read_bytes", "bytes", "lower"),
      ("spark.shuffle_write_bytes", "bytes", "lower"),
      ("spark.spill_bytes", "bytes", "lower"),
      ("spark.gc_ms", "ms", "lower"),
      ("lake.files_read", "count", "lower"),
      ("lake.bytes_read", "bytes", "lower"),
      ("lake.rows_read", "count", "lower"),
      ("lake.rows_read_per_row_returned.narrow", "ratio", "lower"),
      ("lake.rows_read_per_row_returned.wide", "ratio", "lower"),
      ("meta.ms", "ms", "lower"),
      ("streaming.batch_jobs", "count", "lower"),
      ("streaming.batch_task_s", "s", "lower"),
      ("streaming.admitted_ratio", "ratio", "higher"),
      ("streaming.bytes_written", "bytes", "lower"),
      ("streaming.files_written", "count", "lower"),
      ("streaming.maint_ms", "ms", "lower"),
      ("streaming.maint_bytes_rewritten", "bytes", "lower"),
      ("streaming.maint_files_removed", "count", "higher"),
      ("rollup.frontier_lag_s.1h", "s", "lower"),
      ("rollup.frontier_lag_s.1d", "s", "lower")) ++
      PipelineStages.flatMap(st => Seq(
        (s"pipeline.${st}_ms", "ms", "lower"),
        (s"pipeline.${st}_jobs", "count", "lower"),
        (s"pipeline.${st}_shuffle_bytes", "bytes", "lower"))) ++ Seq(
      ("pipeline.verified_per_candidate", "ratio", "higher"),
      ("pipeline.near_dup_recall", "ratio", "higher"),
      ("pipeline.ann_twin_recall", "ratio", "higher"))

  /** Figures every workload shares: per-layer self time and the Spark
   *  totals, each divided by the number of `opSpan` operations. Cores
   *  used is task time over the wall time of all traced requests. */
  def common(view: TraceView, opSpan: String): Map[String, Double] = {
    val n = view.roots(opSpan).size.max(1).toDouble
    val jobs = view.allJobs
    val self = view.selfMsByLayer
    val taskS = jobs.map(_.taskMs).sum / 1000.0
    val wallMs = view.msOf(view.spans.filter(_.parent == 0))
    Layers.map(l => s"self_ms.$l" -> self.getOrElse(l, 0.0) / n).toMap ++ Map(
      "trace.spans_per_op" -> view.spans.size / n,
      "spark.exec_ms" -> view.msOf(view.named("spark.exec")) / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> jobs.map(_.stages).sum / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.task_s" -> taskS / n,
      "spark.cores_used" -> (if (wallMs > 0) taskS / (wallMs / 1000.0) else 0.0),
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / n,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> jobs.map(_.spill).sum / n,
      "spark.gc_ms" -> jobs.map(_.gcMs).sum / n)
  }

  def meanMs(ss: Seq[Span]): Double =
    if (ss.isEmpty) 0.0 else ss.map(_.durNs).sum / 1e6 / ss.size

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}
