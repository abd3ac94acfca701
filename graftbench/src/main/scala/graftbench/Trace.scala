package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import scala.collection.mutable

/** One traced interval: a call from the benchmark into one layer. */
final class Span(val id: Int, val parent: Int, val request: Int, val name: String,
    val layer: String, val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val notes: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = endNs - startNs
  def groupId: String = s"graftbench-span-$id"
}

/**
 * Records spans around the benchmark's calls into graft's layers. Each
 * span sets a Spark job group before the call, so the [[JobCollector]]
 * can attribute the jobs the call starts. A disabled tracer runs the
 * calls bare: no spans, no job groups, no notes.
 *
 * Spans are kept in memory and written when the run ends. One client
 * thread issues every call, so spans nest strictly.
 */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var requests = 0

  /** A root span: one user-facing operation, with a fresh request id. */
  def request[T](name: String)(f: => T): T =
    if (!enabled) f else { requests += 1; span(name, "client")(f) }

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption
      val s = new Span(spans.size + 1, parent.map(_.id).getOrElse(0), requests, name, layer,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.groupId, name)
      try f
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        parent match {
          case Some(p) => sc.setJobGroup(p.groupId, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a count to the innermost open span (traced runs only). */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.notes(key) = s.notes.getOrElse(key, 0.0) + value)

  def writeJsonl(path: java.nio.file.Path, jobs: Map[Int, Seq[JobCollector.Job]]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val mapper = new ObjectMapper()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val js = jobs.getOrElse(s.id, Nil)
      val o = mapper.createObjectNode()
        .put("span", s.id).put("parent", s.parent).put("request", s.request)
        .put("name", s.name).put("layer", s.layer)
        .put("start_ms", s.startMs).put("end_ms", s.endMs).put("dur_ns", s.durNs)
      js.foreach(j => o.withArray("jobs").add(j.id))
      o.put("tasks", js.map(_.tasks).sum)
      val notes = o.putObject("notes")
      s.notes.foreach { case (k, v) => notes.put(k, Main.finite(k, v)) }
      w.write(mapper.writeValueAsString(o))
      w.newLine()
    } finally w.close()
  }
}

object JobCollector {
  final class Job(val id: Int, val group: String, val submitMs: Long) {
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L
    var ended = false
  }
}

/** The benchmark's Spark listener: per job, its job group, submission
 *  time, completed stages and summed task metrics (task time, GC,
 *  shuffle, spill, output). Scan input is read from the final plans. */
final class JobCollector extends SparkListener {
  import JobCollector.Job
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs(e.jobId) = new Job(e.jobId, group.orNull, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.ended = true)
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until every started job has ended and the listener bus has
   *  been quiet for a moment, so the totals are complete. */
  def awaitQuiet(maxMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def done = synchronized(jobs.values.forall(_.ended)) &&
      System.nanoTime() - lastEventNs > 300L * 1000000L
    while (!done && System.nanoTime() < deadline) Thread.sleep(50)
  }

  def all: Seq[Job] = synchronized(jobs.values.toSeq)

  /** Attribute each job to a span: by its job group when that names a
   *  span open at submission, else to the innermost span open when it
   *  was submitted. The fallback covers jobs from pool threads that
   *  inherited a stale job group (graft's ingest flush pool). */
  def attribute(spans: Seq[Span]): Map[Int, Seq[Job]] = {
    val byGroup = spans.map(s => s.groupId -> s).toMap
    val ordered = spans.sortBy(_.startMs)
    def innermostAt(t: Long): Option[Span] =
      ordered.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => (s.startNs, s.id)).lastOption
    all.flatMap { j =>
      val byG = Option(j.group).flatMap(byGroup.get)
        .filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
      byG.orElse(innermostAt(j.submitMs)).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }
}

/** What a finished query's physical plan says about the work it did. */
final case class PlanStats(files: Long, bytes: Long, rows: Long, exchanges: Int,
    scannedPaths: Seq[String])

object PlanStats {
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec => q +: flatten(q.plan)
    case r: ReusedExchangeExec => r +: flatten(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(flatten)
  }

  def of(plan: SparkPlan): PlanStats = {
    val nodes = flatten(plan)
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    PlanStats(
      files = scans.map(metric(_, "numFiles")).sum,
      bytes = scans.map(metric(_, "filesSize")).sum,
      rows = scans.map(metric(_, "numOutputRows")).sum,
      exchanges = nodes.count(_.isInstanceOf[Exchange]),
      scannedPaths = scans.flatMap(_.relation.location.rootPaths.map(_.toString)))
  }
}
