package graft

import graft.core.{GraftSession, SeriesId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One shared local session for all suites (forked test JVM). */
object TestSpark {
  lazy val spark = {
    val s = GraftSession.builder("4").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Fixture builders mirroring the reference's TestUtil.buildEvent
 *  (core/src/test/java/net/opentsdb/aura/metrics/TestUtil.java:30-60). */
object Fixtures {

  /** (metric, tags, ts, value, seq) rows → a points DataFrame, through
   *  the typed ingest-parse shape ([[graft.core.DataPoint]]). */
  def points(rows: (String, Map[String, String], Long, Double, Long)*): DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toSeq.map(r => graft.core.DataPoint(r._1, r._2, r._3, r._4, r._5)).toDS().toDF()
      .withColumn("series_id", SeriesId.seriesId(col("metric"), col("tags")))
      .withColumn("segment_start", SeriesId.segmentStart(col("ts")))
  }

  /** Single-series shorthand: (ts, value) pairs, seq = index. */
  def series(metric: String, tags: Map[String, String], pts: (Long, Double)*): DataFrame =
    points(pts.zipWithIndex.map { case ((t, v), i) =>
      (metric, tags, t, v, i.toLong)
    }: _*)
}

/** Counts the Spark jobs started under a job group of its own. Listener
 *  events arrive asynchronously, so [[started]] first runs a marker job
 *  under a second group and waits for its start: a listener sees events
 *  in post order, so by then every job the group started before the call
 *  has been counted. */
final class GroupJobs(sc: org.apache.spark.SparkContext) {
  private val group = s"graft-spec-${java.util.UUID.randomUUID}"
  private val marker = s"$group-marker"
  private val jobs = new java.util.concurrent.atomic.AtomicInteger
  private val markers = new java.util.concurrent.Semaphore(0)
  private val listener = new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
        case `group` => jobs.incrementAndGet(): Unit
        case `marker` => markers.release()
        case _ =>
      }
  }

  /** `body` on the calling thread, its jobs counted. */
  def apply[T](body: => T): T = {
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try body
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** Jobs started so far under the group; call from inside [[apply]]'s
   *  body, on its thread. */
  def started(): Int = {
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobGroup(group, "counted")
    assert(markers.tryAcquire(20, java.util.concurrent.TimeUnit.SECONDS),
      "listener bus did not drain")
    jobs.get
  }
}

/** What each file scan of a frame read: runs the frame's own query
 *  execution, then walks its final adaptive plan, query stages included. */
object ScanStats {

  /** One `FileSourceScanExec`: its partition filters and the files it
   *  opened after partition pruning (the scan's `numFiles` metric). */
  final case class Scan(partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      numFiles: Long)

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Parquet files under a segment-partitioned `dir` in the segments a
   *  `ts` window `[lo, hi)` overlaps; the default window is every segment. */
  def segmentFiles(dir: String, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val segs = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    try segs.iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("segment_start="))
      .filter { p =>
        val seg = p.getFileName.toString.stripPrefix("segment_start=").toLong
        seg < hi && seg + graft.core.TsdbSchema.SegmentSeconds > lo
      }
      .map { p =>
        val files = java.nio.file.Files.list(p)
        try files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally files.close()
      }.sum.toLong
    finally segs.close()
  }

  def apply(df: DataFrame): Seq[Scan] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("scan-stats")) {
      qe.toRdd.foreach(_ => ())
    }
    Plans.collect(qe.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Scan(s.partitionFilters, s.metrics("numFiles").value)
    }
  }
}
