package graft.lake

import graft.TestSpark
import graft.filters._
import graft.sources.TsdbViews
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Partitioned-lake pruning + semi-join scan path plan assertions —
 *  the 100 TB behaviors: partition filters must reach the scan, the
 *  series_dim side must broadcast. */
class LakeSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private lazy val lakeDir = freshLake()

  private def freshLake(): String = {
    val d = Files.createTempDirectory("graft_lake").toString
    Lake.materialize(TestSpark.spark, sf, d)
    d
  }

  private def rows(df: DataFrame): Set[Row] =
    df.select("series_id", "ts", "seq").collect().toSet

  /** `body`'s result and the Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new graft.GroupJobs(TestSpark.spark.sparkContext)
    jobs { val r = body; (r, jobs.started()) }
  }

  test("time predicates prune segment partitions at the scan") {
    val pts = Lake.points(TestSpark.spark, lakeDir)
    val seg = graft.core.TsdbSchema.SegmentSeconds
    val lo = 1704067200L + 10 * seg
    val filtered = pts.filter(col("segment_start") >= lo && col("segment_start") < lo + 2 * seg)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("segment_start"),
      s"partition filter must reach the parquet scan:\n$plan")
    // and the pruned read returns exactly the two windows
    val segs = filtered.select(col("segment_start").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(segs.forall(s => s >= lo && s < lo + 2 * seg))
  }

  test("semi-join scan path broadcasts the matched series set (J1)") {
    val spark = TestSpark.spark
    val pts = Lake.points(spark, lakeDir)
    val dim = TsdbViews.seriesDim(pts)
    val f = Chain.and(MetricLiteral(Seq("click")), TagLiteral("colo", Seq("sjc")))
    val scanned = Lake.semiJoinScan(pts, dim, f)
    val plan = scanned.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast left-semi join:\n$plan")
    // equivalence with the direct predicate scan
    val direct = pts.filter(SeriesFilter.compile(f, col("metric"), col("tags")))
    assert(scanned.count() === direct.count())
    assert(scanned.count() > 0)
  }

  test("materialized lake round-trips the batch view") {
    val spark = TestSpark.spark
    assert(rows(Lake.points(spark, lakeDir)) === rows(TsdbViews.points(spark, sf)))
  }

  test("a second read of an unchanged lake reuses the snapshot and starts no Spark job") {
    val spark = TestSpark.spark
    val dir = freshLake()
    val (first, listed) = jobsDuring(Lake.points(spark, dir))
    assert(listed > 0, "the first read lists and infers the schema")
    val (second, jobs) = jobsDuring(Lake.points(spark, dir))
    assert(jobs === 0)
    assert(second eq first)
    assert(rows(second) === rows(TsdbViews.points(spark, sf)))
  }

  test("a lake materialized again with different data is read afresh") {
    val spark = TestSpark.spark
    val alt = Files.createTempDirectory("graft_lake_src").toString
    spark.read.parquet(s"$sf/events.parquet").filter(col("user_id") % 2 === 0)
      .write.parquet(s"$alt/events.parquet")
    val dir = freshLake()
    val before = rows(Lake.points(spark, dir))
    assert(before === rows(TsdbViews.points(spark, sf)))
    Lake.materialize(spark, alt, dir)
    val expected = rows(TsdbViews.points(spark, alt))
    assert(expected.nonEmpty && expected.size < before.size)
    assert(rows(Lake.points(spark, dir)) === expected)
  }

  test("a lake without the commit marker is listed on every read") {
    val spark = TestSpark.spark
    val dir = freshLake()
    Files.delete(Paths.get(dir, "points", "_SUCCESS"))
    val expected = rows(TsdbViews.points(spark, sf))
    for (_ <- 1 to 2) {
      val (pts, jobs) = jobsDuring(Lake.points(spark, dir))
      assert(jobs > 0)
      assert(rows(pts) === expected)
    }
  }

  test("concurrent first reads of a fresh lake list once and agree") {
    val spark = TestSpark.spark
    val dir = freshLake()
    val start = new CountDownLatch(1)
    val reads = (1 to 4).map(_ => Future { start.await(); Lake.points(spark, dir) })
    start.countDown()
    val dfs = reads.map(Await.result(_, 2.minutes))
    assert(dfs.forall(_ eq dfs.head), "every thread gets the one snapshot")
    val counts = dfs.map(_.count())
    assert(counts.distinct === Seq(TsdbViews.points(spark, sf).count()))
  }
}
