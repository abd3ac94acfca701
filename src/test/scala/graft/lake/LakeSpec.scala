package graft.lake

import graft.{ScanStats, TestSpark}
import graft.filters._
import graft.sources.TsdbViews
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.{Column, DataFrame, Row}
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

  private val seg = graft.core.TsdbSchema.SegmentSeconds

  /** Files opened by a read of `dir`'s lake through `filter`, with the
   *  check that the partition filter reached the one scan. */
  private def filesRead(dir: String, filter: Column): Long = {
    val scans = ScanStats(Lake.points(TestSpark.spark, dir).filter(filter))
    assert(scans.size === 1)
    assert(scans.head.partitionFilters.nonEmpty, s"no partition filter for $filter")
    scans.head.numFiles
  }

  test("time predicates prune segment partitions at the scan") {
    val pts = s"$lakeDir/points"
    val lo = 1704067200L + 10 * seg
    // an explicit segment_start range, as the oracle queries spell it
    val bySeg = col("segment_start") >= lo && col("segment_start") < lo + 2 * seg
    assert(filesRead(lakeDir, bySeg) === ScanStats.segmentFiles(pts, lo, lo + 2 * seg))
    val segs = Lake.points(TestSpark.spark, lakeDir).filter(bySeg)
      .select(col("segment_start").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(segs.nonEmpty && segs.forall(s => s >= lo && s < lo + 2 * seg))
    // a ts-only range, unaligned at both ends: the derived filter prunes
    // to the three segments it touches
    val (a, b) = (lo + 600, lo + 2 * seg + 600)
    val spanned = ScanStats.segmentFiles(pts, a, b)
    assert(spanned > 0 && spanned < ScanStats.segmentFiles(pts))
    assert(filesRead(lakeDir, col("ts") >= a && col("ts") < b) === spanned)
  }

  test("a narrow ts read opens only the spanned segments' files, however large the lake") {
    val spark = TestSpark.spark
    val gen = Files.createTempDirectory("graft_lake_gen").toString
    graft.ScaleGen.genEventsDistributed(spark, 4000, 200, gen)
    val big = Files.createTempDirectory("graft_lake_big").toString
    Lake.materialize(spark, gen, big)
    // one unaligned hour across the boundary of segments 20 and 21, both
    // populated in each lake
    val lo = 1704067200L + 21 * seg - 1800
    val hi = lo + 3600
    val lakes = Seq(lakeDir, big).map { dir =>
      val pts = s"$dir/points"
      val spanned = ScanStats.segmentFiles(pts, lo, hi)
      val all = ScanStats.segmentFiles(pts)
      assert(filesRead(dir, col("ts") >= lo && col("ts") < hi) === spanned)
      assert(spanned > 0 && spanned < all, s"$dir: $spanned of $all files")
      all
    }
    assert(lakes(1) > lakes(0), s"the generated lake is the larger one: $lakes")
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
