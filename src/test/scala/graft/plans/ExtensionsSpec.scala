package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom Catalyst surface: segment-pruning rule + native hash. */
class ExtensionsSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private lazy val lakeDir = {
    val d = java.nio.file.Files.createTempDirectory("graft_ext").toString
    graft.lake.Lake.materialize(TestSpark.spark, sf, d)
    d
  }

  private val seg = graft.core.TsdbSchema.SegmentSeconds
  private val lo = 1704067200L + 3 * seg + 100 // deliberately unaligned
  private val hi = lo + 5 * seg

  /** The ts-only filter over `pts`: one scan, pruned to exactly the
   *  files of the six segments the window spans, with rows unchanged. */
  private def assertPrunes(pts: org.apache.spark.sql.DataFrame): Unit = {
    val spark = TestSpark.spark
    // filter mentions ONLY ts — the rule must derive the partition bound
    val filtered = pts.filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
    val scans = graft.ScanStats(filtered)
    assert(scans.size === 1)
    assert(scans.head.partitionFilters.nonEmpty, "no derived partition filter reached the scan")
    val spanned = graft.ScanStats.segmentFiles(s"$lakeDir/points", lo, hi)
    assert(spanned > 0 && spanned < graft.ScanStats.segmentFiles(s"$lakeDir/points"))
    assert(scans.head.numFiles === spanned)

    // and semantics are unchanged vs the raw view
    val direct = graft.sources.TsdbViews.points(spark, sf)
      .filter(col("ts") >= lit(lo) && col("ts") < lit(hi))
    assert(filtered.count() === direct.count())
    assert(filtered.count() > 0)
  }

  test("ts-only range predicates derive segment_start partition filters") {
    assertPrunes(graft.lake.Lake.points(TestSpark.spark, lakeDir))
  }

  test("a lake read without a schema (inferred int segment_start) still prunes") {
    val raw = TestSpark.spark.read.parquet(s"$lakeDir/points")
    // partition inference types epoch seconds below 2^31 as int
    assert(raw.schema("segment_start").dataType === org.apache.spark.sql.types.IntegerType)
    assertPrunes(raw)
  }

  test("open-ended upper bound at Long.MaxValue does not wrap to an empty result") {
    val spark = TestSpark.spark
    val pts = graft.sources.TsdbViews.points(spark, sf)
    // ts <= Long.MaxValue: the v+1 rewrite would overflow to Long.MinValue
    // and derive segment_start < Long.MinValue (false for every row)
    val open = pts.filter(col("ts") >= lit(1704067200L) && col("ts") <= lit(Long.MaxValue))
    assert(open.count() === pts.filter(col("ts") >= lit(1704067200L)).count())
    assert(open.count() > 0)
    val gt = pts.filter(col("ts") > lit(Long.MaxValue))
    assert(gt.count() === 0) // and the GreaterThan guard derives nothing bogus
  }

  test("rule is idempotent and leaves non-ts filters alone") {
    val spark = TestSpark.spark
    val pts = graft.sources.TsdbViews.points(spark, sf)
    // metric-only predicate: no ts conjunct, plan must still be valid
    assert(pts.filter(col("metric") === "click").count() > 0)
    // double application through repeated optimization must not stack
    val df = pts.filter(col("ts") >= 1704067200L && col("ts") < 1704070000L)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert("segment_start#\\d+L >=".r.findAllIn(optimized).size <= 1,
      s"derived predicate duplicated:\n$optimized")
  }

  test("SQL-facade latest compiles to a pre-shuffle WindowGroupLimit top-1") {
    val spark = TestSpark.spark
    // the rn = 1 filter over the LWW window must trigger Catalyst's
    // InferWindowGroupLimit: at most ONE row per series per map
    // partition crosses the exchange (the q_sql_latest scale claim)
    val plan = graft.SparkEntry.queries("q_sql_latest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"pre-shuffle top-1 missing from q_sql_latest:\n$plan")
  }

  test("md5prefix28 equals the portable conv(substring(md5)) form") {
    val spark = TestSpark.spark
    import spark.implicits._
    val samples = Seq("", "a", "abc", "the quick brown fox", "käse", "日本語",
      "x" * 500) ++ (0 until 100).map(i => s"token_$i payload")
    val df = samples.toDF("s").select(
      call_function("md5prefix28", col("s")).as("native"),
      conv(substring(md5(col("s")), 1, 7), 16, 10).cast("long").as("portable"))
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(0) == r.getLong(1)),
      rows.filter(r => r.getLong(0) != r.getLong(1)).take(3).mkString(","))
    // 28-bit range
    assert(rows.forall(r => r.getLong(0) >= 0 && r.getLong(0) < (1L << 28)))
  }

  test("dotp equals the higher-order fold and DuckDB's sequential order") {
    val spark = TestSpark.spark
    import spark.implicits._
    val vecs = Seq(
      (Seq(0.1, 0.2, 0.3), Seq(0.4, 0.5, 0.6)),
      (Seq(1e10, -1e10, 1.0), Seq(1.0, 1.0, 1.0)), // order-sensitive case
      (Seq.empty[Double], Seq.empty[Double]))
    val df = vecs.toDF("a", "b").select(
      call_function("dotp", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), _ * _), lit(0.0), _ + _).as("fold"))
    val rows = df.collect()
    assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)),
      "native dot must be bit-identical to the sequential fold")
  }
}
