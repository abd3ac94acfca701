package graft.sources

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** P3/P4: source and sink factory surfaces. */
class SourcesSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("source factories resolve by scheme and yield the same schema") {
    val spark = TestSpark.spark
    val ev = Sources.resolve(s"events:$sf")
    assert(ev.name === s"events:$sf")
    val pts = ev.points(spark)
    assert(pts.columns.toSet ===
      Set("metric", "tags", "ts", "value", "seq", "series_id", "segment_start"))
    assert(pts.count() > 0)
    assert(ev.seriesDim(spark).columns.contains("tag_count"))
    assertThrows[IllegalArgumentException](Sources.resolve("bogus:x"))
    // an empty location would read `/points` at the filesystem root
    for (uri <- Seq("lake:", "events:", "stream:")) {
      val e = intercept[IllegalArgumentException](Sources.resolve(uri))
      assert(e.getMessage.contains(uri))
    }
  }

  test("interchangeable sources answer the same query identically") {
    val spark = TestSpark.spark
    val lakeDir = java.nio.file.Files.createTempDirectory("graft_src").toString
    graft.lake.Lake.materialize(spark, sf, lakeDir)
    val a = Sources.resolve(s"events:$sf").points(spark)
    val b = Sources.resolve(s"lake:$lakeDir").points(spark)
    val q = (df: org.apache.spark.sql.DataFrame) =>
      graft.query.QueryEngine.downsample(df, graft.query.DownsampleSpec("1d", "sum"), 0, 4102444800L)
        // summation order differs between physical layouts: compare rounded
        .select(org.apache.spark.sql.functions.col("series_id"),
          org.apache.spark.sql.functions.col("bucket_ts"),
          org.apache.spark.sql.functions.round(org.apache.spark.sql.functions.col("value"), 6))
        .collect().toSet
    assert(q(a) === q(b))
  }

  test("sink factories resolve and the noop sink materializes") {
    val spark = TestSpark.spark
    val pts = Sources.resolve(s"events:$sf").points(spark).limit(10)
    graft.sinks.Sinks.resolve("noop").append(pts)
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    graft.sinks.Sinks.resolve(s"parquet:$dir/pts").append(pts)
    assert(spark.read.parquet(s"$dir/pts").count() === 10)
    assertThrows[IllegalArgumentException](graft.sinks.Sinks.resolve("nope:x"))
  }

  test("approx meta cardinalities track the exact ones") {
    val spark = TestSpark.spark
    val dim = graft.sources.TsdbViews.seriesDim(
      Sources.resolve(s"events:$sf").points(spark))
    val exact = graft.meta.MetaQueries.metrics(dim, graft.filters.MatchAll)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.meta.MetaQueries.metricsApprox(dim, graft.filters.MatchAll)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    for ((m, c) <- exact)
      assert(math.abs(approx(m) - c).toDouble / c < 0.1, s"$m: $c vs ${approx(m)}")
  }

  test("KMV cardinality sketch: exact below k, sane estimate above k, group-limit plan") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    // metric "big": 500 distinct series; metric "tiny": 3 — the sketch
    // must report tiny EXACTLY (< k) and big within KMV's expected
    // error (~1/sqrt(k-1) ≈ 18% at k=32; allow 3 sigma)
    val dim = ((1 to 500).map(i => ("big", s"u$i")) ++
        (1 to 3).map(i => ("tiny", s"u$i")))
      .toDF("metric", "u")
      .withColumn("tags", map(lit("user"), col("u")))
      .withColumn("series_id", lit(0L)) // unused by the sketch
    val ident = concat_ws("|", col("metric"), col("tags")("user"))
    val out = graft.meta.MetaQueries
      .cardinalitySketch(dim, graft.filters.MatchAll, ident, k = 32)
    val m = out.collect().map(r => r.getString(0) ->
      (r.getAs[Long]("sketch_n"), r.getAs[Double]("est_series"))).toMap
    assert(m("tiny") === ((3L, 3.0)))
    assert(m("big")._1 === 32L)
    assert(math.abs(m("big")._2 - 500.0) / 500.0 < 0.55, s"est ${m("big")._2}")
    // the scale claim: the rank filter must compile to WindowGroupLimit
    // (map-side bottom-k per metric BEFORE the exchange)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }
}
