package graft.queries

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SQLContext, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/**
 * Shared SQL fragments for the DuckDB oracle side of the correctness gate.
 *
 * The oracle re-states each operator's semantics in independent ANSI-ish
 * SQL over the same parquet tables. Conventions that make the two engines
 * hash-identical:
 *  - all timestamps become epoch-second BIGINTs (exact integer bucket math,
 *    mirroring the reference's epoch-second ints);
 *  - every floating-point aggregate is `round(x, 4)` on both sides to
 *    absorb summation-order noise (rates/deltas are deterministic FP and
 *    get `round(x, 6)`);
 *  - row identity columns (series tags) are plain string columns, never
 *    maps/structs.
 *
 * It also holds what the Spark side's one-time harness builds share: the
 * [[Build]] registry, the replay gate, the file-stream source setup and
 * the one MemoryStream replay.
 */
object OracleCommon {

  /** Concurrency gate for the DRIVER-HEAVY builds (the streamed replays
   *  collect a full table to the driver and hold it for the replay's
   *  lifetime): at most 2 run at once inside [[graft.Bench]]'s 4-way
   *  build pool, so peak driver memory stays ~2 table copies, while the
   *  driver-light lake ingests keep the remaining pool slots busy. */
  private[queries] val ReplayGate = new java.util.concurrent.Semaphore(2)

  private val registry = new java.util.concurrent.ConcurrentLinkedQueue[Build[_]]

  private[queries] def register(b: Build[_]): Unit = registry.add(b): Unit

  /** Every declared harness [[Build]], in declaration order. A catalog
   *  object registers its builds when it initializes, so touch
   *  [[graft.SparkEntry.queries]] first. */
  def builds: Seq[Build[_]] = registry.asScala.toSeq

  /** Expose `d/<table>` to a file stream as `base/src`, returned. The
   *  file-stream source lists only top-level files: a single-file table
   *  symlinks whole; a directory table (Spark-written corpora, e.g.
   *  [[graft.ScaleGen]]'s) symlinks its part files one by one. */
  private[queries] def streamSource(base: Path, d: String, table: String): String = {
    val srcDir = Files.createDirectory(base.resolve("src"))
    val tgt = Paths.get(s"$d/$table")
    val files = if (!Files.isDirectory(tgt)) Seq(tgt) else {
      // close the DirectoryStream: each leaked stream pins a file
      // descriptor for the life of the suite/probe JVM
      val st = Files.list(tgt)
      try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
      finally st.close()
    }
    files.foreach(f => Files.createSymbolicLink(srcDir.resolve(f.getFileName), f))
    srcDir.toString
  }

  /** Most rows a streamed replay brings to the driver: twice the largest
   *  documented input (`e1000000`). */
  val ReplayRowBound = 2000000

  /** `rows` on the driver, or an [[IllegalStateException]] naming the
   *  build, the input dir and the bound when there are more than `bound`
   *  — never more than `bound + 1` rows are fetched. */
  private[queries] def collectAtMost[T](rows: Dataset[T], bound: Int,
      build: String, d: String): Seq[T] = {
    val got = rows.limit(bound + 1).collect()
    if (got.length > bound) throw new IllegalStateException(
      s"build $build: input $d has more than $bound rows to replay on the driver")
    got.toSeq
  }

  /** The one MemoryStream replay behind every streamed twin: `rows`
   *  arrive as one data batch and flow through `node`, then two sentinel
   *  batches at `maxTs + gapSec` and `maxTs + 2·gapSec` push the
   *  one-batch-lagged watermark past every real window so everything
   *  finalizes. The memory sink is read back without the sentinel key:
   *  `sentinel` builds a row keyed on Long.MinValue, which `keyCol`
   *  carries in the output — unambiguous against any real series or
   *  entity id. `gapSec` must exceed the node's watermark-relevant span
   *  (window length + delay).
   *
   *  This feeds the TRUE stateful streaming operators — a real
   *  deployment reads Kafka, not a collect; the collect exists so the
   *  gate can replay the exact driver table through the stream. */
  private[queries] def replay[T: Encoder](build: String, s: SparkSession, d: String,
      rows: Dataset[T], ts: T => Long, sentinel: Long => T, gapSec: Long,
      keyCol: String)(node: DataFrame => Dataset[_]): DataFrame = {
    implicit val ctx: SQLContext = s.sqlContext
    val data = collectAtMost(rows, ReplayRowBound, build, d)
    val maxTs = data.iterator.map(ts).max
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val sink = build + "_" + java.lang.Long.toHexString(
      graft.functions.Md5Prefix28.hash(UTF8String.fromString(d)))
    val q = node(input.toDF())
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      input.addData(data); q.processAllAvailable()
      input.addData(sentinel(maxTs + gapSec)); q.processAllAvailable()
      input.addData(sentinel(maxTs + 2 * gapSec)); q.processAllAvailable()
    } finally q.stop()
    s.table(sink).filter(col(keyCol) =!= Long.MinValue)
  }

  /** Query window used by the TSDB queries: [2024-01-05, 2024-01-25) UTC. */
  val Start: Long = 1704412800L
  val End: Long = 1706140800L
  /** Full data range [2024-01-01, 2024-02-01) — used by shift queries. */
  val DataStart: Long = 1704067200L

  /** Extended end for the timezone fill queries: 2024-03-15 00:00 UTC —
   *  past the 2024-03-10 US spring-forward, so the zone-aware fill grid
   *  must walk a DST transition (data itself stops Feb 1). */
  val TzFillEnd: Long = 1710460800L

  /** events → points mapping + last-write-wins dedupe, as DuckDB CTEs.
   *  Must stay in lock-step with [[graft.sources.TsdbViews.points]]. */
  val pointsCtes: String =
    """points AS (
      |  SELECT event_type AS metric,
      |         CAST(user_id AS VARCHAR) AS tag_user,
      |         'web' || lpad(CAST(user_id % 3 AS VARCHAR), 2, '0') AS tag_host,
      |         CASE WHEN user_id % 2 = 0 THEN 'den' ELSE 'sjc' END AS tag_colo,
      |         CASE WHEN user_id % 5 = 0 THEN 'prod' ELSE NULL END AS tag_env,
      |         CAST(floor(epoch(ts)) AS BIGINT) AS ts,
      |         CASE WHEN isnan(value) THEN NULL ELSE value END AS value,
      |         event_id AS seq
      |  FROM events),
      |dedup AS (
      |  SELECT * FROM points
      |  QUALIFY row_number() OVER (PARTITION BY metric, tag_user, ts ORDER BY seq DESC) = 1)
      |""".stripMargin

  def inRange(tsCol: String = "ts"): String =
    s"$tsCol >= $Start AND $tsCol < $End"

  /** DuckDB rounding with Spark semantics. Spark's `round(double, n)` is
   *  HALF_UP on the double's **shortest decimal representation**
   *  (BigDecimal.valueOf ⇒ Double.toString); DuckDB's double `round`
   *  differs on exact-half boundaries. Routing through VARCHAR (shortest
   *  round-trip repr) then DECIMAL reproduces Spark bit-for-bit
   *  (verified incl. negatives and exponent-notation strings). */
  def rnd(e: String, scale: Int = 4): String =
    // |x| ≥ 1e15 doubles carry no sub-integer precision, so round(x, n>=0)
    // is the identity in both engines — branch there to keep the DECIMAL
    // intermediate (20 integer digits max) from overflowing at large SF.
    s"CASE WHEN abs($e) >= 1e15 THEN CAST(($e) AS DOUBLE) ELSE " +
      s"CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,18)), $scale) AS DOUBLE) END"
}
