package graft.queries

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
 */
object OracleCommon {

  /** Concurrency gate for the DRIVER-HEAVY warm builds (the streamed
   *  replays collect a full table to the driver and hold it for the
   *  replay's lifetime): at most 2 run at once inside [[graft.Bench]]'s
   *  4-way build pool, so peak driver memory stays ~2 table copies,
   *  while the driver-light lake ingests keep the remaining pool slots
   *  busy. */
  private[queries] val ReplayGate = new java.util.concurrent.Semaphore(2)

  /** Wrap a warm-build thunk with [[ReplayGate]]. */
  private[queries] def gated(run: () => Unit): () => Unit = () => {
    ReplayGate.acquire()
    try run() finally ReplayGate.release()
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
