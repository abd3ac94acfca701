package graft

import org.apache.spark.sql.SparkSession

/** Generated event corpora for scale runs beyond the fixed testdata. */
object ScaleGen {

  /** Distributed (stateless-hash) events generator: each row's fields
   *  derive from xxhash64(id, salt), so `spark.range` generates any scale
   *  with zero driver memory. Same schema and distributions as the
   *  testdata events table (30-day uniform span, 5 metrics, 2-decimal
   *  values, users ∝ scale) — a different seed recipe, which is
   *  irrelevant for wall-ratio probes. */
  def genEventsDistributed(spark: SparkSession, nRows: Long, nUsers: Int,
      dir: String): Unit = {
    import org.apache.spark.sql.functions._
    val base = 1704067200L
    val span = 30L * 86400
    val types = Array("click", "error", "purchase", "view", "scroll")
    spark.range(nRows).select(
        col("id").as("event_id"),
        timestamp_seconds(lit(base) + pmod(xxhash64(col("id"), lit(1)), lit(span)))
          .as("ts"),
        pmod(xxhash64(col("id"), lit(2)), lit(nUsers.toLong)).as("user_id"),
        element_at(
          array(types.map(lit): _*),
          (pmod(xxhash64(col("id"), lit(3)), lit(5L)) + 1).cast("int")).as("event_type"),
        (pmod(xxhash64(col("id"), lit(4)), lit(10000L)).cast("double") / 100.0).as("value"),
        concat(lit("""{"k": """), pmod(xxhash64(col("id"), lit(5)), lit(100L)),
          lit("}")).as("props"))
      .repartition(32).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }
}
