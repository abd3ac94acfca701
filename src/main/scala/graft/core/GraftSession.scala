package graft.core

import org.apache.spark.sql.SparkSession

/** Standard session config for the engine.
 *
 * - shuffle partitions sized to the local core count (the driver's
 *   contract pins 32 on the bench host); on a real cluster this is
 *   superseded by AQE coalescing, which we leave on.
 * - `nanosAsLong` lets us read TIMESTAMP(NANOS) parquet (the driver's
 *   `events` table in some generations) as raw Long nanos, which we
 *   floor-divide to the engine's epoch-second domain — exact integer
 *   math, no tz traps.
 * - `inferTimestampNTZ` off: generator output has flipped between
 *   UTC-flagged and naive `timestamp[us]` across rounds; naive micros
 *   must keep reading as TIMESTAMP_LTZ (stored value = UTC micros,
 *   identical bytes interpretation, `cast(.. as long)` = epoch seconds)
 *   instead of TIMESTAMP_NTZ, which refuses the numeric cast.
 * - `codegen.cache.maxEntries` 1000: Spark keeps the classes Janino
 *   compiles for whole-stage codegen in one JVM-wide LRU cache of 100
 *   entries by default. graft's per-cycle working sets are larger: one
 *   `ingest_routed` cycle of the graftbench benchmark (a `processBatch`
 *   on a 1h+1d ladder with CMS and DDS, two `Graft.queryRouted` reads
 *   and their checks, `IngestJob.latest`, a `Maintenance.run` every
 *   second batch) needs 166 distinct classes, `tsdb_read` ~175 and
 *   `corpus_pipeline` ~100. At 100 entries every steady-state ingest
 *   batch found its classes evicted and recompiled 99–109 of them
 *   (~2 s of compile CPU on 4 cores) before running them cold; at 1000
 *   it compiles 8–12, and a whole `ingest_routed` run 226 classes
 *   instead of 464–474. 1000 holds several such working sets side by
 *   side. This is a STATIC conf: `CodeGenerator` reads it once per JVM,
 *   when it is first used, so it only takes effect through the session
 *   that creates the SparkContext, and a runtime `spark.conf.set` (a
 *   `GRAFT_CONFS` variant of `graft.Profile`) cannot change it.
 */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE coalescing keeps `parallelismFirst` (the default), but the
      // stock 1 MB `minPartitionSize` floor collapses KB-scale shuffles
      // to ONE post-shuffle partition, serializing every window/sort/agg
      // after the first exchange onto a single core regardless of
      // `cpus`. A lower floor lets AQE hit its parallelism target on
      // small inputs while remaining irrelevant at scale (any partition
      // over 1 MB coalesces exactly as before — production plans never
      // see the difference; guide §2.2's "fewer, larger partitions"
      // applies to 100 MB+ shuffle regimes, which parallelismFirst
      // already defers to advisoryPartitionSizeInBytes). 256 KB chosen
      // by interleaved same-JVM A/B at sf0.1 (OPTIMIZATION_r15.md):
      // 64 KB over-splits sub-100 KB shuffles (pipeline-family +0.3-0.7 s
      // per query); 256 KB keeps ~70% of the fill-family win with no
      // measured loser.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // keep a micro-batch cycle's generated classes between batches (see above)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // segment-pruning rule + native functions (graft.plans.SegmentPruning)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
}
