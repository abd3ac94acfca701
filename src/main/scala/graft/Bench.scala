package graft

/** Driver-run benchmark: every registered query at the bench SF, full-row
 *  materialization through the noop sink (so Catalyst can't prune the
 *  final projection the way `count()` lets it), one untimed warmup to
 *  absorb JVM/codegen startup.
 *
 *  Budget (round 15): the round-14 driver run TIMED OUT (rc 124) — the
 *  suite had grown to 311 queries × 3 passes plus a 310 s sequential
 *  build pass. Two cuts restore the independent gate without losing
 *  coverage:
 *   - the one-time harness builds run on a 4-way thread pool (the
 *     measured sweet spot at sf0.01: 242 s sequential, 176 s 4-way,
 *     380 s 8-way, where contention collapses). Each registry exposes
 *     independent `warmBuildTasks`; the driver-heavy streamed replays additionally
 *     share a 2-slot semaphore (OracleCommon.ReplayGate) so at most two
 *     full-table driver collects coexist whatever the pool size;
 *   - the timed section runs 2 interleaved passes and records the MIN of
 *     the two samples per query (a transient host stall inflates one
 *     pass; min takes the clean one — the standard bench statistic for
 *     noisy hosts). Round ≤14 recorded median-of-3; min-of-2 reads
 *     marginally lower on noise-free queries — documented in STATUS.md's
 *     round-15 section for round-over-round comparison.
 *
 *  Isolation protocol (host noise showed up as 6-13× phantom spikes when
 *  the same query ran repeatedly back-to-back):
 *   - repetitions are interleaved round-robin across the whole suite, so
 *     a transient host stall contaminates one pass of many queries
 *     instead of every sample of one query;
 *   - per-run times go to stderr, so contamination is visible in the log;
 *   - any query whose recorded min exceeds 3× the suite median is
 *     re-measured (3 fresh samples) and the median of ALL its samples is
 *     recorded — a genuine slow query reproduces across all five samples
 *     and keeps its high number; a host stall that hit both passes is
 *     outvoted.
 *
 *  The full per-query JSON line is also written to BENCH_LOCAL.json so a
 *  truncated stdout capture never loses per-query numbers. */
object Bench {
  private val BuildPool = 4

  /** A JSON string literal: paths may carry quotes or backslashes. */
  private def str(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
      .quoteAsString(s)) + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    def timeOne(name: String): Double = {
      val t0 = System.nanoTime()
      try { exec(name); (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => -1.0 }
      finally spark.catalog.clearCache() // each run pays its own persists
    }

    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0 else xs.sorted.apply(xs.size / 2)

    // warmup: one representative multi-stage query
    try exec("q_groupby") catch { case _: Throwable => () }

    // untimed build pass (round-12 convention, see STATUS): the memoized
    // one-time harness builds — ingest lakes, streamed-replay runs —
    // would otherwise land in the FIRST-touching query's pass-1 sample
    // and make stream rows incomparable round over round (the r11
    // q_stream_admission 3.33× was exactly this attribution). Full-suite
    // runs only; a name-filtered local run keeps its cheap direct path.
    val buildsSec = if (args.nonEmpty) 0.0 else {
      val t0 = System.nanoTime()
      val tasks =
        graft.queries.StreamQueries.warmBuildTasks(spark, sfDir) ++
        graft.queries.PipelineQueries.warmBuildTasks(spark, sfDir) ++
        graft.queries.EventsQueries.warmBuildTasks(spark, sfDir) ++
        graft.queries.RollupQueries.warmBuildTasks(spark, sfDir)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(BuildPool)
      try {
        val futs = tasks.map { case (name, run) =>
          name -> pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = {
              val t1 = System.nanoTime()
              run()
              System.err.println(
                f"[bench] build $name%-28s ${(System.nanoTime() - t1) / 1e9}%6.1f s")
            }
          })
        }
        futs.foreach { case (name, f) =>
          try f.get()
          catch { case e: Throwable =>
            System.err.println(s"[bench] build $name failed (first-touchers will pay it): $e")
          }
        }
      } finally pool.shutdown()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[bench] one-time lake/stream builds (untimed, $BuildPool%d-way pool): $sec%.1f s")
      sec
    }
    // optional name filter for local iteration on specific queries
    val names = (if (args.nonEmpty) SparkEntry.queries.keys.toSeq.filter(args.toSet)
      else SparkEntry.queries.keys.toSeq).sorted
    val reps = 2
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (pass <- 1 to reps; name <- names) {
      val t = timeOne(name)
      samples(name) = samples(name) :+ t
      System.err.println(f"[bench] pass $pass $name%-28s $t%8.3f s")
    }
    val mins = names.map { n =>
      val ok = samples(n).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val suiteMedian = median(mins.map(_._2).filter(_ >= 0))
    val results = mins.map { case (name, m) =>
      if (suiteMedian > 0 && m > 3 * suiteMedian) {
        val all = samples(name) ++ (1 to 3).map(_ => timeOne(name))
        val re = median(all.filter(_ >= 0))
        System.err.println(
          f"[bench] outlier $name: min-of-$reps $m%.3f s, median of ${all.size} samples $re%.3f s")
        name -> (if (re >= 0) re else m)
      } else name -> m
    }
    val qs = results.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","builds_sec":$buildsSec,"reps":$reps,"queries":$qs,"sf":${str(sfDir)}}"""
    println(json)
    // A name-filtered local run must not clobber the full-suite artifact.
    val artifact = if (args.isEmpty) "BENCH_LOCAL.json" else "BENCH_LOCAL_partial.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
    // The full per-query line above is ~15 KB at 313 queries; a bounded
    // stdout tail capture can start mid-line and lose it (round 15:
    // BENCH_r15.json rc 0 but parsed:null). Emit a compact summary as the
    // LAST stdout line — short enough that any tail window contains it
    // whole — with a pointer to the per-query artifact. Additions only:
    // the full contract line and BENCH_LOCAL.json are unchanged.
    println(s"""{"metric":"total","value":$total,"unit":"sec","builds_sec":$buildsSec,"reps":$reps,"n_queries":${results.size},"queries_file":${str(artifact)},"sf":${str(sfDir)}}""")
    spark.stop()
  }
}
