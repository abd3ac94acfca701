package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/**
 * The graft end-to-end benchmark.
 *
 * {{{
 * Main --workload <tsdb_read|ingest_routed|corpus_pipeline> --seed <n>
 *      --seconds <s> --trace <0|1> --work <dir> [--spans <dir>]
 * }}}
 *
 * Every run sets up once in a fresh JVM, the set-up a user starting the
 * program pays, and warms up untimed. Untraced (`--trace 0`): measure
 * for `--seconds` and at least the workload's `minOps` operations, and
 * print the end-to-end metrics. Traced (`--trace 1`): measure a third of
 * the time untraced, as many operations traced, and as many again
 * untraced, and print the per-layer metrics plus the tracing overhead.
 * The last line of standard output is one JSON object: correct,
 * attempted, failed, metrics.
 */
object Main {

  /** The end-to-end metrics every workload reports, in output order:
   *  the workload's unit operation latency, its work rate, and set-up. */
  val EndToEnd: Seq[(String, String)] = Seq("op_p50_ms" -> "ms", "work_per_s" -> "1/s", "setup_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, spans: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      need("work"), m.get("spans"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = graft.core.GraftSession.builder(cpus)
      .appName("graftbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Peak resident set of this process, from VmHWM. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val code = try run(parse(argv)) catch {
      case e: Throwable =>
        System.err.println(s"graftbench: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  /** A metric value as JSON can carry it: a non-finite one is refused. */
  def finite(name: String, v: Double): Double = {
    require(!v.isNaN && !v.isInfinite, s"$name is $v, which JSON cannot encode")
    v
  }

  /** The result line: exactly correct, attempted, failed and metrics. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
      .put("correct", correct).put("attempted", attempted).put("failed", failed)
    val ms = root.putObject("metrics")
    metrics.foreach(m => ms.putObject(m.name).put("value", finite(m.name, m.value)).put("unit", m.unit))
    mapper.writeValueAsString(root)
  }

  def run(a: Args): Int = {
    val wl = Workload(a.workload, a.seed, a.work)
    val t0 = System.nanoTime()
    val spark = session(a.work)
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      wl.setup(spark)
      val setupS = (System.nanoTime() - t0) / 1e9
      val digest = wl.inputDigest()
      println(s"workload=${wl.name} seed=${a.seed} input_digest=$digest " +
        s"cores=${spark.sparkContext.defaultParallelism} spark=${spark.version} " +
        s"jvm=${System.getProperty("java.version")} heap_mb=${Runtime.getRuntime.maxMemory >> 20}")
      val (_, warmMs) = Workload.timeMs(wl.warmup())
      System.err.println(f"graftbench: set-up $setupS%.1f s (session $sessionS%.1f s), warm-up ${warmMs / 1000}%.1f s")
      if (a.trace) traced(a, spark, wl) else untraced(a, spark, wl, setupS)
    } finally spark.stop()
  }

  private def untraced(a: Args, spark: SparkSession, wl: Workload, setupS: Double): Int = {
    val off = new Tracer(spark.sparkContext, enabled = false)
    val (p, measureMs) = Workload.timeMs(wl.measure(a.seconds, wl.minOps, off))
    System.err.println(f"graftbench: measured ${measureMs / 1000}%.1f s, ${p.opMs.size} operations")
    val op = Stats.median(p.opMs)
    val errorRate = p.failed.toDouble / p.attempted
    val values = Map("op_p50_ms" -> op.value, "work_per_s" -> p.workPerS, "setup_s" -> setupS)
    val metrics = EndToEnd.map { case (n, u) => Metric(n, values(n), u) }
    println(f"setup_s=$setupS%.3f (one cold set-up)")
    println(f"op_p50_ms=${op.value}%.2f over n=${op.n} operations")
    (p.headline :+ Metric("error_rate", errorRate, "ratio") :+ Metric("peak_rss_mb", peakRssMb(), "MB"))
      .foreach(m => println(f"${m.name}=${m.value}%.4f ${m.unit}"))
    p.notes.foreach(println)
    println(resultLine(p.failed == 0, p.attempted, p.failed, metrics))
    0
  }

  private def traced(a: Args, spark: SparkSession, wl: Workload): Int = {
    val collector = new JobCollector
    spark.sparkContext.addSparkListener(collector)
    // untraced, traced, untraced: the same number of operations each. The
    // first phase absorbs what is left of the warm-up (compared against
    // it, the traced phase read faster than untraced); the overhead
    // compares the traced phase with the one after it
    val off = new Tracer(spark.sparkContext, enabled = false)
    val before = wl.measure(a.seconds / 3, 1, off)
    val tracer = new Tracer(spark.sparkContext, enabled = true)
    val tr = wl.measure(0, before.opMs.size, tracer)
    val after = wl.measure(0, before.opMs.size, off)
    collector.awaitQuiet()
    val view = new TraceView(tracer.spans.toSeq, collector.attribute(tracer.spans.toSeq))
    val ops = tr.opMs.size
    val base = Stats.median(after.opMs)
    val basep50 = base.value
    val overhead = Stats.median(tr.opMs).value - basep50
    val values = PerLayer.catalog.map(_._1).map(_ -> 0.0).toMap ++
      PerLayer.common(view, wl.opSpan) ++ wl.perLayer(view) ++ Map(
        "trace.overhead_ms" -> overhead,
        "trace.overhead_share" -> overhead / basep50,
        "peak_rss_mb" -> peakRssMb())
    val unknown = values.keySet -- PerLayer.catalog.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the catalog: $unknown")
    val spansDir = java.nio.file.Paths.get(a.spans.getOrElse(s"${a.work}/spans"))
    val spansFile = spansDir.resolve(s"spans-${wl.name}-${a.seed}.jsonl")
    tracer.writeJsonl(spansFile, view.jobsBySpan.map { case (k, v) => k -> v })
    println(s"spans: ${tracer.spans.size} written to $spansFile")
    println(f"untraced op p50 ${basep50}%.2f ms over ${base.n} ops; traced " +
      f"${basep50 + overhead}%.2f ms over $ops ops; tracing overhead ${overhead}%.2f ms " +
      f"(${100 * overhead / basep50}%.1f%%)")
    println("self time per op, by layer:")
    PerLayer.Layers.foreach(l => println(f"  $l%-10s ${values(s"self_ms.$l")}%10.2f ms"))
    val phases = Seq(before, tr, after)
    phases.flatMap(_.notes).foreach(println)
    val failed = phases.map(_.failed).sum
    val attempted = phases.map(_.attempted).sum
    println(resultLine(failed == 0, attempted, failed,
      PerLayer.catalog.map { case (n, unit, _) => Metric(n, values(n), unit) }))
    0
  }
}

/**
 * Sets up and warms up every workload once, untimed, each in its own
 * session. The launcher runs it under `-XX:ArchiveClassesAtExit`, so that
 * the archive holds every class a measured run loads.
 *
 * {{{
 * WarmAll <work dir>
 * }}}
 */
object WarmAll {
  def main(argv: Array[String]): Unit = {
    Workload.Names.foreach { name =>
      val work = s"${argv(0)}/$name"
      val wl = Workload(name, 0L, work)
      val spark = Main.session(work)
      try {
        wl.setup(spark)
        wl.warmup()
      } finally spark.stop()
    }
    sys.exit(0)
  }
}
