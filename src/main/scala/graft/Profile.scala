package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.collection.mutable
import scala.util.control.NonFatal

/** Per-query attribution for declared queries: one JSON line per
 *  (input dir, query, conf variant, pass) splitting wall time into
 *  DataFrame construction, Catalyst planning and execution (noop write),
 *  with what the run's Spark jobs did — jobs (and `build_jobs`, those
 *  started while the DataFrame was built), stages, tasks, task-seconds,
 *  shuffle / spill / input bytes — and its costliest stages.
 *
 *  Usage: sbt "runMain graft.Profile [--reps N] [--plans <dir>] <query...>"
 *  Env:
 *   - SPARK_GRAFT_SF_DIR: the input dir, or a comma-separated list for
 *     multi-scale runs. A dir named `.../e<N>` with no events.parquet is
 *     generated first ([[ScaleGen]], N event rows).
 *   - GRAFT_CONFS="k=v;k=v|k=v": `|`-separated session-conf variants
 *     (default: one empty variant). Each pass runs every variant of a
 *     query back-to-back and alternates their order pass to pass, so host
 *     drift hits both sides of a same-JVM A/B alike. A variant's keys are
 *     restored after each of its runs.
 *  `--plans <dir>` writes `explain("formatted")` per (query, variant) to
 *  `<dir>/<query>_v<i>.txt`. Pass 1 carries first-touch costs (codegen
 *  cache, file listing); later passes are the steady state. */
object Profile {
  private val mapper = new ObjectMapper()
  private val EventsDir = """.*/e(\d+)""".r

  private final case class Stage(id: Int, name: String, tasks: Int, taskMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long)

  /** Job start times and the completed stages of one run. Listener events
   *  arrive asynchronously, so readers call [[awaitQuiet]] first. */
  private final class Metrics extends SparkListener {
    private val started = mutable.ArrayBuffer.empty[Long]
    private var ended = 0
    private val done = mutable.ArrayBuffer.empty[Stage]
    @volatile private var lastEventNs = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += e.time; lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      ended += 1; lastEventNs = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
      done += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60), si.numTasks,
        m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead)
      lastEventNs = System.nanoTime()
    }

    /** Until every started job has ended and no event came for 200 ms
     *  (at most 20 s). */
    def awaitQuiet(): Unit = {
      val deadline = System.nanoTime() + 20000000000L
      def quiet =
        synchronized(started.size == ended) && System.nanoTime() - lastEventNs > 200000000L
      while (!quiet && System.nanoTime() < deadline) Thread.sleep(20)
    }
    def reset(): Unit = synchronized { started.clear(); ended = 0; done.clear() }
    def jobs: Int = synchronized(started.size)
    /** Jobs whose start time (epoch ms) falls in `[from, to]`. */
    def jobsStartedIn(from: Long, to: Long): Int =
      synchronized(started.count(t => t >= from && t <= to))
    def stages: Seq[Stage] = synchronized(done.toList)
  }

  /** `GRAFT_CONFS` syntax → variants of (key, value) pairs. */
  def parseConfs(s: String): Seq[Seq[(String, String)]] =
    s.split("\\|", -1).toSeq.map(_.split(';').toSeq.filter(_.trim.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(s"GRAFT_CONFS entry '$kv' is not k=v")
      }
    })

  /** Runs every (dir, pass, query, variant) and hands each record to
   *  `emit`. Plans are written from pass 1 on the first dir. */
  def profile(spark: SparkSession, dirs: Seq[String], queries: Seq[String],
      variants: Seq[Seq[(String, String)]], reps: Int, plans: Option[Path])(
      emit: ObjectNode => Unit): Unit = {
    for (d <- dirs if !Files.exists(Paths.get(d, "events.parquet"))) d match {
      case EventsDir(n) =>
        ScaleGen.genEventsDistributed(spark, n.toLong, (n.toLong / 666).toInt.max(150), d)
      case _ => throw new IllegalArgumentException(s"no events.parquet under $d")
    }
    plans.foreach(Files.createDirectories(_))
    val keys = variants.flatten.map(_._1).distinct
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    try for (dir <- dirs; pass <- 1 to reps; q <- queries;
             vi <- (if (pass % 2 == 1) variants.indices else variants.indices.reverse)) {
      val rec = mapper.createObjectNode().put("dir", dir).put("query", q)
        .put("variant", vi).put("pass", pass)
      val confs = rec.putObject("confs")
      val prior = variants(vi).map { case (k, _) => k -> spark.conf.getOption(k) }
      m.awaitQuiet()
      m.reset()
      // the build interval in epoch ms, open-ended until the build returns
      val w0 = System.currentTimeMillis()
      var w1 = Long.MaxValue
      try {
        variants(vi).foreach { case (k, v) => spark.conf.set(k, v) }
        keys.foreach(k => confs.put(k, spark.conf.getOption(k).orNull))
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dir)
        val t1 = System.nanoTime()
        w1 = System.currentTimeMillis()
        df.queryExecution.executedPlan // analysis + optimization + planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        rec.put("build_s", (t1 - t0) / 1e9).put("plan_s", (t2 - t1) / 1e9)
          .put("exec_s", (t3 - t2) / 1e9)
        if (pass == 1 && dir == dirs.head) plans.foreach { p =>
          Files.writeString(p.resolve(s"${q}_v$vi.txt"),
            df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        }
      } catch { case NonFatal(e) => rec.put("error", e.toString) }
      finally {
        spark.catalog.clearCache()
        prior.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      m.awaitQuiet()
      val st = m.stages
      def sum(f: Stage => Long): Long = st.map(f).sum
      rec.put("jobs", m.jobs).put("build_jobs", m.jobsStartedIn(w0, w1))
        .put("stages", st.size).put("tasks", st.map(_.tasks).sum)
        .put("task_s", sum(_.taskMs) / 1e3)
        .put("shuffle_read_bytes", sum(_.shuffleRead))
        .put("shuffle_write_bytes", sum(_.shuffleWrite))
        .put("spill_bytes", sum(_.spill)).put("input_bytes", sum(_.input))
      val top = rec.putArray("top_stages")
      st.sortBy(-_.taskMs).take(5).foreach { s =>
        top.addObject().put("stage", s.id).put("name", s.name).put("tasks", s.tasks)
          .put("task_s", s.taskMs / 1e3).put("shuffle_read_bytes", s.shuffleRead)
          .put("shuffle_write_bytes", s.shuffleWrite).put("spill_bytes", s.spill)
          .put("input_bytes", s.input)
      }
      emit(rec)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Profile [--reps N] [--plans <dir>] <query...>"
    def parse(a: List[String], reps: Int,
        plans: Option[Path]): (Int, Option[Path], List[String]) = a match {
      case "--reps" :: n :: t => parse(t, n.toInt, plans)
      case "--plans" :: d :: t => parse(t, reps, Some(Paths.get(d)))
      case qs => (reps, plans, qs)
    }
    val (reps, plans, queries) = parse(args.toList, 2, None)
    require(queries.nonEmpty && reps >= 1, usage)
    queries.foreach(q => require(SparkEntry.queries.contains(q), s"unknown query $q"))
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(s"set SPARK_GRAFT_SF_DIR to the input dir(s); $usage"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val variants = parseConfs(sys.env.getOrElse("GRAFT_CONFS", ""))
    val spark = graft.core.GraftSession.builder().appName("graft-profile").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      // absorb session-level first-touch (extensions, codegen of a warm-up)
      profile(spark, dirs.take(1), Seq("q_groupby"), Seq(Nil), 1, None)(_ => ())
      profile(spark, dirs, queries, variants, reps, plans)(
        r => println(mapper.writeValueAsString(r)))
    } finally spark.stop()
  }
}
