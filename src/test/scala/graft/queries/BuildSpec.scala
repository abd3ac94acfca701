package graft.queries

import graft.TestSpark
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** The oracle harness's one-time builds: run-once under concurrency,
 *  retry after a failure, one registry entry per declared build, and the
 *  bounded driver collect behind every streamed replay. */
class BuildSpec extends AnyFunSuite {

  test("concurrent callers for one dir run the body once and share its value") {
    val runs = new AtomicInteger
    val b = new Build[AnyRef]("spec_once")((_, _) => {
      runs.incrementAndGet()
      Thread.sleep(200) // hold the body so every caller arrives while it runs
      new Object
    })
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    val got = try {
      val futs = (1 to 4).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = { start.await(); b(TestSpark.spark, "d") }
      }))
      start.countDown()
      futs.map(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(runs.get === 1)
    assert(got.forall(_ eq got.head))
    b(TestSpark.spark, "other")
    assert(runs.get === 2, "a second dir gets its own run")
  }

  test("a body that throws stores nothing; the next call runs it again") {
    val runs = new AtomicInteger
    val b = new Build[String]("spec_retry")((_, _) =>
      if (runs.incrementAndGet() == 1) throw new RuntimeException("first call fails")
      else "built")
    intercept[RuntimeException](b(TestSpark.spark, "d"))
    assert(b(TestSpark.spark, "d") === "built")
    assert(b(TestSpark.spark, "d") === "built")
    assert(runs.get === 2)
  }

  test("the catalogs declare 28 builds with distinct names") {
    graft.SparkEntry.queries
    val names = OracleCommon.builds.map(_.name)
    assert(names.size === 28, names.mkString(", "))
    assert(names.distinct.size === names.size, names.mkString(", "))
  }

  test("the replay collect throws past its bound, naming build, dir and bound") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq(1L, 2L, 3L, 4L).toDS()
    val e = intercept[IllegalStateException](
      OracleCommon.collectAtMost(rows, 3, "spec_replay", "/data/e4"))
    assert(Seq("spec_replay", "/data/e4", "3").forall(e.getMessage.contains), e.getMessage)
    assert(OracleCommon.collectAtMost(rows, 4, "spec_replay", "/data/e4").sorted === Seq(1L, 2L, 3L, 4L))
  }
}
