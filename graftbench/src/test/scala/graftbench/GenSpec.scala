package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def events(seed: Long) = Gen.digest(Gen.events(spark, seed, 5000, Gen.T0, Gen.Day))
  private val shape = Gen.IngestShape(2000, 30 * Gen.Hour, Gen.Hour)
  private def batch(seed: Long) = Gen.ingestBatch(spark, seed, shape, 3, Gen.T0 + Gen.Day)

  test("one seed gives identical event inputs; another seed changes them") {
    assert(events(7) == events(7))
    assert(events(7) != events(8))
  }

  test("the digest does not depend on partitioning") {
    val df = Gen.events(spark, 7, 5000, Gen.T0, Gen.Day)
    assert(Gen.digest(df.repartition(5)) == Gen.digest(df.coalesce(1)))
  }

  test("ingest batches are seeded, and plant exactly the late and far-future rows") {
    assert(Gen.digest(batch(7)) == Gen.digest(batch(7)))
    assert(Gen.digest(batch(7)) != Gen.digest(batch(8)))
    import org.apache.spark.sql.functions._
    val now = Gen.T0 + Gen.Day + Gen.Segment
    val ts = batch(7).select(col("ts").cast("long").as("s"))
    assert(ts.count() == 2000)
    assert(ts.filter(col("s") <= now - shape.retentionSec).count() == shape.late(2000))
    assert(ts.filter(col("s") > now + shape.maxFutureSec).count() == shape.future(2000))
  }

  test("corpus and request templates are seeded") {
    val a = Gen.corpus(7, 500)
    assert(a.docs == Gen.corpus(7, 500).docs)
    assert(a.docs != Gen.corpus(8, 500).docs)
    assert(a.exactGroups.nonEmpty && a.nearPairs.nonEmpty && a.vectorTwins.nonEmpty)
    val now = Gen.T0 + 7 * Gen.Day
    assert(Templates.pool(7, now) == Templates.pool(7, now))
    assert(Templates.pool(7, now) != Templates.pool(8, now))
    val s1 = Templates.stream(7, Templates.pool(7, now)).take(50).map(_.id).toList
    assert(s1 == Templates.stream(7, Templates.pool(7, now)).take(50).map(_.id).toList)
  }

  test("the request mix is about 60/30/10 and repeats earlier requests") {
    val now = Gen.T0 + 7 * Gen.Day
    val reqs = Templates.stream(3, Templates.pool(3, now)).take(2000).toList
    val share = reqs.groupBy(_.kind).map { case (k, v) => k -> v.size / 2000.0 }
    assert(math.abs(share("narrow") - 0.6) < 0.05)
    assert(math.abs(share("wide") - 0.3) < 0.05)
    assert(math.abs(share("meta") - 0.1) < 0.03)
    val first100 = reqs.take(100)
    val repeats = 1.0 - first100.map(_.id).distinct.size / 100.0
    assert(repeats > 0.3 && repeats < 0.7, s"repeat share $repeats")
  }
}
