package graft

import com.fasterxml.jackson.databind.JsonNode
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class ProfileSpec extends AnyFunSuite {

  test("A/B variants alternate order, restore their confs, and count jobs, tasks and plans") {
    val spark = TestSpark.spark
    val key = "spark.graft.dedupe.strategy"
    val base = Files.createTempDirectory("graft_profile")
    // a missing `.../e<N>` input is generated first: 1,000 events, the
    // size of the smallest testdata scale
    val dir = base.resolve("e1000").toString
    val plans = base.resolve("plans")
    val recs = Seq.newBuilder[JsonNode]
    Profile.profile(spark, Seq(dir), Seq("q_groupby"), Profile.parseConfs(s"|$key=hashagg"),
      reps = 2, plans = Some(plans))(recs += _)
    val rs = recs.result()

    assert(rs.map(r => (r.get("pass").asInt, r.get("variant").asInt)) ===
      Seq((1, 0), (1, 1), (2, 1), (2, 0)))
    for (r <- rs) {
      assert(!r.has("error"), r.toString)
      val conf = r.get("confs").get(key)
      // pass 2 runs variant 1 first: its key must not leak into variant 0
      if (r.get("variant").asInt == 0) assert(conf.isNull, r.toString)
      else assert(conf.asText === "hashagg")
      assert(r.get("jobs").asInt > 0 && r.get("tasks").asInt > 0, r.toString)
      val buildJobs = r.get("build_jobs").asInt
      assert(buildJobs >= 0 && buildJobs <= r.get("jobs").asInt, r.toString)
      assert(r.get("top_stages").size > 0)
    }
    assert(spark.conf.getOption(key).isEmpty)
    assert(Files.list(plans).iterator.asScala.map(_.getFileName.toString).toSet ===
      Set("q_groupby_v0.txt", "q_groupby_v1.txt"))
  }

  test("GRAFT_CONFS parses to one variant per |, keeping empty ones") {
    assert(Profile.parseConfs("") === Seq(Nil))
    assert(Profile.parseConfs("a=1;b=x=y|") === Seq(Seq("a" -> "1", "b" -> "x=y"), Nil))
    intercept[IllegalArgumentException](Profile.parseConfs("a"))
  }
}
