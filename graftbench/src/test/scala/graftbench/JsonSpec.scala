package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class JsonSpec extends AnyFunSuite {
  test("the result line parses back with exactly the four result keys") {
    val unit = "quote\" backslash\\ newline\n"
    val line = Main.resultLine(correct = true, attempted = 3, failed = 0,
      Seq(Metric("setup_s", 0.8127, "s"), Metric("odd", 1e-7, unit)))
    val n = new ObjectMapper().readTree(line)
    assert(n.fieldNames.asScala.toList == List("correct", "attempted", "failed", "metrics"))
    assert(n.get("metrics").get("setup_s").get("value").asDouble == 0.8127)
    assert(n.get("metrics").get("odd").get("unit").asText == unit)
  }

  test("a non-finite metric is refused rather than written as invalid JSON") {
    intercept[IllegalArgumentException](
      Main.resultLine(correct = true, attempted = 1, failed = 0, Seq(Metric("x", Double.NaN, "ms"))))
    intercept[IllegalArgumentException](Main.finite("x", Double.PositiveInfinity))
  }
}
