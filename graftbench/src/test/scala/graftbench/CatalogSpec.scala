package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json, at the repository root, must name exactly the metrics
 *  the program prints. */
class CatalogSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(
    new java.io.File(sys.props("user.dir")).getParentFile.toPath.resolve("BENCHMARK.json").toFile)

  private def entries(key: String) =
    spec.get(key).elements.asScala.map(n => (n.get("name").asText, n.get("unit").asText)).toList

  test("per-layer metrics match the traced output's catalog") {
    assert(entries("per_layer") == PerLayer.catalog.map { case (n, u, _) => (n, u) }.toList)
  }

  test("end-to-end metrics match the untraced output") {
    assert(entries("end_to_end") == Main.EndToEnd.toList)
  }

  test("every listed workload exists") {
    spec.get("workloads").elements.asScala.foreach(w => Workload(w.get("name").asText, 1, "unused"))
  }
}
