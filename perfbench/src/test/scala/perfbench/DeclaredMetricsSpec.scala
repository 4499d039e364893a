package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The result line must carry exactly the metrics BENCHMARK.json declares,
  * with the same units, and every declared workload must exist. */
class DeclaredMetricsSpec extends AnyFunSuite {
  private val declared = new ObjectMapper().readTree(
    Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def metrics(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.map(m =>
      m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("end-to-end and per-layer metrics match BENCHMARK.json") {
    assert(Main.endToEnd == metrics("end_to_end"))
    assert(Main.perLayer == metrics("per_layer"))
  }

  test("every declared workload exists") {
    val names = declared.get("workloads").elements().asScala.map(_.get("name").asText()).toSet
    assert(names.nonEmpty && names.subsetOf(Main.workloads.keySet))
  }
}
