package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json at the repository root lists exactly the metrics and
  * workloads the benchmark runs. */
class MetricNamesSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def metrics(key: String): Seq[Metrics.M] = spec.get(key).elements().asScala.map(m =>
    Metrics.M(m.get("name").asText(), m.get("unit").asText(), m.get("better").asText())).toSeq

  test("end-to-end metrics match") {
    assert(metrics("end_to_end") == Metrics.EndToEnd)
  }

  test("per-layer metrics match") {
    assert(metrics("per_layer") == Metrics.PerLayer)
  }

  test("every listed workload exists") {
    spec.get("workloads").elements().asScala.map(_.get("name").asText()).foreach(w => Workload(w, 1))
  }
}
