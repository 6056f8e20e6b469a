package bench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the workloads and metrics the harness
  * reports, with the same units. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val js = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def pairs(key: String): Seq[(String, String)] =
    js.get(key).elements().asScala.map(m => (m.get("name").asText(), m.get("unit").asText())).toSeq

  test("workloads, end-to-end and per-layer metrics match the harness") {
    assert(js.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Main.WorkloadNames)
    assert(pairs("end_to_end") == Main.EndToEnd)
    assert(pairs("per_layer") == Main.PerLayer)
  }
}
