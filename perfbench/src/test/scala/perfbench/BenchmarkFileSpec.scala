package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The repo's BENCHMARK.json lists exactly what the traced run reports. */
class BenchmarkFileSpec extends AnyFunSuite {

  private val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  test("per_layer matches Layers.all: names, units and direction") {
    val listed = bench.get("per_layer").elements().asScala.map(m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    assert(listed == Layers.all.map(m => (m.name, m.unit, m.better)))
  }

  test("every listed workload exists") {
    bench.get("workloads").elements().asScala.map(_.get("name").asText).foreach { w =>
      Workload(w, seed = 1)
    }
  }
}
