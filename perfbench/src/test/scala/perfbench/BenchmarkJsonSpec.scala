package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics the benchmark reports. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def named(key: String): Seq[(String, String)] =
    json.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("per_layer metrics are the ones the traced run reports") {
    assert(named("per_layer") == Layers.units)
  }

  test("end_to_end metrics are the ones the untraced run reports") {
    assert(named("end_to_end") == Main.endToEnd)
  }

  test("every listed workload exists") {
    val listed = json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq
    assert(listed.nonEmpty && listed.forall(Workloads.all.contains))
  }
}
