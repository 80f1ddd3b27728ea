package graftbench

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The metrics a run prints are the ones BENCHMARK.json declares, in name
  * and unit. */
class LayersSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(Paths.get("..", "BENCHMARK.json").toFile)

  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("the untraced pass prints exactly the end-to-end metrics of BENCHMARK.json") {
    assert(Layers.EndToEnd == declared("end_to_end"))
  }

  test("the traced pass prints exactly the per-layer metrics of BENCHMARK.json") {
    assert(Layers.All == declared("per_layer"))
  }
}
