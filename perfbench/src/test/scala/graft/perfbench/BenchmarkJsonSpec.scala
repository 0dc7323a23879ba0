package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json declares exactly the per-layer metrics a traced run
  * reports, with the same units.
  */
class BenchmarkJsonSpec extends AnyFunSuite {
  test("declared per-layer metrics match the traced output") {
    val file = Paths.get(sys.props("user.dir")).getParent.resolve("BENCHMARK.json")
    val root = new ObjectMapper().readTree(Files.readString(file))
    val declared = (0 until root.get("per_layer").size).map { i =>
      val m = root.get("per_layer").get(i)
      m.get("name").asText -> m.get("unit").asText
    }
    assert(declared == Layers.All)
  }
}
