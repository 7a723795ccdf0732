package perfbench

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The per-layer metrics a traced run reports are exactly the ones
  * BENCHMARK.json declares, with the same units. */
class LayersSpec extends AnyFunSuite {
  test("Layers.All matches BENCHMARK.json per_layer") {
    val json = new String(Files.readAllBytes(Path.of("..", "BENCHMARK.json")), "UTF-8")
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val declared = """\{"name": "([^"]+)", "unit": "([^"]+)"""".r
      .findAllMatchIn(perLayer).map(m => m.group(1) -> m.group(2)).toSeq
    assert(declared == Layers.All)
  }
}
