package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the harness must name the same per-layer metrics. */
class SpecFileSpec extends AnyFunSuite {
  test("BENCHMARK.json lists every per-layer metric the harness reports") {
    val spec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Path.of("..", "BENCHMARK.json")), "UTF-8")
    val names = "\"name\":\\s*\"([^\"]+)\"".r.findAllMatchIn(spec).map(_.group(1)).toSet
    val missing = Layers.all.map(_.name).filterNot(names)
    assert(missing.isEmpty, s"missing from BENCHMARK.json: $missing")
  }
}
