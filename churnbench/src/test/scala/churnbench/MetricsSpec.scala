package churnbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json lists exactly the metrics the benchmark prints. */
class MetricsSpec extends AnyFunSuite {
  private val json = new String(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")

  private def listed(key: String): Seq[(String, String)] = {
    val start = json.indexOf(s""""$key"""")
    val section = json.substring(start, json.indexOf("]", start))
    """"name":\s*"([^"]+)",\s*"unit":\s*"([^"]+)"""".r
      .findAllMatchIn(section).map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("end-to-end metrics") {
    assert(listed("end_to_end") === Metrics.EndToEnd)
  }

  test("per-layer metrics") {
    assert(listed("per_layer") === Metrics.PerLayer)
  }

  test("workloads") {
    val names = """"name":\s*"([^"]+)",\s*"why"""".r
      .findAllMatchIn(json).map(_.group(1)).toSeq
    assert(names === Seq("daily_refresh", "serve"))
  }
}
