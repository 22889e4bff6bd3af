package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The metrics the benchmark prints are exactly those `BENCHMARK.json`
  * declares, each with its declared unit.
  */
class MetricsSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val bench: JsonNode = mapper.readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String)] =
    bench.get(key).elements().asScala.toSeq.map(m => m.get("name").asText -> m.get("unit").asText)

  test("end-to-end metrics match BENCHMARK.json by name, unit and order") {
    assert(Main.EndToEnd == declared("end_to_end"))
  }

  test("per-layer metrics match BENCHMARK.json by name, unit and order") {
    assert(Layers.Names == declared("per_layer"))
  }

  test("the workloads in BENCHMARK.json are workloads the benchmark runs") {
    val names = bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Workload.Names.contains))
  }

  test("the result line carries every metric with its unit and the counts") {
    for (list <- Seq(Main.EndToEnd, Layers.Names)) {
      val metrics = list.zipWithIndex.map { case ((n, u), i) => (n, 1.5 + i, u) }
      val line = mapper.readTree(Main.resultLine(correct = true, attempted = 12, failed = 0, metrics))
      assert(line.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
      assert(line.get("attempted").asLong == 12 && line.get("failed").asLong == 0)
      val printed = line.get("metrics")
      assert(printed.fieldNames().asScala.toSeq == list.map(_._1))
      list.zipWithIndex.foreach { case ((n, u), i) =>
        assert(printed.get(n).get("unit").asText == u)
        assert(printed.get(n).get("value").asDouble == 1.5 + i)
      }
    }
  }

  test("quantiles follow the inclusive convention of Python's statistics.quantiles") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.9) - 4.6) < 1e-12)
    assert(Stats.median(Nil) == 0.0)
  }
}
