package perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private lazy val spec = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")

  private def section(key: String): String = {
    val start = spec.indexOf(s""""$key"""")
    val end = spec.indexOf("]", start)
    spec.substring(start, end)
  }

  private def names(key: String): Seq[String] =
    """"name":\s*"([^"]+)"""".r.findAllMatchIn(section(key)).map(_.group(1)).toSeq

  test("BENCHMARK.json lists exactly the metrics the harness prints") {
    assert(names("end_to_end") == Metrics.endToEnd.map(_.name))
    assert(names("per_layer").toSet == Metrics.perLayer.map(_.name).toSet)
    assert(names("per_layer").length == Metrics.perLayer.length)
  }

  test("BENCHMARK.json workloads are harness workloads") {
    assert(names("workloads").forall(Main.Workloads.contains))
  }

  test("every query in the benchmark subset exists") {
    assert(Queries.benchSet.forall(graft.SparkEntry.queries.contains))
    assert(Queries.benchSet.distinct.length == Queries.benchSet.length)
  }
}
