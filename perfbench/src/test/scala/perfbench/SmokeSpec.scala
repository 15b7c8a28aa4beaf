package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every workload at smoke size, traced: all outputs check out and every
  * op's in-job plus outside time adds up to its wall time. */
class SmokeSpec extends AnyFunSuite {
  Pins.path = Some(Paths.get("pins.tsv").toAbsolutePath)
  private val tmp = Files.createDirectories(Paths.get("target", "test-tmp").toAbsolutePath)
  /** The per-layer names `BENCHMARK.json` at the repository root lists. */
  private val ledgerNames: Set[String] = {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "BENCHMARK.json").toFile)
    spec.get("per_layer").elements().asScala.map(_.get("name").asText).toSet
  }

  for ((name, make) <- Main.Workloads.toSeq.sortBy(_._1)) test(s"$name at smoke size") {
    val work = Files.createTempDirectory(tmp, name).resolve("work")
    val res = Main.run(name, make, seed = 3L, seconds = 1.0, traced = true, smoke = true, work)
    assert(res("attempted").asInstanceOf[Int] > 0)
    assert(res("failures") == Nil)
    assert(res("failed") == 0)
    assert(res("unreconciled") == Nil)
    val layers = res("per_layer").asInstanceOf[Map[String, Double]]
    assert(layers.keySet.subsetOf(ledgerNames), layers.keySet -- ledgerNames)
    assert(layers.values.forall(v => !v.isNaN && !v.isInfinite), layers)
    val e2e = res("end_to_end").asInstanceOf[Map[String, Map[String, Any]]]
    for (m <- Seq("setup_s", "pass_s", "op_gmean_ms"))
      assert(e2e(m)("value").asInstanceOf[Double] > 0, m)
  }
}
