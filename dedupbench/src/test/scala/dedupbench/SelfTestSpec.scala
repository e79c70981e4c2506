package dedupbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Tiny-size self-test of the benchmark harness: metric names and units agree
  * with BENCHMARK.json, both workloads pass their own checks, and the counts a
  * traced run reports repeat exactly for one seed. */
class SelfTestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.SparkUtil.session(2, "dedupbench-selftest")
  private val work = Paths.get("target", "selftest").toAbsolutePath

  override def afterAll(): Unit = spark.stop()

  private def run(workload: String, trace: Boolean, seed: Long = 5L): (Ledger, Report) =
    Main.execute(spark, Opts(workload, seed, seconds = 0, trace = trace, cores = 2,
      clips = 300L, work = work), System.currentTimeMillis())

  test("BENCHMARK.json names every metric the harness reports, with its unit") {
    val bench = new ObjectMapper().readTree(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")))
    def defs(key: String) = bench.get(key).elements().asScala.map(m =>
      MetricDef(m.get("name").asText, m.get("unit").asText, m.get("better").asText)).toSeq
    assert(defs("end_to_end") == Metrics.endToEnd)
    assert(defs("per_layer") == Metrics.perLayer)
    assert(bench.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }

  test("untraced runs report every end-to-end metric and pass their checks") {
    for (w <- Main.Workloads) {
      val (ledger, report) = run(w, trace = false)
      assert(ledger.failed == 0, s"$w: ${ledger.failed} failed calls or checks")
      assert(Metrics.endToEnd.forall(d => report.values.contains(d.name)))
      assert(report.values("recall") >= 0.99 && report.values("precision") >= 0.97)
    }
  }

  test("a traced rebuild repeats its counts exactly for one seed") {
    val counts = Seq.fill(2)(run("rebuild", trace = true)._2.values.filter { case (k, _) =>
      Seq(".rows_out", ".pairs_text", ".pairs_audio", ".pass_ratio", ".jobs", ".stages",
        ".tasks", ".calls").exists(k.endsWith) || k.endsWith("shuffle_write_mb")
    })
    val diff = counts(0).keySet.filter(k => counts(0)(k) != counts(1)(k))
    assert(counts(0).nonEmpty && diff.isEmpty,
      diff.map(k => s"$k: ${counts(0)(k)} vs ${counts(1)(k)}").mkString("; "))
  }

  test("a traced search reports its store layer") {
    val (ledger, report) = run("search", trace = true)
    assert(ledger.failed == 0)
    assert(report.values("pipeline.search.calls") == 1.0)
    assert(report.values("sources.initialize.files_written") > 0)
    assert(report.values("sources.snapshots") > 0)
    assert(report.values("sources.search.store_read_mb") > 0)
  }
}
