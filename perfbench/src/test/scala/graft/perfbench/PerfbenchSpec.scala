package graft.perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.QueryInfoCorpus

/** The benchmark's self-test at a ~100-document smoke size: every metric
  * BENCHMARK.json declares prints with its unit, on every workload, traced
  * and untraced; and a planted fault is counted as a failure.
  */
class PerfbenchSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val spec = mapper.readTree(new File("../BENCHMARK.json"))
  private val workloads = spec.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
  private val work = new File("target/selftest-work").getAbsoluteFile

  private def declared(key: String): Map[String, String] =
    spec.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  private def smoke(workload: String, trace: Boolean,
      plant: Corpus.Written => Unit = _ => ()): JsonNode = {
    Files.deleteRecursively(work)
    val (record, result) = Main.run(Main.Opts(workload, seed = 1, seconds = 0, trace = trace,
      work = work, docs = 100, warmups = 1, writeSheet = None, afterCorpus = plant))
    assert(mapper.readTree(record).get("record").asText === "perfbench")
    mapper.readTree(result)
  }

  private def assertMetrics(result: JsonNode, want: Map[String, String]): Unit = {
    val got = result.get("metrics").properties.asScala.map(e => e.getKey -> e.getValue).toMap
    assert(got.keySet === want.keySet)
    want.foreach { case (name, unit) =>
      assert(got(name).get("unit").asText === unit, name)
      assert(got(name).get("value").isNumber, name)
    }
  }

  test("every workload prints every declared metric with its unit, and its checks pass") {
    assert(workloads.toSet === Main.Workloads.keySet)
    for (w <- workloads; trace <- Seq(false, true)) {
      val r = smoke(w, trace)
      assertMetrics(r, declared(if (trace) "per_layer" else "end_to_end"))
      assert(r.get("correct").asBoolean, s"$w trace=$trace: $r")
      assert(r.get("attempted").asLong >= 1 && r.get("failed").asLong === 0)
    }
  }

  test("a parsed document removed after generation is counted as failed") {
    val r = smoke(workloads.find(_.startsWith("ingest")).get, trace = false, plant = c =>
      c.dir.listFiles().sortBy(_.getName).find { f =>
        val i = f.getName.drop(1).takeWhile(_.isDigit).toLong
        QueryInfoCorpus.fate(i) == QueryInfoCorpus.Parsed
      }.foreach(_.delete()))
    assert(!r.get("correct").asBoolean)
    assert(r.get("failed").asLong > 0)
  }

  test("a sheet row that disagrees is counted as failed") {
    val c = new Checks
    val sheet = Map((100, "queries_by_user") -> ((17L, 42L)))
    c.sheet(sheet, 100, "queries_by_user", 17L, 42L)
    assert(c.failed === 0 && c.attempted === 1)
    c.sheet(sheet, 100, "queries_by_user", 17L, 43L)
    assert(c.failed === 1 && c.failedFrac === 0.5)
  }

  test("the committed sheet parses and covers every declared workload's window") {
    val sheet = Checks.loadSheet()
    val docs = sheet.keySet.map(_._1)
    assert(Main.Workloads.values.map(_.docs).toSet.subsetOf(docs))
    assert(Workbench.AnalyzerNames.forall(n => sheet.contains((Main.Workloads("report_1k").docs, n))))
  }
}
