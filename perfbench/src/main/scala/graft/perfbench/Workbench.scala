package graft.perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import graft.analyze.Analyzers
import graft.ingest.{Extract, WorkloadViews}
import graft.report.Report

/** The timed sections: the program's public calls in the order its
  * `Pipeline extract` and `Pipeline report` commands make them, each
  * wrapped in a span named after the call.
  */
final class Workbench(spark: SparkSession, trace: Trace, out: File) {

  def summaryPath: String = new File(out, "summary_parquet").getPath
  def jsonlPath: String = new File(out, "summary_jsonl").getPath
  def reportPath: String = new File(out, "report.zip").getPath

  /** `Pipeline extract`: corpus dir → summaries parquet (+ gzipped JSONL). */
  def extract(corpus: File, jsonl: Boolean): Unit = trace.span("extract") {
    val ds = trace.span("ingest.extract")(Extract.extract(spark, corpus.getPath))
    // the write drives the distributed scan + parse it depends on
    trace.span("ingest.sink_parquet")(Extract.writeParquet(ds, summaryPath))
    if (jsonl) trace.span("ingest.sink_jsonl")(
      Extract.writeJsonl(Extract.readParquetAsSummaries(spark, summaryPath), jsonlPath))
  }

  def views(summary: String): WorkloadViews =
    trace.span("views.build")(WorkloadViews(spark.read.parquet(summary)))

  /** `Pipeline report`: views → rendered HTML → `.zip`. Returns the HTML. */
  def report(summary: String): String = trace.span("report") {
    val v = views(summary)
    val html = trace.span("report.render")(Report.render(v))
    trace.span("report.write")(Report.write(reportPath, html))
    html
  }
}

object Workbench {
  /** The registry's names; its thunks are not invoked, so no views are needed. */
  val AnalyzerNames: Seq[String] = Analyzers.all(null).keys.toSeq.sorted

  /** Sections of a rendered report whose analyzer threw. */
  def failedSections(html: String): Int = "<p class=\"empty\">failed: ".r.findAllIn(html).size

  def sections(html: String): Int = "<section>".r.findAllIn(html).size

  /** The header metric cells of a rendered report, by name. */
  def headerMetrics(html: String): Map[String, String] =
    "<div class=\"metric\"><span>([^<]+)</span><b>([^<]*)</b></div>".r
      .findAllMatchIn(html).map(m => m.group(1) -> m.group(2)).toMap
}
