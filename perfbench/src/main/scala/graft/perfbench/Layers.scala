package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analyze.Analyzers
import graft.ingest.{Extract, QueryInfoParser, WorkloadViews}

/** Per-layer metrics of a traced run, named after the program's modules.
  * Span times are means over the traced passes of the timed section; the
  * probes run once after the timed loop and isolate one layer each, in
  * spans named `probe.*` so their Spark jobs stay out of the `spark.*`
  * counters. A layer the workload does not exercise reads 0.
  */
object Layers {

  type Metric = (String, Double, String)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def measure(spark: SparkSession, trace: Trace, isReport: Boolean, corpus: Corpus.Written,
      summary: String, samples: Seq[Main.Sample], html: Option[String],
      steal0: Double): Seq[Metric] = {
    val traced = samples.filter(_.traced)
    val passes = traced.size.toDouble
    def spanMean(name: String): Double = trace.seconds(name) / passes
    trace.on = true

    // ---- ingest: scan, single-thread decode and parse, distributed extract
    val ingest: Seq[Metric] = if (isReport) zeros(IngestNames) else {
      val dir = corpus.dir.getPath
      val (_, scanS) = timed(trace.span("probe.scan")(noop(spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.json*").load(dir))))
      val files = corpus.dir.listFiles().filter(_.getName.contains(".json")).sortBy(_.getName)
        .map(f => f.getPath -> java.nio.file.Files.readAllBytes(f.toPath))
      val (texts, decodeS) = timed(files.map { case (p, b) => Extract.decodeFile(p, b) })
      val (parsed, parseS) = timed(texts.flatten.map(QueryInfoParser.parse))
      val (_, extractS) = timed(trace.span("probe.extract")(noop(
        Extract.extract(spark, dir).toDF())))
      val docs = parsed.flatten
      Seq(
        ("ingest.scan_s", scanS, "s"),
        ("ingest.decode_s", decodeS, "s"),
        ("ingest.parse_s", parseS, "s"),
        ("ingest.parse_us_per_doc", parseS / files.length * 1e6, "us"),
        ("ingest.extract_s", extractS, "s"),
        ("ingest.sink_parquet_s", spanMean("ingest.sink_parquet"), "s"),
        ("ingest.sink_jsonl_s", spanMean("ingest.sink_jsonl"), "s"),
        ("ingest.files", files.length.toDouble, "count"),
        ("ingest.gz_mb", files.map(_._2.length.toLong).sum / 1e6, "MB"),
        ("ingest.json_mb", texts.flatten.map(_.length.toLong).sum / 1e6, "MB"),
        ("ingest.docs_parsed", docs.length.toDouble, "count"),
        ("ingest.docs_dropped", (files.length - docs.length).toDouble, "count"),
        ("ingest.plan_nodes", docs.map(_.plan_nodes.size.toLong).sum.toDouble, "count"),
        ("ingest.operators", docs.map(_.operators.size.toLong).sum.toDouble, "count"),
        ("ingest.tasks", docs.map(_.tasks.size.toLong).sum.toDouble, "count"),
        ("ingest.parse_yield", docs.length.toDouble / files.length, "ratio"))
    }

    // ---- views, analyzers and render: only the report workload runs them
    val report: Seq[Metric] = if (!isReport) zeros(ReportNames) else {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      val v = WorkloadViews(spark.read.parquet(summary))
      // each view materialised by a count, in dependency order
      val views = Seq("base" -> (() => v.base), "operators" -> (() => v.operators),
        "plan_nodes" -> (() => v.planNodes), "nodes_deduped" -> (() => v.nodesDeduped),
        "joins" -> (() => v.joins)).map { case (n, df) =>
        val (rows, s) = timed(trace.span(s"probe.views.$n")(df().count()))
        (n, s, rows)
      }
      // the render's own work per analyzer, over the now-cached views
      val (_, metricsS) = timed(trace.span("probe.analyze.metrics")(
        Analyzers.metrics(v).collect()))
      val analyzers = Analyzers.all(v).toSeq.sortBy(_._1).map { case (n, f) =>
        val (rows, s) = timed(trace.span(s"probe.analyze.$n")(f().limit(101).collect()))
        (n, s, rows.length)
      }
      val renderS = spanMean("report.render")
      // the render fills the cached views itself; nodes_deduped is never cached
      val cachedFill = views.filter(_._1 != "nodes_deduped").map(_._2).sum
      views.flatMap { case (n, s, rows) =>
        Seq((s"views.${n}_s", s, "s"), (s"views.${n}_rows", rows.toDouble, "count"))
      } ++ Seq(("analyze.metrics_s", metricsS, "s")) ++
        analyzers.map { case (n, s, _) => (s"analyze.${n}_s", s, "s") } ++ Seq(
        ("analyze.rows_out", analyzers.map(_._3).sum.toDouble, "count"),
        ("report.render_s", renderS, "s"),
        ("report.self_s", renderS - cachedFill - metricsS - analyzers.map(_._2).sum, "s"),
        ("report.write_s", spanMean("report.write"), "s"),
        ("report.html_kb", html.map(_.getBytes("UTF-8").length / 1024.0).getOrElse(0.0), "kB"))
    }
    trace.on = false

    // ---- Spark counters of the timed section's job groups, per traced pass
    val c = trace.sparkTotals(g => g != Counters.NoGroup && !g.startsWith("probe."))
    val sparkMetrics = c.asMetrics.map { case (k, x) =>
      (s"spark.$k", x / passes, if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count")
    }

    val tracedS = Stats.median(traced.map(_.totalS))
    ingest ++ report ++ sparkMetrics ++ Seq(
      ("host.cores", Host.cores.toDouble, "count"),
      ("host.steal_s", Host.stealS() - steal0, "s"),
      ("trace.total_s", tracedS, "s"),
      ("trace.overhead_s", tracedS - Stats.median(samples.filterNot(_.traced).map(_.totalS)), "s"))
  }

  private def zeros(names: Seq[(String, String)]): Seq[Metric] = names.map { case (n, u) => (n, 0.0, u) }

  private val IngestNames: Seq[(String, String)] =
    Seq("scan_s", "decode_s", "parse_s").map(n => s"ingest.$n" -> "s") ++
      Seq("ingest.parse_us_per_doc" -> "us") ++
      Seq("extract_s", "sink_parquet_s", "sink_jsonl_s").map(n => s"ingest.$n" -> "s") ++
      Seq("ingest.files" -> "count", "ingest.gz_mb" -> "MB", "ingest.json_mb" -> "MB") ++
      Seq("docs_parsed", "docs_dropped", "plan_nodes", "operators", "tasks")
        .map(n => s"ingest.$n" -> "count") ++
      Seq("ingest.parse_yield" -> "ratio")

  private val ReportNames: Seq[(String, String)] =
    Seq("base", "operators", "plan_nodes", "nodes_deduped", "joins")
      .flatMap(n => Seq(s"views.${n}_s" -> "s", s"views.${n}_rows" -> "count")) ++
      Seq("analyze.metrics_s" -> "s") ++
      Workbench.AnalyzerNames.map(n => s"analyze.${n}_s" -> "s") ++
      Seq("analyze.rows_out" -> "count", "report.render_s" -> "s", "report.self_s" -> "s",
        "report.write_s" -> "s", "report.html_kb" -> "kB")
}
