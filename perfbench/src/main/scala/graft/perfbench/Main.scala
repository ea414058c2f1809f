package graft.perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import graft.analyze.Analyzers
import graft.ingest.{Extract, WorkloadViews}

/** The product-path benchmark: seeded QueryInfo corpus → extract →
  * summaries → views → 28 analyzers → report, timed end to end with
  * tracing off, and layer by layer in a separate traced run.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR [--write-sheet FILE]
  * }}}
  *
  * Prints one record line (context, samples, checks) and then, as the
  * last line, the result object `{"correct","attempted","failed","metrics"}`.
  * `perfbench/README.md` gives why each workload exists.
  */
object Main {

  /** A workload's window size and untimed warm-up passes. A ~3 s ingest pass
    * keeps compiling its hot parse code through its second and third run; a
    * ~20 s report pass is covered by one.
    */
  final case class Workload(docs: Int, warmups: Int)

  /** The name's prefix picks the timed section. */
  val Workloads: Map[String, Workload] = Map(
    "ingest_1k" -> Workload(docs = 1000, warmups = 3),
    "report_1k" -> Workload(docs = 1000, warmups = 1))

  /** The seed the committed sheet was written for. */
  val DefaultSeed = 0L

  /** `afterCorpus` lets the self-test plant a fault in the generated input. */
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, docs: Int, warmups: Int, writeSheet: Option[File],
      afterCorpus: Corpus.Written => Unit = _ => ())

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", sys.error("--workload is required"))
    val w = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
    Opts(workload, kv.getOrElse("seed", DefaultSeed.toString).toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      new File(kv.getOrElse("work", "perfbench-work")).getAbsoluteFile,
      w.docs, w.warmups,
      kv.get("write-sheet").map(new File(_).getAbsoluteFile))
  }

  /** `Pipeline.session()`'s settings, with Spark's scratch space in the run's work dir. */
  def session(work: File): SparkSession = {
    val cpus = Host.sparkCpus
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val (record, result) = run(parse(args))
    println(record)
    println(result)
  }

  /** One pass of a timed section. */
  final case class Sample(totalS: Double, cpuS: Double, traced: Boolean)

  /** Runs the workload; returns (record line, result line). */
  def run(o: Opts): (String, String) = {
    val steal0 = Host.stealS()
    val isReport = o.workload.startsWith("report")
    o.work.mkdirs()
    val spark = session(o.work)
    val sc = spark.sparkContext
    try {
      val trace = new Trace(sc)
      val checks = new Checks
      val out = new File(o.work, "out")
      val bench = new Workbench(spark, trace, out)

      // ---- set-up: session (above), corpus, pre-extract, warm-up passes
      val phases = mutable.LinkedHashMap("session_s" -> Host.sinceJvmStartS())
      def phase[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        try body finally phases(name) = (System.nanoTime() - t0) / 1e9
      }
      val corpus = phase("corpus_s")(Corpus.write(new File(o.work, "corpus"), o.seed, o.docs))
      o.afterCorpus(corpus)
      val summary =
        if (!isReport) bench.summaryPath
        else phase("pre_extract_s") {
          val pre = new Workbench(spark, trace, new File(o.work, "summaries"))
          pre.extract(corpus.dir, jsonl = false)
          pre.summaryPath
        }
      val htmls = mutable.ArrayBuffer.empty[String]
      def section(): Unit =
        if (!isReport) bench.extract(corpus.dir, jsonl = true)
        else {
          val html = bench.report(summary)
          htmls += html
          checks.count(Workbench.AnalyzerNames.size, Workbench.failedSections(html),
            "report sections read failed:")
          checks.check(Workbench.sections(html) == Workbench.AnalyzerNames.size,
            s"report has ${Workbench.sections(html)} sections")
        }
      def fresh(): Unit = {
        // every pass starts as a new command would: no cached views, no outputs
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        Files.deleteRecursively(out)
        out.mkdirs()
        System.gc()
      }
      phase("warmup_s")((1 to o.warmups).foreach { _ => fresh(); section() })
      val setupS = Host.sinceJvmStartS()

      // ---- timed loop: whole passes until the run's seconds are spent;
      // a traced run alternates untraced and traced passes
      val samples = mutable.ArrayBuffer.empty[Sample]
      val loop0 = System.nanoTime()
      val minPasses = if (o.trace) 2 else 1
      while (samples.size < minPasses || (System.nanoTime() - loop0) / 1e9 < o.seconds) {
        fresh()
        trace.on = o.trace && samples.size % 2 == 1
        val c0 = Host.cpuS()
        val t0 = System.nanoTime()
        section()
        samples += Sample((System.nanoTime() - t0) / 1e9, Host.cpuS() - c0, trace.on)
      }
      trace.on = false
      val timed = samples.filterNot(_.traced).toSeq

      // ---- correctness over the last pass's outputs
      val checks0 = System.nanoTime()
      val summaryDf = spark.read.parquet(summary)
      checks.summaries(summaryDf, corpus.expected)
      if (!isReport)
        checks.check(Extract.readJsonl(spark, bench.jsonlPath).count() == corpus.expected.parsed,
          "JSONL summaries differ from the generator's parsed count")
      if (isReport) {
        checks.header(Workbench.headerMetrics(htmls.head), corpus.expected)
        checks.check(htmls.forall(_ == htmls.head), "report HTML differs between passes")
      }
      val sheetRows = mutable.ArrayBuffer.empty[(String, Long, Long)]
      if (o.seed == DefaultSeed || o.writeSheet.isDefined) {
        def add(name: String, df: => DataFrame): Unit =
          try {
            val rows = df.collect()
            sheetRows += ((name, rows.length.toLong, Checks.checksum(rows)))
          } catch { case e: Exception => checks.check(ok = false, s"$name threw: ${e.getMessage}") }
        add("summary", summaryDf.select(col("query_id"), col("user"), col("state"),
          col("elapsed_time"), col("cpu_time"), col("input_size"), size(col("operators")),
          size(col("plan_nodes")), size(col("tasks"))))
        if (isReport) {
          Analyzers.all(WorkloadViews(summaryDf)).toSeq.sortBy(_._1).foreach { case (n, f) => add(n, f()) }
          val crc = new java.util.zip.CRC32
          crc.update(htmls.head.getBytes("UTF-8"))
          sheetRows += (("report.html", htmls.head.length.toLong, crc.getValue))
        }
      }
      o.writeSheet match {
        case Some(f) =>
          java.nio.file.Files.writeString(f.toPath,
            sheetRows.map { case (n, r, s) => s"${o.docs}\t$n\t$r\t$s" }.mkString("", "\n", "\n"),
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        case None =>
          val sheet = Checks.loadSheet()
          sheetRows.foreach { case (n, r, s) => checks.sheet(sheet, o.docs, n, r, s) }
      }

      phases("checks_s") = (System.nanoTime() - checks0) / 1e9

      val layers =
        if (!o.trace) Seq.empty
        else Layers.measure(spark, trace, isReport, corpus, summary, samples.toSeq,
          htmls.headOption, steal0)
      if (o.trace)
        java.nio.file.Files.writeString(new File(o.work, "trace.json").toPath, trace.json)

      val medianS = Stats.median(timed.map(_.totalS))
      val context = Map(
        "workload" -> o.workload, "seed" -> o.seed, "docs" -> o.docs,
        "nproc" -> Host.cores, "spark_graft_cpus" -> Host.sparkCpus, "xmx" -> Host.xmx,
        "host.steal_s" -> (Host.stealS() - steal0), "passes" -> timed.size,
        "traced_passes" -> samples.count(_.traced),
        "docs_per_s" -> (if (isReport) None else Some(o.docs / medianS)),
        "corpus_gz_mb" -> corpus.gzBytes / 1e6)
      val record = Json.obj(Seq(
        "record" -> "perfbench",
        "context" -> context,
        "total_s" -> Stats.summary(timed.map(_.totalS)),
        "cpu_s" -> Stats.summary(timed.map(_.cpuS)),
        "setup_s" -> setupS,
        "phases" -> phases.toMap,
        "failed_frac" -> checks.failedFrac,
        "misses" -> checks.misses.toSeq,
        "sheet" -> sheetRows.map { case (n, r, s) => Map("name" -> n, "rows" -> r, "checksum" -> s) }.toSeq))

      val metrics: Seq[(String, Double, String)] =
        if (o.trace) layers
        else Seq(
          ("total_s", medianS, "s"),
          ("setup_s", setupS, "s"),
          ("cpu_s", Stats.median(timed.map(_.cpuS)), "s"),
          ("peak_rss_mb", Host.peakRssMb(), "MB"),
          ("summary_mb", Files.sizeOf(new File(summary), _.getName.endsWith(".parquet")) / 1e6, "MB"))
      val result = Json.obj(Seq(
        "correct" -> (checks.failed == 0),
        "attempted" -> checks.attempted,
        "failed" -> checks.failed,
        "metrics" -> Json.RawJson(Json.obj(metrics.map { case (k, v, u) =>
          k -> Json.RawJson(Json.obj(Seq("value" -> v, "unit" -> u)))
        }))))
      (record, result)
    } finally spark.stop()
  }
}
