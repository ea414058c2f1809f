package graft.perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the program, plus a
  * listener whose counters are attributed to the span that launched each
  * Spark job (through the job group, set from outside to the span name).
  * While tracing is off, `span` runs its body and records nothing and the
  * listener is detached, so untraced passes pay no tracing cost.
  */
final class Trace(sc: SparkContext) {
  import Trace.Span

  private val origin = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val counters = new Counters
  private var tracing = false

  def on: Boolean = tracing

  def on_=(v: Boolean): Unit = if (v != tracing) {
    if (v) sc.addSparkListener(counters)
    else {
      PerfbenchBus.drain(sc) // deliver the pass's last events before detaching
      sc.removeSparkListener(counters)
    }
    tracing = v
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.getOrElse(-1), System.nanoTime(), -1L)
      spans += s
      open ::= s.id
      val outer = Option(sc.getLocalProperty(Counters.JobGroup))
      sc.setJobGroup(name, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        open = open.tail
        outer.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
      }
    }

  /** Counter sums over the job groups `keep` accepts, once every event so far is in. */
  def sparkTotals(keep: String => Boolean): Counters#Sums = {
    PerfbenchBus.drain(sc)
    counters.total(keep)
  }

  /** Summed seconds of every closed span with this name. */
  def seconds(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.endNs > 0).map(_.seconds).sum

  /** The spans and per-group counters as one JSON document. */
  def json: String = {
    PerfbenchBus.drain(sc)
    val ss = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_s":${(s.startNs - origin) / 1e9},"end_s":${(s.endNs - origin) / 1e9}}"""
    }
    val gs = counters.groups.sortBy(_._1).map { case (g, c) =>
      s"${Json.str(g)}:${Json.obj(c.asMetrics)}"
    }
    s"""{"spans":[${ss.mkString(",")}],"groups":{${gs.mkString(",")}}}"""
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Sums of what Spark reports per job group: job, stage and task counts,
  * executor time, GC, shuffle, spill and I/O bytes.
  */
final class Counters extends SparkListener {

  final class Sums {
    var jobs, stages, tasks = 0L
    var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill, input, output = 0L
    def asMetrics: Seq[(String, Double)] = Seq(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "executor_cpu_s" -> cpuNs / 1e9, "executor_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
      "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
      "spill_mb" -> spill / 1e6, "input_mb" -> input / 1e6, "output_mb" -> output / 1e6)
  }

  private val byGroup = mutable.Map.empty[String, Sums]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def sums(group: String): Sums = byGroup.getOrElseUpdate(group, new Sums)

  def groups: Seq[(String, Sums)] = synchronized(byGroup.toSeq)

  /** Sums over the groups `keep` accepts. */
  def total(keep: String => Boolean): Sums = {
    val t = new Sums
    groups.filter(g => keep(g._1)).map(_._2).foreach { s =>
      t.jobs += s.jobs; t.stages += s.stages; t.tasks += s.tasks; t.cpuNs += s.cpuNs
      t.runMs += s.runMs; t.gcMs += s.gcMs; t.shuffleWrite += s.shuffleWrite
      t.shuffleRead += s.shuffleRead; t.spill += s.spill; t.input += s.input
      t.output += s.output
    }
    t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Counters.JobGroup)))
      .getOrElse(Counters.NoGroup)
    val s = sums(g)
    s.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = sums(stageGroup.getOrElse(e.stageInfo.stageId, Counters.NoGroup))
    s.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = sums(stageGroup.getOrElse(e.stageId, Counters.NoGroup))
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }
}

object Counters {
  /** Jobs launched outside any span: set-up, warm-up, untraced passes. */
  val NoGroup = "(none)"

  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroup = "spark.jobGroup.id"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case RawJson(s) => s
    case x => str(x.toString)
  }

  final case class RawJson(text: String)
}
