package graft.perfbench

import java.lang.management.ManagementFactory

/** What the run needs to know about its own process and machine. */
object Host {

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** Spark worker threads: `SPARK_GRAFT_CPUS`, else `Pipeline.session()`'s default. */
  def sparkCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(math.max(2, cores - 1))

  /** Process user+sys CPU seconds, all threads. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Cumulative hypervisor steal seconds (/proc/stat aggregate row, field 8). */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    } catch { case _: Exception => Double.NaN }

  /** The `-Xmx` the JVM was started with, as given. */
  def xmx: String = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("-Xmx")).lastOption.map(_.drop(4))
      .getOrElse(s"${Runtime.getRuntime.maxMemory >> 20}m")
  }

  /** Seconds since the JVM started. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** Order statistics of a run's samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = pos.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, extremes, sample count, and the highest percentile that has
    * at least ten samples beyond it (none below 11 samples).
    */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val n = xs.size
    val p = if (n >= 11) Some(math.floor(100.0 * (n - 10) / n)) else None
    Map("median" -> median(xs), "min" -> xs.min, "max" -> xs.max, "n" -> n,
      "p" -> p, "p_value" -> p.map(pp => quantile(xs, pp / 100.0)))
  }
}
