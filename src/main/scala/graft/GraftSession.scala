package graft

import org.apache.spark.sql.SparkSession

/** The one place the repo builds a Spark session. Every entry point
  * (`Pipeline`, `Bench`, `Verify`, `ExplainDump`), the shared test
  * session and the fixture generators come through here, so the fixed
  * confs cannot drift between them:
  *   - `local[cpus]` with one shuffle partition per worker thread,
  *   - AQE on with `parallelismFirst` (partition coalescing keeps
  *     parallelism and ignores the advisory partition size),
  *   - UTC session time zone (the oracle compares wall-clock buckets),
  *   - `spark.sql.legacy.parquet.nanosAsLong`, so TIMESTAMP(NANOS)
  *     parquet is readable from first load (see `Tables.ensureNanosAsLong`,
  *     which only covers foreign sessions),
  *   - UI off and log level WARN.
  * Callers pick only the core count and the app name; `master` is for a
  * deployment address (`Pipeline`'s `SPARK_MASTER`).
  */
object GraftSession {

  def apply(appName: String, cpus: Int, master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Worker threads: `SPARK_GRAFT_CPUS` when set, else the caller's
    * `fallback`. */
  def envCpus(fallback: => Int): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), fallback)

  /** Fail loud on a garbled `SPARK_GRAFT_CPUS` instead of handing it to
    * the master string; exported-but-blank means unset, matching
    * `SPARK_GRAFT_STREAM_SHUFFLE`. */
  private[graft] def parseCpus(v: Option[String], fallback: => Int): Int =
    v.map(_.trim).filter(_.nonEmpty).map { raw =>
      val n = raw.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive int, got '$raw'"))
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive int, got $n")
      n
    }.getOrElse(fallback)
}
