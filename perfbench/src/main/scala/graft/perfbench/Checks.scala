package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Correctness checks run on every benchmark run. Each check adds what it
  * tried to `attempted` and every miss to `failed`, so `failed_frac` is
  * failed ÷ attempted over the whole run; `misses` keeps a readable line
  * per miss for the run record.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val misses = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(ok: Boolean, what: => String): Unit = count(1, if (ok) 0 else 1, what)

  def count(tried: Long, missed: Long, what: => String): Unit = {
    attempted += tried
    failed += missed
    if (missed > 0) misses += what
  }

  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** Parsed-doc count and per-node-type census of a summaries table
    * against the generator's bookkeeping for the same window.
    */
  def summaries(summary: DataFrame, exp: Corpus.Expected): Unit = {
    val parsed = summary.count()
    count(exp.parsed, math.abs(exp.parsed - parsed),
      s"parsed docs: $parsed, generator parsed ${exp.parsed}")
    val got = Checks.census(summary).map(r => r.nodeType -> r).toMap
    val want = exp.census.map(r => r.nodeType -> r).toMap
    (got.keySet ++ want.keySet).toSeq.sorted.foreach { t =>
      check(got.get(t) == want.get(t), s"census $t: ${got.get(t)} vs generator ${want.get(t)}")
    }
  }

  /** A report's header `queries`/`users`/`days` cells against counts
    * derived from `fate`/`failed` over the window.
    */
  def header(cells: Map[String, String], exp: Corpus.Expected): Unit =
    Seq("queries" -> exp.queries, "users" -> exp.users, "days" -> exp.days).foreach {
      case (k, want) =>
        val got = cells.get(k)
        check(got.contains(want.toString), s"header $k: ${got.getOrElse("missing")} vs generator $want")
    }

  /** The committed sheet row for (docs, name), when the sheet has one. */
  def sheet(sheet: Map[(Int, String), (Long, Long)], docs: Int, name: String,
      rows: Long, sum: Long): Unit =
    sheet.get((docs, name)).foreach { case (wantRows, wantSum) =>
      check(rows == wantRows && sum == wantSum,
        s"sheet $name@$docs: rows=$rows checksum=$sum vs committed rows=$wantRows checksum=$wantSum")
    }
}

object Checks {

  /** The census the `ingest_flatten_census` gate computes, over a summaries
    * table instead of the shared corpus.
    */
  def census(summary: DataFrame): Seq[Corpus.CensusRow] =
    summary.select(col("query_id"), explode(col("plan_nodes")).as("n"))
      .select(col("query_id"), col("n.node_type").as("node_type"),
        (col("n.dfs_order").cast("long") * 31 + col("n.depth").cast("long") * 7
          + col("n.subtree_end").cast("long") * 13
          + col("n.fragment_idx").cast("long") * 3 + 1).as("term"),
        when(col("n.table_name").isNotNull, crc32(encode(col("n.table_name"), "UTF-8")))
          .otherwise(lit(0L)).as("tcrc"))
      .groupBy(col("node_type"), col("query_id"))
      .agg(count(lit(1)).as("pn"), sum(col("term")).as("pt"), sum(col("tcrc")).as("pc"))
      .groupBy(col("node_type"))
      .agg(sum(col("pn")), count(lit(1)), sum(col("pt")), sum(col("pc")))
      .collect().toSeq
      .map(r => Corpus.CensusRow(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_.nodeType)

  /** Order-insensitive checksum of result rows. Floating values are
    * compared at five significant digits, so a different summation order
    * inside Spark cannot flip it while a wrong value still does.
    */
  def checksum(rows: Iterable[Row]): Long = {
    val crc = new java.util.zip.CRC32
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.4e", Double.box(d))
      case f: Float => cell(f.toDouble)
      case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
      case x => x.toString
    }
    rows.iterator.map { r =>
      crc.reset()
      crc.update(r.toSeq.map(cell).mkString("\u0001").getBytes("UTF-8"))
      crc.getValue
    }.sum
  }

  /** The committed per-analyzer sheet: `docs name rows checksum` per line. */
  def loadSheet(): Map[(Int, String), (Long, Long)] =
    Option(getClass.getResourceAsStream("/perfbench/sheet.tsv")).map { in =>
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filterNot(l => l.isBlank || l.startsWith("#"))
        .map(_.split("\t"))
        .map(f => (f(0).toInt, f(1)) -> ((f(2).toLong, f(3).toLong)))
        .toMap
      finally in.close()
    }.getOrElse(Map.empty)
}
