package graft.perfbench

import java.io.File
import graft.ingest.QueryInfoCorpus

/** The benchmark's seeded input: the document window `[seed·N, seed·N+N)`
  * of [[QueryInfoCorpus]], written as one gzipped QueryInfo file per
  * document into a directory of the benchmark's own, keyed by
  * (seed, N, generator version). The program only ever sees these files.
  *
  * Alongside the files it derives what a correct extract must yield from
  * the generator's own bookkeeping (`document(i)._2`, `fate`, `failed`),
  * never from the parser.
  */
object Corpus {

  final case class CensusRow(nodeType: String, nNodes: Long, nQueries: Long,
      checksum: Long, tableCrcSum: Long)

  /** What extract and the header metrics must report for the window. */
  final case class Expected(parsed: Long, queries: Long, users: Long, days: Long,
      census: Seq[CensusRow])

  final case class Written(dir: File, gzBytes: Long, expected: Expected)

  def dirName(seed: Long, n: Int): String =
    s"qi_v${QueryInfoCorpus.Version}_s${seed}_n$n"

  /** Per-document bookkeeping: per node type (count, checksum, table CRC sum). */
  private def book(i: Long): Map[String, (Long, Long, Long)] = {
    val crc = new java.util.zip.CRC32
    QueryInfoCorpus.document(i)._2.groupBy(_.nodeType).map { case (t, ns) =>
      val term = ns.map(n => QueryInfoCorpus.nodeTerm(n.dfsOrder, n.depth, n.subtreeEnd,
        n.fragmentIdx)).sum
      val tcrc = ns.flatMap(_.tableName).map { name =>
        crc.reset(); crc.update(name.getBytes("UTF-8")); crc.getValue
      }.sum
      t -> ((ns.size.toLong, term, tcrc))
    }
  }

  def expected(seed: Long, n: Int): Expected = {
    val first = seed * n
    val books = new Array[Map[String, (Long, Long, Long)]](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(k => books(k) = book(first + k))
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long, Long, Long)]
    books.foreach(_.foreach { case (t, (c, s, tc)) =>
      val (c0, q0, s0, tc0) = acc.getOrElse(t, (0L, 0L, 0L, 0L))
      acc(t) = (c0 + c, q0 + 1, s0 + s, tc0 + tc)
    })
    val ids = first until first + n
    val parsed = ids.filter(QueryInfoCorpus.fate(_) == QueryInfoCorpus.Parsed)
    val analyzed = parsed.filterNot(QueryInfoCorpus.failed)
    Expected(parsed.size.toLong, analyzed.size.toLong,
      analyzed.map(_ % 17).distinct.size.toLong, // user = "user" + i % 17
      analyzed.map(i => (i % 28) / 10).distinct.size.toLong, // day of the query id
      acc.toSeq.map { case (t, (c, q, s, tc)) => CensusRow(t, c, q, s, tc) }.sortBy(_.nodeType))
  }

  /** Write the window under `root`, replacing any earlier copy. */
  def write(root: File, seed: Long, n: Int): Written = {
    val dir = new File(root, dirName(seed, n))
    Files.deleteRecursively(dir)
    dir.mkdirs()
    val first = seed * n
    java.util.stream.LongStream.range(first, first + n).parallel().forEach { i =>
      val f = new File(dir, f"q$i%012d.json.gz")
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.BufferedOutputStream(new java.io.FileOutputStream(f), 1 << 16))
      try out.write(QueryInfoCorpus.documentBytes(i).getBytes("UTF-8")) finally out.close()
    }
    Written(dir, Files.sizeOf(dir), expected(seed, n))
  }
}

object Files {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def sizeOf(f: File, keep: File => Boolean = _ => true): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf(_, keep)).sum).getOrElse(0L)
    else if (keep(f)) f.length()
    else 0L
}
