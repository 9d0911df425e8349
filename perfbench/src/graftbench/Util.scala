package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Latency summaries, a small JSON writer and filesystem helpers. */
object Util {

  def now(): Long = System.nanoTime()
  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Nearest-rank percentile of an already sorted sample. */
  def pct(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    val rank = math.ceil(q / 100.0 * sorted.size).toInt
    sorted(math.min(sorted.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Iterable[Double]): Double = pct(xs.toIndexedSeq.sorted, 50)

  /** The highest percentile with at least ten samples above it: the
    * value ranked eleventh from the top, as a percentile of the sample.
    * Never below the median; the median alone when there are ten
    * samples or fewer.
    */
  def tail(sorted: IndexedSeq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n <= 10) (50.0, pct(sorted, 50))
    else {
      val q = 100.0 * (n - 10) / n
      if (q <= 50.0) (50.0, pct(sorted, 50)) else (q, sorted(n - 11))
    }
  }

  final case class Latency(n: Int, p50: Double, tailPct: Double, tail: Double)

  def latency(samples: Iterable[Double]): Latency = {
    val s = samples.toIndexedSeq.sorted
    val (q, t) = tail(s)
    Latency(s.size, pct(s, 50), q, t)
  }

  // ---- JSON -----------------------------------------------------------

  def json(v: Any): String = v match {
    case null                    => "null"
    case s: String               => quote(s)
    case b: Boolean              => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double               => d.toString
    case n: Int                  => n.toString
    case n: Long                 => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]         => xs.map(json).mkString("[", ",", "]")
    case o                       => quote(o.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb ++= "\\\""
      case '\\'         => sb ++= "\\\\"
      case '\n'         => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c            => sb += c
    }
    sb += '"'
    sb.toString
  }

  // ---- files ----------------------------------------------------------

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def freshDir(parent: String, name: String): String = {
    val d = new File(parent, name)
    deleteRecursively(d)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Regular files under `root` (checksum sidecars included): path →
    * (size, modification time).
    */
  def snapshotDir(root: String): Map[String, (Long, Long)] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(x => Files.isRegularFile(x))
        .map(x => x.toString -> (Files.size(x), Files.getLastModifiedTime(x).toMillis))
        .toMap
      finally s.close()
    }
  }

  final case class DirDiff(filesWritten: Int, bytesWritten: Long, filesDeleted: Int)

  /** Files created or rewritten, and files removed, between two
    * snapshots. Checksum sidecars count as files like any other.
    */
  def diff(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): DirDiff = {
    val written = after.filter { case (k, v) => !before.get(k).contains(v) }
    DirDiff(written.size, written.values.map(_._1).sum, before.keySet.diff(after.keySet).size)
  }

  def dirBytes(root: String, suffix: String = ".parquet"): Long =
    snapshotDir(root).collect { case (k, (n, _)) if k.endsWith(suffix) => n }.sum
}
