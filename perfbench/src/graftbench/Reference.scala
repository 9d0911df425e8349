package graftbench

import scala.collection.mutable

import graftbench.Inputs.{Doc, Reading}

/** Independent expectations, computed in plain Scala from the generated
  * inputs. Nothing here calls graft: the sensor placement, the geohash
  * and quadkey encodings, the bbox cover rule and BM25 are restated from
  * their specifications so that a change in graft's own versions shows
  * up as a mismatch.
  */
object Reference {

  // ---- sensors and geo keys ------------------------------------------------

  /** Reading → sensor: `user_id % 50` on a 10×5 grid in the Antwerp box. */
  val Sensors = 50
  def sensorLat(c: Int): Double = 51.18 + (c % 10) * 0.012
  def sensorLon(c: Int): Double = 4.32 + (c / 10) * 0.035

  private val Base32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  def geohash(lat: Double, lon: Double, precision: Int): String = {
    val (latIdx, lonIdx) = (gridIndex(lat + 90, 180, latBits(precision)), gridIndex(lon + 180, 360, lonBits(precision)))
    geohashOf(latIdx, lonIdx, precision)
  }

  private def latBits(p: Int) = 5 * p / 2
  private def lonBits(p: Int) = (5 * p + 1) / 2

  /** Cell index of `v` in [0, range) split into 2^bits cells, by bisection
    * (the geohash rule: a value on a midpoint goes to the upper half).
    */
  private def gridIndex(v: Double, range: Double, bits: Int): Long = {
    var lo = 0.0; var hi = range; var idx = 0L
    for (_ <- 0 until bits) {
      val mid = (lo + hi) / 2
      if (v >= mid) { idx = (idx << 1) | 1; lo = mid } else { idx = idx << 1; hi = mid }
    }
    idx
  }

  /** Interleave lon/lat index bits, lon first, five bits per character. */
  private def geohashOf(latIdx: Long, lonIdx: Long, p: Int): String = {
    val sb = new StringBuilder
    var lb = latBits(p); var ob = lonBits(p); var isLon = true; var ch = 0; var n = 0
    while (sb.length < p) {
      val bit = if (isLon) { ob -= 1; (lonIdx >> ob) & 1 } else { lb -= 1; (latIdx >> lb) & 1 }
      ch = (ch << 1) | bit.toInt; n += 1; isLon = !isLon
      if (n == 5) { sb += Base32(ch); ch = 0; n = 0 }
    }
    sb.toString
  }

  private def tile(lat: Double, lon: Double, zoom: Int): (Int, Int) = {
    val n = 1 << zoom
    val x = math.floor((lon + 180.0) / 360.0 * n).toInt
    val r = math.toRadians(lat)
    val y = math.floor((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * n).toInt
    (math.max(0, math.min(n - 1, x)), math.max(0, math.min(n - 1, y)))
  }

  private def quadkeyOf(x: Int, y: Int, zoom: Int): String =
    (zoom to 1 by -1).map { i =>
      val m = 1 << (i - 1)
      ('0' + (if ((x & m) != 0) 1 else 0) + (if ((y & m) != 0) 2 else 0)).toChar
    }.mkString

  def quadkey(lat: Double, lon: Double, zoom: Int): String = {
    val (x, y) = tile(lat, lon, zoom)
    quadkeyOf(x, y, zoom)
  }

  val gh6: IndexedSeq[String] = (0 until Sensors).map(c => geohash(sensorLat(c), sensorLon(c), 6))
  val qk14: IndexedSeq[String] = (0 until Sensors).map(c => quadkey(sensorLat(c), sensorLon(c), 14))
  def sensorOf(r: Reading): Int = (r.userId % Sensors).toInt

  /** Prefixes whose union covers the bbox: cells at the finest
    * precision ≤ `precision` for which the bbox spans at most 256 cells.
    */
  def coverPrefixes(geoIndex: String, n: Double, w: Double, s: Double, e: Double, precision: Int): Seq[String] = {
    var p = precision
    while (p > 0) {
      val cells = geoIndex match {
        case "quadtiling" =>
          val (x0, y1) = tile(s, w, p); val (x1, y0) = tile(n, e, p)
          for (x <- x0 to x1; y <- y0 to y1) yield quadkeyOf(x, y, p)
        case _ =>
          val latStep = 180.0 / (1L << latBits(p)); val lonStep = 360.0 / (1L << lonBits(p))
          def idx(v: Double, step: Double, bits: Int) =
            math.min((1L << bits) - 1, math.max(0L, math.floor(v / step).toLong))
          for {
            li <- idx(s + 90, latStep, latBits(p)) to idx(n + 90, latStep, latBits(p))
            lo <- idx(w + 180, lonStep, lonBits(p)) to idx(e + 180, lonStep, lonBits(p))
          } yield geohashOf(li, lo, p)
      }
      if (cells.size <= 256) return cells
      p -= 1
    }
    Seq("")
  }

  // ---- views ---------------------------------------------------------------

  val ResolutionSec: Map[String, Long] = Map("min" -> 60L, "hour" -> 3600L, "day" -> 86400L)
  def trunc(sec: Long, res: String): Long = Math.floorDiv(sec, ResolutionSec(res)) * ResolutionSec(res)

  final class Cell(var cnt: Long, var sum: Double)

  /** Σcount / Σsum per (metric, geo key, truncated ts). */
  final class View(val resolution: String, val key: Int => String) {
    val cells = mutable.HashMap.empty[(String, String, Long), Cell]
    def add(r: Reading): Unit = {
      val c = cells.getOrElseUpdate((r.metric, key(sensorOf(r)), trunc(r.tsSec, resolution)), new Cell(0, 0.0))
      c.cnt += 1; c.sum += r.value
    }
    def addAll(rs: Iterable[Reading]): this.type = { rs.foreach(add); this }
  }

  def value(cnt: Long, sum: Double, agg: String): Double = agg match {
    case "count" => cnt.toDouble
    case "sum"   => round6(sum)
    case _       => round6(sum / cnt)
  }

  def round6(d: Double): Double = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Expected `history` rows: (epoch seconds, value) in time order over
    * [fromSec, toSec).
    */
  def history(v: View, metric: String, geos: Set[String], fromSec: Long, toSec: Long, agg: String): Seq[(String, Double)] =
    v.cells.toSeq
      .collect { case ((m, g, ts), c) if m == metric && geos(g) && ts >= fromSec && ts < toSec => ts -> c }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (ts, cs) => ts.toString -> value(cs.map(_._2.cnt).sum, cs.map(_._2.sum).sum, agg) }

  /** Expected `snapshot` rows: (cell, value) in key order at the
    * truncated instant, cells selected by prefix.
    */
  def snapshot(v: View, metric: String, prefixes: Seq[String], tsSec: Long, agg: String): Seq[(String, Double)] = {
    val t = trunc(tsSec, v.resolution)
    v.cells.toSeq
      .collect { case ((m, g, ts), c) if m == metric && ts == t && prefixes.exists(g.startsWith) => g -> c }
      .sortBy(_._1)
      .map { case (g, c) => g -> value(c.cnt, c.sum, agg) }
  }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 2e-6 + 1e-12 * math.abs(b)

  /** First difference between expected and actual (key, value) rows. */
  def compareRows(expected: Seq[(String, Double)], actual: Seq[(String, Double)]): Option[String] =
    if (expected.map(_._1) != actual.map(_._1))
      Some(s"keys differ: expected ${expected.size} ${expected.take(3).map(_._1)}..., got ${actual.size} ${actual.take(3).map(_._1)}...")
    else
      expected.zip(actual).collectFirst {
        case ((k, e), (_, a)) if !close(e, a) => s"value at $k: expected $e, got $a"
      }

  // ---- BM25 ----------------------------------------------------------------

  val K1 = 1.2
  val B = 0.75
  val PanelQueries = 8
  val QueryTerms = 4
  val TopK = 10

  def tokens(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  final case class Ranked(queryId: Long, rank: Int, docId: Long, score: Double)

  /** The corpus as the index should see it, kept up to date in place. */
  final class Corpus {
    private val tf = mutable.HashMap.empty[Long, Map[String, Int]]
    private val len = mutable.HashMap.empty[Long, Int]
    private val first = mutable.HashMap.empty[Long, Seq[String]]
    private val texts = mutable.HashMap.empty[Long, String]
    private val df = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    private var sumLen = 0L

    def put(d: Doc): Unit = {
      tf.get(d.id).foreach { old => old.keys.foreach(t => df(t) -= 1); sumLen -= len(d.id) }
      val toks = tokens(d.text)
      texts(d.id) = d.text
      tf(d.id) = toks.groupBy(identity).map { case (t, occ) => t -> occ.length }
      tf(d.id).keys.foreach(t => df(t) += 1)
      len(d.id) = toks.length
      sumLen += toks.length
      if (d.id < PanelQueries) first(d.id) = toks.take(QueryTerms).distinct.toSeq
    }

    def text(id: Long): String = texts(id)

    /** Distinct (doc, token) pairs: one posting each. */
    def postings: Long = tf.valuesIterator.map(_.size.toLong).sum

    /** Exact scores of every candidate per panel query. */
    def scores(): Map[Long, Map[Long, Double]] = {
      val n = tf.size.toDouble
      val avgLen = sumLen.toDouble / n
      first.toMap.map { case (q, terms) =>
        q -> tf.iterator.flatMap { case (id, f) =>
          val hits = terms.flatMap(t => f.get(t).map(t -> _))
          if (hits.isEmpty) None
          else Some(id -> hits.map { case (t, c) =>
            val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
            idf * c * (K1 + 1.0) / (c + K1 * (1.0 - B + B * len(id) / avgLen))
          }.sum)
        }.toMap
      }
    }
  }

  /** Check a top-k answer against exact scores, allowing any order among
    * documents whose scores tie to within rounding.
    */
  def compareTopK(scores: Map[Long, Map[Long, Double]], actual: Seq[Ranked]): Option[String] = {
    val byQuery = actual.groupBy(_.queryId)
    if (byQuery.keySet != scores.keySet) return Some(s"queries differ: ${byQuery.keySet} vs ${scores.keySet}")
    scores.toSeq.sortBy(_._1).iterator.flatMap { case (q, sc) =>
      val got = byQuery(q).sortBy(_.rank)
      val want = sc.toSeq.sortBy { case (d, s) => (-s, d) }.take(TopK)
      val kth = want.last._2
      if (got.size != want.size) Some(s"query $q: ${got.size} results, expected ${want.size}")
      else if (got.map(_.rank) != (1 to got.size)) Some(s"query $q: ranks ${got.map(_.rank)}")
      else got.collectFirst {
        case r if !sc.get(r.docId).exists(s => close(round6(s), r.score)) =>
          s"query $q doc ${r.docId}: score ${r.score}, expected ${sc.get(r.docId)}"
      }.orElse(got.sliding(2).collectFirst {
        case Seq(a, b) if a.score < b.score => s"query $q: scores not descending at rank ${a.rank}"
      }).orElse(want.collectFirst {
        case (d, s) if s > kth + 1e-6 && !got.exists(_.docId == d) => s"query $q: doc $d (score $s) missing"
      })
    }.nextOption()
  }
}
