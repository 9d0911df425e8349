package graft.operators

import scala.collection.mutable

import graft.functions.XxHash64Ref

/** Independent pure-Scala reference for the fine-dedup operators
  * ([[Winnowing]] fingerprints and [[SpanDedup]] spans), which hash
  * every gram with xxhash64 — their one hash family. DuckDB has no
  * Spark-compatible `xxhash64`, so the driver oracle for
  * `winnow_stats_xx` / `winnow_pairs_xx` / `dup_spans_xx` /
  * `dup_span_stats_xx` is computed HERE — from the documents alone,
  * with [[XxHash64Ref]] (written from the public xxHash spec) as the
  * only hash — and emitted as VALUES literals by
  * `SparkEntry.oracleSqlFor` (the `dedup_minhash_lsh` technique). This
  * file deliberately calls no Spark code; otherwise it would be no
  * oracle at all.
  *
  * Gram hashing matches Spark's `xxhash64(substring(text, pos, L))`
  * exactly: XXH64 with seed 42 over the gram's UTF-8 bytes, compared as
  * SIGNED 64-bit longs (Spark's LongType ordering). Positions and
  * lengths count Unicode CODE POINTS, like Spark's `substring`/`length`
  * — a plain `String.substring` would count UTF-16 units and silently
  * diverge on any document carrying an astral character.
  */
object FineDedupRef {

  /** Char offset of each code point, plus the end offset. */
  private def cpOffsets(text: String): Array[Int] = {
    val buf = new mutable.ArrayBuffer[Int](text.length + 1)
    var i = 0
    while (i < text.length) {
      buf += i
      i += Character.charCount(text.codePointAt(i))
    }
    buf += text.length
    buf.toArray
  }

  /** Code-point length (== Spark `length(text)`). */
  private def cpLen(cp: Array[Int]): Int = cp.length - 1

  /** XXH64 of the L-code-point gram at 1-based code-point `pos1`. */
  private def gramHash(text: String, cp: Array[Int], pos1: Int, len: Int): Long =
    XxHash64Ref.sparkString(text.substring(cp(pos1 - 1), cp(pos1 - 1 + len)))

  // ---- winnowing ----------------------------------------------------

  /** Selected winnowing fingerprints `(doc_id, pos, fp)`, replicating
    * `Winnowing.fingerprintsXx`: grams ordered by pos DESC, every full
    * window of `w` consecutive grams selects its min `(h, 10^12 − pos)`
    * (signed-long lexicographic — i.e. min hash, rightmost position on
    * ties), selections dedup per doc.
    */
  def winnowFingerprints(
      docs: Seq[(Long, String)],
      k: Int,
      w: Int): Seq[(Long, Long, Long)] =
    docs.flatMap { case (id, text) =>
      val cp = cpOffsets(text)
      val n = cpLen(cp) - k + 1
      if (n < w) Nil
      else {
        // scan order j = 0.. maps to pos = n − j (pos DESC); within a
        // window, smaller j == larger pos == smaller encoded position,
        // so keeping the FIRST strict minimum breaks ties rightmost
        val hs = Array.tabulate(n)(j => gramHash(text, cp, n - j, k))
        val sel = mutable.LinkedHashSet.empty[(Long, Long)]
        var j = 0
        while (j <= n - w) {
          var bi = j
          var m = j + 1
          while (m < j + w) {
            if (hs(m) < hs(bi)) bi = m
            m += 1
          }
          sel += (((n - bi).toLong, hs(bi)))
          j += 1
        }
        sel.toSeq.map { case (pos, fp) => (id, pos, fp) }
      }
    }

  /** Per-doc stats `(doc_id, n_fp, fp_xor)` over the selected
    * fingerprints — `fp_xor` = XOR of `xxhash64(pos, fp)`, matching
    * `Winnowing.fingerprintStatsXxFrom`. Sorted by doc_id.
    */
  def winnowStats(
      docs: Seq[(Long, String)],
      k: Int,
      w: Int): Seq[(Long, Long, Long)] =
    winnowStatsFrom(winnowFingerprints(docs, k, w))

  /** [[winnowStats]] over precomputed fingerprints — the one O(corpus
    * chars) hashing pass feeds both family consumers in `oracleSqlFor`.
    */
  def winnowStatsFrom(fps: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    fps
      .groupBy(_._1)
      .toSeq
      .map { case (id, fps) =>
        (id, fps.size.toLong,
          fps.map(t => XxHash64Ref.sparkLongs(Seq(t._2, t._3))).reduce(_ ^ _))
      }
      .sortBy(_._1)

  /** Doc pairs sharing ≥ `minShared` distinct fingerprint hashes,
    * `(a_id, b_id, n_shared)` with a < b, sorted — matching
    * `Winnowing.sharedFingerprintPairsFromPost` over the xx postings.
    */
  def winnowPairs(
      docs: Seq[(Long, String)],
      k: Int,
      w: Int,
      minShared: Int): Seq[(Long, Long, Long)] =
    winnowPairsFrom(winnowFingerprints(docs, k, w), minShared)

  /** [[winnowPairs]] over precomputed fingerprints. */
  def winnowPairsFrom(
      fps: Seq[(Long, Long, Long)],
      minShared: Int): Seq[(Long, Long, Long)] = {
    val postings = mutable.HashMap.empty[Long, mutable.SortedSet[Long]]
    fps.foreach { case (id, _, fp) =>
      postings.getOrElseUpdate(fp, mutable.SortedSet.empty[Long]) += id
    }
    val counts = mutable.HashMap.empty[(Long, Long), Long]
    postings.valuesIterator.foreach { ds =>
      val arr = ds.toArray
      var i = 0
      while (i < arr.length) {
        var j = i + 1
        while (j < arr.length) {
          val key = (arr(i), arr(j))
          counts(key) = counts.getOrElse(key, 0L) + 1L
          j += 1
        }
        i += 1
      }
    }
    counts.toSeq
      .collect { case ((a, b), n) if n >= minShared => (a, b, n) }
      .sortBy(t => (t._1, t._2))
  }

  // ---- span-level dedup ---------------------------------------------

  /** Maximal cross-document duplicated spans `(doc_id, span_start,
    * span_len)` replicating `SpanDedup.spanFrameXx` (uncapped): a gram
    * position survives iff its hash occurs in more than one distinct
    * document; per doc, stride-1 position runs collapse to one span of
    * length (maxPos − minPos + L). Sorted by (doc_id, span_start).
    */
  def spans(docs: Seq[(Long, String)], gramLen: Int): Seq[(Long, Long, Long)] = {
    val cps = docs.map { case (id, text) => (id, text, cpOffsets(text)) }
    // gram hash → (first doc seen, cross-doc?)
    val seen = mutable.HashMap.empty[Long, (Long, Boolean)]
    cps.foreach { case (id, text, cp) =>
      var pos = 1
      while (pos <= cpLen(cp) - gramLen + 1) {
        val h = gramHash(text, cp, pos, gramLen)
        seen.get(h) match {
          case None => seen(h) = (id, false)
          case Some((d, cross)) => if (!cross && d != id) seen(h) = (d, true)
        }
        pos += 1
      }
    }
    cps.flatMap { case (id, text, cp) =>
      val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
      var runStart = -1
      var prev = -2
      def close(lastPos: Int): Unit =
        if (runStart > 0)
          out += ((id, runStart.toLong, (lastPos - runStart + gramLen).toLong))
      var pos = 1
      while (pos <= cpLen(cp) - gramLen + 1) {
        if (seen(gramHash(text, cp, pos, gramLen))._2) {
          if (pos != prev + 1) { close(prev); runStart = pos }
          prev = pos
        }
        pos += 1
      }
      close(prev)
      out
    }.sortBy(t => (t._1, t._2))
  }

  /** Per-doc audit `(doc_id, n_spans, dup_chars)` over [[spans]] —
    * span count plus the UNIONED duplicated character count (maximal
    * islands can overlap as character ranges), matching
    * `SpanDedup.spanStatsFrom` before its join to `documents` (the
    * per-mille division happens in the oracle SQL against the real
    * n_chars column). Sorted by doc_id.
    */
  def spanStats(docs: Seq[(Long, String)], gramLen: Int): Seq[(Long, Long, Long)] =
    spanStatsFrom(spans(docs, gramLen))

  /** [[spanStats]] over a precomputed span frame. */
  def spanStatsFrom(sp: Seq[(Long, Long, Long)]): Seq[(Long, Long, Long)] =
    sp
      .groupBy(_._1)
      .toSeq
      .map { case (id, ss) =>
        val intervals = ss.map(t => (t._2, t._2 + t._3)).sortBy(_._1)
        var dup = 0L
        var end = Long.MinValue
        var start = Long.MinValue
        intervals.foreach { case (s, e) =>
          if (s > end) {
            if (end != Long.MinValue) dup += end - start
            start = s; end = e
          } else if (e > end) end = e
        }
        if (end != Long.MinValue) dup += end - start
        (id, ss.size.toLong, dup)
      }
      .sortBy(_._1)
}
