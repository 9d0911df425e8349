package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.XxHash64Ref
import graft.operators.{Bpe, BpeRef, CorpusSignals, FineDedupRef, SpanDedup, UnitDedup, Winnowing}

/** Semantic checks for the unit-level dedup, winnowing fingerprints,
  * BPE encode, and per-source report operators — the oracle gate proves
  * engine parity; these prove the SEMANTICS on crafted inputs (including
  * an independent in-spec winnowing reference).
  */
class FineDedupSpec extends AnyFunSuite {
  import SparkTestBase._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // ---- unit dedup ----------------------------------------------------

  // 8 words exactly — one full unit
  private val Shared = "alpha beta gamma delta epsilon zeta eta theta"

  test("unitDedup removes cross-doc blocks, keeps within-doc repeats and unique blocks") {
    val uniq1 = "one two three four five six seven eight"
    val uniq2 = "nine ten eleven twelve thirteen fourteen fifteen sixteen"
    val d = docs(
      0L -> s"$Shared $uniq1", // unit0 shared with doc 1, unit1 unique
      1L -> s"$uniq2 $Shared", // unit1 shared with doc 0
      2L -> s"$uniq1 $uniq1") // within-doc repeat: NOT cross-doc... but see doc 0!
    // careful: uniq1 appears in doc 0 AND twice in doc 2 -> cross-doc, removed everywhere
    val r = UnitDedup.dedupUnits(d).collect().map(r => r.getLong(0) -> r).toMap

    assert(r(0L).getAs[Long]("n_units") === 2)
    assert(r(0L).getAs[Long]("n_removed") === 2) // both units cross-doc
    assert(r(0L).getAs[String]("kept_md5") === md5hex(""))

    assert(r(1L).getAs[Long]("n_units") === 2)
    assert(r(1L).getAs[Long]("n_removed") === 1) // uniq2 survives
    assert(r(1L).getAs[String]("kept_md5") === md5hex(uniq2))

    assert(r(2L).getAs[Long]("n_units") === 2)
    assert(r(2L).getAs[Long]("n_removed") === 2) // uniq1 is in doc 0 too
  }

  test("unitDedup: within-doc-only repeat is not removed; partial tail unit handled") {
    val d = docs(
      0L -> s"$Shared $Shared tail", // two identical units + 1-word tail
      1L -> "totally different words here completely unrelated block text")
    val r = UnitDedup.dedupUnits(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(r(0L).getAs[Long]("n_units") === 3)
    assert(r(0L).getAs[Long]("n_removed") === 0) // repeat is within-doc only
    assert(r(0L).getAs[String]("kept_md5") === md5hex(s"$Shared $Shared tail"))
    assert(r(1L).getAs[Long]("n_removed") === 0)
  }

  test("unitDedup maxOccurrences cap excludes boilerplate blocks from removal") {
    val d = docs(
      0L -> Shared, 1L -> Shared, 2L -> Shared, 3L -> Shared,
      4L -> "unique words in this one document only eight")
    val uncapped = UnitDedup.dedupUnits(d).collect()
    assert(uncapped.count(_.getAs[Long]("n_removed") > 0) === 4)
    // cap=3: the shared unit has 4 occurrences -> too hot, kept everywhere
    val capped = UnitDedup.dedupUnits(d, maxOccurrences = 3).collect()
    assert(capped.forall(_.getAs[Long]("n_removed") === 0))
  }

  test("unitDedup drops zero-token docs from output") {
    val d = docs(0L -> "   ", 1L -> "some words")
    val ids = UnitDedup.dedupUnits(d).collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L))
  }

  // ---- winnowing -----------------------------------------------------

  /** Independent in-spec winnowing reference: every full window of w
    * consecutive k-gram hashes (xxhash64 longs, signed order) selects
    * its min hash, rightmost position on ties; selections dedup to
    * (pos, hash). ASCII texts only: positions are String indices.
    */
  private def winnowRef(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val n = text.length - k + 1
    if (n < w) Set.empty
    else {
      val hs = (1 to n).map(p =>
        p.toLong -> XxHash64Ref.sparkString(text.substring(p - 1, p - 1 + k)))
      (0 to n - w).map { s =>
        val win = hs.slice(s, s + w)
        val minH = win.map(_._2).min
        win.filter(_._2 == minH).maxBy(_._1) // rightmost min
      }.toSet
    }
  }

  test("fingerprints match an independent reference (incl. rightmost tie-break)") {
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog near the river bank",
      1L -> "aaaaaaaaaaaaaaaaaaaa", // all grams identical: pure tie-break test
      2L -> "abcabcabcabcabcabcabc", // period-3 repeats: heavy ties
      3L -> "short") // < k: no grams at all
    val got = Winnowing.fingerprintsXx(docs(texts: _*))
      .collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    for ((id, text) <- texts) {
      val want = winnowRef(text, Winnowing.GramLen, Winnowing.WindowGrams)
      assert(got.getOrElse(id, Set.empty) === want, s"doc $id")
    }
  }

  test("winnowing guarantee: docs sharing a substring of length >= k+w-1 share a fingerprint") {
    val common = "xqzjvwkpyhbndgrtmcfu" // 20 chars >= k+w-1 = 19, improbable elsewhere
    val d = docs(
      0L -> s"left context padding $common right padding words",
      1L -> s"completely different beginning $common and a different end")
    val fps = Winnowing.fingerprintsXx(d).collect().groupBy(_.getLong(0))
    val h0 = fps(0L).map(_.getLong(2)).toSet
    val h1 = fps(1L).map(_.getLong(2)).toSet
    assert((h0 & h1).nonEmpty)
  }

  test("sharedFingerprintPairs matches brute-force shared-hash counting; cap removes hot fps") {
    val shared = "a long enough shared passage that yields several fingerprints in both docs"
    // single source of truth for both the frame and the brute-force ref
    val texts = Map(
      0L -> s"first document prefix $shared and its own suffix material",
      1L -> s"second one starts differently $shared then ends another way",
      2L -> "entirely unrelated content with no common substrings at all here")
    val d = docs(texts.toSeq: _*)
    // brute-force expected: distinct shared hashes per pair
    val refFps = texts.map { case (id, t) =>
      id -> winnowRef(t, Winnowing.GramLen, Winnowing.WindowGrams).map(_._2)
    }
    val expected = (for {
      a <- texts.keys; b <- texts.keys if a < b
      n = (refFps(a) & refFps(b)).size if n >= Winnowing.MinShared
    } yield (a, b, n.toLong)).toSet
    val fp = Winnowing.fingerprintsXx(d)
    val got = Winnowing.sharedFingerprintPairsFrom(fp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.exists { case (a, b, _) => a == 0L && b == 1L }) // the planted overlap is found

    // cap=1: every cross-doc fingerprint has 2 postings -> all dropped
    val capped = Winnowing.sharedFingerprintPairsFrom(fp, maxPostings = 1).collect()
    assert(capped.isEmpty)
  }

  test("fingerprintStats digests agree with the fingerprint frame") {
    val d = docs(0L -> "the quick brown fox jumps over the lazy dog")
    val frame = Winnowing.fingerprintsXx(d)
    val fp = frame.collect().map(r => (r.getLong(1), r.getLong(2)))
    val stats = Winnowing.fingerprintStatsXxFrom(frame).collect().head
    assert(stats.getAs[Long]("n_fp") === fp.length.toLong)
    assert(stats.getAs[Long]("fp_xor") ===
      fp.map { case (p, h) => XxHash64Ref.sparkLongs(Seq(p, h)) }.reduce(_ ^ _))
    assert((stats.getLong(0), stats.getLong(1), stats.getLong(2)) ===
      FineDedupRef.winnowStats(
        Seq(0L -> "the quick brown fox jumps over the lazy dog"),
        Winnowing.GramLen, Winnowing.WindowGrams).head)
  }

  // ---- xxhash64 production twins vs FineDedupRef ---------------------

  private val XxTexts = Seq(
    0L -> "the quick brown fox jumps over the lazy dog near the river bank",
    1L -> "aaaaaaaaaaaaaaaaaaaa", // all grams identical: pure tie-break test
    2L -> "abcabcabcabcabcabcabc", // period-3 repeats: heavy ties
    3L -> "short", // < k: no grams at all
    4L -> "the quick brown fox jumps over the lazy dog and keeps running far",
    // astral char (2 UTF-16 units, ONE code point): Spark substring/
    // length count code points, so the pure-Scala reference must too
    5L -> "emoji 🌍 gram positions count code points not utf16 units here")

  test("fingerprintsXx matches the pure-Scala FineDedupRef selection") {
    val got = Winnowing.fingerprintsXx(docs(XxTexts: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = FineDedupRef
      .winnowFingerprints(XxTexts, Winnowing.GramLen, Winnowing.WindowGrams).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("xx stats and pairs match FineDedupRef end to end") {
    val shared = "a long enough shared passage that yields several fingerprints in both docs"
    val texts = Seq(
      0L -> s"first document prefix $shared and its own suffix material",
      1L -> s"second one starts differently $shared then ends another way",
      2L -> "entirely unrelated content with no common substrings at all here")
    val d = docs(texts: _*)
    val gotStats = Winnowing.fingerprintStatsXxFrom(Winnowing.fingerprintsXx(d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotStats === FineDedupRef.winnowStats(texts, Winnowing.GramLen, Winnowing.WindowGrams))
    val gotPairs = Winnowing
      .sharedFingerprintPairsFrom(Winnowing.fingerprintsXx(d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val wantPairs = FineDedupRef.winnowPairs(
      texts, Winnowing.GramLen, Winnowing.WindowGrams, Winnowing.MinShared)
    assert(gotPairs === wantPairs)
    assert(gotPairs.exists { case (a, b, _) => a == 0L && b == 1L })
  }

  test("spanFrameXx equals the FineDedupRef spans") {
    val boiler = "this exact forty-character boilerplate span!" // 44 chars >= GramLen
    val texts = Seq(
      0L -> s"unique leading content then $boiler trailing tail one",
      1L -> s"other document with $boiler plus entirely different ending",
      2L -> "no duplicated material in this document at all, fully unique text here")
    val d = docs(texts: _*)
    val xxSpans = SpanDedup.spanFrameXx(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(xxSpans === FineDedupRef.spans(texts, SpanDedup.GramLen).toSet)
    assert(xxSpans.map(_._1) === Set(0L, 1L))
  }

  test("FineDedupRef.spanStats unions overlapping islands like spanStatsFrom") {
    val boiler = "this exact forty-character boilerplate span!"
    val texts = Seq(
      0L -> s"aa $boiler zz $boiler qq", // two islands in one doc
      1L -> s"bb $boiler yy",
      2L -> s"cc $boiler xx $boiler pp")
    val d = texts.map { case (id, t) => (id, t, t.length.toLong) }
    import SparkTestBase.spark.implicits._
    val ddf = d.toDF("doc_id", "text", "n_chars")
    val got = SpanDedup.spanStatsFrom(SpanDedup.spanFrameXx(ddf), ddf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === FineDedupRef.spanStats(texts, SpanDedup.GramLen))
  }

  // ---- 64-bit SimHash Hamming near-dup -------------------------------

  test("simhash64 pairs == brute-force Hamming filter (exact)") {
    import SparkTestBase.spark.implicits._
    import graft.operators.Dedup
    // long docs: simhash's near-dup property needs many features per
    // signature bit, so the fixture uses 300-token documents
    val base = (1 to 300).map(i => s"tok$i").mkString(" ")
    val texts = Seq(
      0L -> base,
      1L -> base, // byte-identical: Hamming 0, guaranteed pair
      2L -> base.replace("tok42 ", "zzz42 "), // near-identical (one token swap)
      3L -> (1 to 300).map(i => s"other$i").mkString(" ")) // disjoint vocabulary
    val d = texts.toDF("doc_id", "text")
    val sig64 = Dedup.simhash64(d)
    val rows = sig64.collect()

    // EXACT spec: reported pairs == { (a,b) : bruteHamming(a,b) <= 3 },
    // with the reported distances matching the brute recount — both the
    // pigeonhole candidate completeness and the verify step, no slack
    val words = rows.map(r => r.getLong(0) -> (1 to 4).map(r.getLong)).toMap
    def brute(a: Long, b: Long): Long =
      words(a).zip(words(b)).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum.toLong
    val expected = (for {
      a <- texts.map(_._1); b <- texts.map(_._1) if a < b
      h = brute(a, b) if h <= 3
    } yield (a, b) -> h).toMap
    val got = Dedup.simhashNearDupPairsFrom(sig64, maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got === expected)
    assert(got.get((0L, 1L)).contains(0L), "identical docs must pair at Hamming 0")
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L }, "disjoint doc flagged")

    // the scale dial: maxHamming=1 uses two 32-bit slices — exact
    // against brute force too (pigeonhole with wider slices)
    val expected1 = expected.filter(_._2 <= 1L)
    val got1 = Dedup.simhashNearDupPairsFrom(sig64, maxHamming = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got1 === expected1)
  }

  // ---- BPE encode ----------------------------------------------------

  test("encodeStats with no merges counts characters; with learned merges counts contract") {
    import spark.implicits._
    val d = Seq(
      (0L, "low low lower", "en", "web"),
      (1L, "lowest low", "en", "book"))
      .toDF("doc_id", "text", "lang", "source")
    val zero = Bpe.encodeStatsWith(d, Nil).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // no merges: every word tokenizes to its char count
    assert(zero(("en", "web")).getAs[Long]("n_tokens") === (3 + 3 + 5).toLong)
    assert(zero(("en", "web")).getAs[Long]("n_words") === 3L)
    assert(zero(("en", "book")).getAs[Long]("n_tokens") === (6 + 3).toLong)
    assert(zero(("en", "book")).getAs[Long]("n_docs") === 1L)

    // learned merges shrink (or preserve) token counts, never grow
    val learned = Bpe.encodeStats(d, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_tokens")).toMap
    assert(learned(("en", "web")) < (3 + 3 + 5).toLong)
    assert(learned(("en", "book")) <= (6 + 3).toLong)
  }

  test("encodeStats equals the independent BpeRef on a crafted corpus") {
    import spark.implicits._
    val rows = Seq(
      (0L, "ab ab abc", "en", "web"),
      (1L, "abc abc cd", "en", "book"),
      (2L, "cd cd cd ab", "fr", "web"),
      (3L, "", "fr", "book")) // zero tokens: no group contribution
    val d = rows.toDF("doc_id", "text", "lang", "source")
    val got = Bpe.encodeStats(d, rounds = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(t => (t._1, t._2))
    val want = BpeRef.encodeStats(rows, rounds = 3)
    assert(got === want)
  }

  // ---- survivor selection --------------------------------------------

  test("survivors picks highest quality, NULLS LAST, doc_id tiebreak") {
    import SparkTestBase.spark.implicits._
    import graft.operators.Dedup
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1: quality 0.2, 0.9, NULL
      (5L, 5L), (6L, 5L)) // cluster 5: tied quality -> min doc_id wins
      .toDF("doc_id", "canonical_id")
    val quality = Seq(
      (1L, Some(0.2)), (2L, Some(0.9)), (3L, None),
      (5L, Some(0.7)), (6L, Some(0.7)))
      .toDF("doc_id", "quality")
    val r = Dedup.survivors(clusters, quality).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[Long]("n_members") === 3L)
    assert(r(1L).getAs[Long]("survivor_id") === 2L) // 0.9 beats 0.2 and NULL
    assert(r(1L).getAs[Double]("survivor_quality") === 0.9)
    assert(r(5L).getAs[Long]("survivor_id") === 5L) // tie -> lower doc_id

    // remap table: every member maps to its cluster's survivor; exactly
    // one is_survivor row per cluster and it is a self-map
    val m = Dedup.canonicalMap(clusters, quality).collect()
    assert(m.length === 5)
    val byDoc = m.map(x => x.getLong(0) -> x).toMap
    Seq(1L, 2L, 3L).foreach(d => assert(byDoc(d).getLong(1) === 2L))
    Seq(5L, 6L).foreach(d => assert(byDoc(d).getLong(1) === 5L))
    assert(m.count(_.getInt(2) == 1) === 2)
    m.filter(_.getInt(2) == 1).foreach(x => assert(x.getLong(0) === x.getLong(1)))
  }

  test("all new operators handle an empty corpus without error") {
    import SparkTestBase.spark.implicits._
    import graft.operators.{Bpe, Dedup, Multimodal}
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(UnitDedup.dedupUnits(empty).collect().isEmpty)
    assert(Winnowing.fingerprintStatsXxFrom(Winnowing.fingerprintsXx(empty)).collect().isEmpty)
    assert(Winnowing.sharedFingerprintPairsFrom(Winnowing.fingerprintsXx(empty)).collect().isEmpty)
    assert(SpanDedup.spanFrameXx(empty).collect().isEmpty)
    assert(FineDedupRef.winnowStats(Nil, 16, 4).isEmpty && FineDedupRef.spans(Nil, 40).isEmpty)
    assert(Dedup.simhashNearDupPairsFrom(Dedup.simhash64(empty)).collect().isEmpty)
    assert(Multimodal.pngPixelStats(Multimodal.synthesizePngAssets(empty)).collect().isEmpty)
    assert(graft.operators.GifPixels.gifPixelStats(
      graft.operators.GifPixels.synthesizeGifAssets(empty)).collect().isEmpty)
    assert(Multimodal.wavAudioStats(
      Multimodal.wavResample(Multimodal.synthesizeWavAssets(empty), 3)).collect().isEmpty)
    assert(Multimodal.bmpPixelStats(Multimodal.synthesizeBmpAssets(empty)).collect().isEmpty)
    val emptyFull = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(Bpe.encodeStats(emptyFull, rounds = 2).collect().isEmpty)
    assert(CorpusSignals.sourceReport(emptyFull).collect().isEmpty)
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "canonical_id")
    val noQuality = Seq.empty[(Long, Double)].toDF("doc_id", "quality")
    assert(Dedup.survivors(noClusters, noQuality).collect().isEmpty)
  }

  // ---- per-source report ---------------------------------------------

  test("sourceReport computes dup incidence and integer quality per source") {
    import spark.implicits._
    val d = Seq(
      // source "a": two identical docs (cross-dup) in two langs
      (0L, "the quick brown fox", "en", "a"),
      (1L, "the quick brown fox", "fr", "a"),
      // source "b": one doc duplicated into source "a"? no — unique; plus an empty doc
      (2L, "completely unique content here", "en", "b"),
      (3L, "", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val r = CorpusSignals.sourceReport(d).collect().map(r => r.getString(0) -> r).toMap

    val a = r("a")
    assert(a.getAs[Long]("n_docs") === 2L)
    assert(a.getAs[Long]("n_langs") === 2L)
    assert(a.getAs[Long]("n_dup_docs") === 2L)
    assert(a.getAs[Long]("n_words") === 8L)
    // per doc: nt=4, nstop=1 ("the") -> q = least(4,100)*10*(4-1) div 4 = 30
    assert(a.getAs[Long]("mean_q_permille") === 30L)

    val b = r("b")
    assert(b.getAs[Long]("n_docs") === 2L)
    assert(b.getAs[Long]("n_dup_docs") === 0L)
    // doc2: nt=4, nstop=0 -> 40; doc3 empty -> NULL q, contributes 0
    // mean = 40 div 2 = 20
    assert(b.getAs[Long]("mean_q_permille") === 20L)
  }
}
