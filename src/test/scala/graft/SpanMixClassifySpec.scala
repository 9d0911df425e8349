package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, SpanDedup, TextAnalysis}

/** Semantic checks for span-level dedup, mixture resampling, and the
  * hashed-classifier scorer — the oracle gate proves engine parity;
  * these prove the operators mean what they claim on crafted inputs.
  */
class SpanMixClassifySpec extends AnyFunSuite {
  import SparkTestBase._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // deterministic filler that shares no 20-gram with anything else:
  // concatenated md5-hex blocks keyed by (seed, block index), so no
  // window repeats within a seed or collides across seeds
  private def noise(seed: Char, n: Int): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Iterator
      .from(0)
      .flatMap(b => md.digest(s"$seed-$b".getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .take(n)
      .mkString
  }

  test("duplicatedSpans: one maximal span per doc covering the planted region") {
    val shared = "0123456789abcdefghijklmnopqrstuvwxyzABCD" // 40 chars
    val d = docs(
      0L -> (noise('x', 30) + shared + noise('y', 25)),
      1L -> (noise('z', 50) + shared + noise('w', 10)),
      2L -> noise('q', 120))
    val spans = SpanDedup.spanFrameXx(d, gramLen = 20).collect()
    // doc2 shares nothing; docs 0 and 1 each report exactly ONE maximal
    // island covering the 40-char planted span (21 surviving 20-gram
    // positions merged into one row), at the right offset
    assert(spans.map(_.getLong(0)).toSet === Set(0L, 1L))
    val byDoc = spans.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byDoc(0L) === ((31L, 40L))) // 1-based: after 30 noise chars
    assert(byDoc(1L) === ((51L, 40L)))
  }

  test("duplicatedSpans: two disjoint shared regions give two islands") {
    val s1 = "AAAAAAAAAAAAAAAAAAAA" // 20
    val s2 = "BBBBBBBBBBCCCCCCCCCC" // 20, distinct from s1
    val d = docs(
      0L -> (s1 + noise('m', 40) + s2),
      1L -> (s2 + noise('n', 40) + s1))
    val spans = SpanDedup.spanFrameXx(d, gramLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(spans.toSeq === Seq((0L, 1L, 20L), (0L, 61L, 20L), (1L, 1L, 20L), (1L, 61L, 20L)))
  }

  test("duplicatedSpans ignores repeats WITHIN a single document") {
    val rep = "DDDDDDDDDDEEEEEEEEEE" // appears twice in doc 0 only
    val d = docs(
      0L -> (rep + noise('p', 30) + rep),
      1L -> noise('r', 80))
    assert(SpanDedup.spanFrameXx(d, gramLen = 20).count() === 0L)
  }

  test("spanFrame maxOccurrences drops only grams hotter than the cap") {
    val hot  = "HHHHHHHHHHIIIIIIIIII" // 20 chars, planted in 4 docs
    val rare = "JJJJJJJJJJKKKKKKKKKK" // 20 chars, planted in 2 docs
    val d = docs(
      0L -> (hot + noise('a', 30)),
      1L -> (hot + noise('b', 30)),
      2L -> (hot + noise('c', 30)),
      3L -> (hot + noise('d', 30) + rare),
      4L -> (rare + noise('e', 30)))
    // uncapped: both planted grams form spans (docs 0-4 all appear)
    val all = SpanDedup.spanFrameXx(d, gramLen = 20).collect().map(_.getLong(0)).toSet
    assert(all === Set(0L, 1L, 2L, 3L, 4L))
    // cap 3: the hot gram (4 occurrences) is dropped, the rare one stays
    val capped = SpanDedup.spanFrameXx(d, gramLen = 20, maxOccurrences = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === Set((3L, 51L, 20L), (4L, 1L, 20L)))
  }

  test("mixtureResample: thresholds hit targets, binding stratum kept whole") {
    val corpus = graft.sources.Tables.load(spark, Sf001, "documents")
    val audit = Sampling.mixtureResample(corpus).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // thresholds never exceed 4096; kept counts never exceed stratum size
    audit.values.foreach { case (n, thr, kept) =>
      assert(thr >= 0L && thr <= 4096L && kept <= n)
    }
    // the binding (argmin n/w) stratum's threshold is ~4096 (floor slack
    // only): no stratum is upsampled, the scarcest is kept ~whole
    val w = Sampling.MixWeightsPermille.toMap
    val binding = audit.minBy { case (l, (n, _, _)) => n.toDouble / w(l) }
    assert(binding._2._2 >= 4000L)
    // realized mixture within hash-granularity + corpus-size tolerance
    val total = audit.values.map(_._3).sum.toDouble
    audit.foreach { case (l, (_, _, kept)) =>
      assert(math.abs(kept / total - w(l) / 1000.0) < 0.06,
        s"lang $l: realized ${kept / total}, target ${w(l) / 1000.0}")
    }
  }

  test("sampleKPerGroup: dense ranks, caps at stratum size, partition-invariant selection") {
    val corpus = graft.sources.Tables.load(spark, Sf001, "documents")
    val k = 7
    val out = Sampling.sampleKPerGroup(corpus, k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val sizes = corpus.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.groupBy(_._1).foreach { case (lang, rows) =>
      assert(rows.length === math.min(k.toLong, sizes(lang)))
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length))
    }
    // content-hash order: the same docs are picked under any partitioning
    val out7 = Sampling.sampleKPerGroup(corpus.repartition(7), k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet === out7.toSet)
  }

  test("classifierScore matches a driver-side md5 reference and is partition-invariant") {
    val d = docs(
      0L -> "alpha beta gamma delta",
      1L -> "zq xv kj",
      2L -> "alpha alpha alpha")
    def refWeight(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      2L * ("0123456789abcdef".indexOf(hex.charAt(0)) + 1) - 17L
    }
    val expected = Map(
      0L -> Seq("alpha", "beta", "gamma", "delta").map(refWeight).sum,
      1L -> Seq("zq", "xv", "kj").map(refWeight).sum,
      2L -> 3 * refWeight("alpha"))
    val got = TextAnalysis.classifierScore(d).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("w_sum"))).toMap
    assert(got === expected)
    // integer fold => exact same sums under any partitioning
    val got7 = TextAnalysis.classifierScore(d.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(r.fieldIndex("w_sum"))).toMap
    assert(got7 === expected)
  }
}
