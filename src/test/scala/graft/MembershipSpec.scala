package graft

import graft.operators.Membership
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MembershipSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Pure-Scala twin of the position derivation — four disjoint
    * 4-hex-char md5 slices — written independently of the Spark
    * expressions and the SQL replay.
    */
  private def refPositions(key: String): Seq[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until Membership.BloomK).map(i =>
      java.lang.Long.parseLong(hex.substring(4 * i, 4 * i + 4), 16))
  }

  test("Spark set-bit partials == independent pure-Scala reference") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val sparkBits = Membership
      .bloomBitPartials(docs, col("text"))
      .collect().map(_.getLong(0)).toSet
    val refBits = docs.select(col("text")).collect()
      .flatMap(r => refPositions(r.getString(0))).toSet
    assert(sparkBits === refBits)
    assert(sparkBits.forall(i => i >= 0 && i < Membership.BloomM))
  }

  test("theorem: zero false negatives; flagged == present at the tiny SF (no FPs)") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val row = Membership
      .bloomCertify(docs, col("text"), Membership.evalFixture(docs))
      .collect().head
    assert(row.getAs[Long]("false_neg") === 0L)
    assert(row.getAs[Boolean]("no_false_neg"))
    assert(row.getAs[Boolean]("fp_ok"))
    // structural sanity: eval is half present, every present key flagged
    assert(row.getAs[Long]("n_present") > 0)
    assert(row.getAs[Long]("n_flagged") >= row.getAs[Long]("n_present"))
    assert(row.getAs[Long]("bits_set") > 0 &&
      row.getAs[Long]("bits_set") <= Membership.BloomM.toLong)
  }

  test("probe verdicts == exact membership ∨ hash-collision FP, verified per key") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val bits = Membership.bloomBitPartials(docs, col("text"))
    val bitSet = bits.collect().map(_.getLong(0)).toSet
    val verdicts = Membership
      .bloomProbe(Membership.evalFixture(docs), col("k"), bits, carry = Seq("present"))
      .collect()
    verdicts.foreach { r =>
      val expect = refPositions(r.getAs[String]("k")).forall(bitSet.contains)
      assert(r.getAs[Boolean]("flagged") === expect, r.getAs[String]("k").take(40))
      if (r.getAs[Boolean]("present"))
        assert(r.getAs[Boolean]("flagged"), "false negative — impossible for a Bloom filter")
    }
  }

  test("bits are union-mergeable: 3-way split partials (with overlap) == one-shot") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val parts = (0 until 3).map(i =>
      // overlapping splits (i and i+1 mod 3): replay/duplication must be harmless
      Membership.bloomBitPartials(
        docs.filter(pmod(col("doc_id"), lit(3)) === i ||
          pmod(col("doc_id"), lit(3)) === (i + 1) % 3),
        col("text")))
    val merged = Membership
      .bloomCertifyFromLog(parts.reduce(_ unionByName _), Membership.evalFixture(docs))
      .collect().head
    val oneShot = Membership
      .bloomCertify(docs, col("text"), Membership.evalFixture(docs))
      .collect().head
    assert(merged.toSeq === oneShot.toSeq)
  }

  test("streaming bit log serves the exact batch certificate") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_bloom_spec").toString + "/bits"
    graft.streaming.StreamingViews.runBloomBitsAvailableNow(spark, Sf0001, path)
    val docs = Tables.load(spark, Sf0001, "documents")
    val served = Membership
      .bloomCertifyFromLog(
        graft.streaming.StreamingViews.readLog(spark, path), Membership.evalFixture(docs))
      .collect().head
    val batch = Membership
      .bloomCertify(docs, col("text"), Membership.evalFixture(docs))
      .collect().head
    assert(served.toSeq === batch.toSeq)
  }

  test("empty corpus: zero bits, nothing flagged, certificate at the zero point") {
    import SparkTestBase.spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Membership.bloomBitPartials(empty, col("text")).collect().isEmpty)
    val row = Membership
      .bloomCertify(empty, col("text"), Membership.evalFixture(empty))
      .collect().head
    assert(row.getAs[Long]("bits_set") === 0L)
    assert(row.getAs[Long]("n_flagged") === 0L)
    assert(row.getAs[Boolean]("no_false_neg") && row.getAs[Boolean]("fp_ok"))
  }
}
