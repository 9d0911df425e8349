package graft

import graft.operators.{ImageHash, Multimodal}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ImageHashSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Pure-Scala twin of the aHash from the CLOSED-FORM pixel formula
    * (the fixture's (id·c₁ + x·c₂ + y·c₃) mod 256 channels) — written
    * against the formula, never the codec, so agreement with the Spark
    * path certifies decode + downsample + threshold independently.
    */
  private def refAHash(id: Long): (Long, Long) = {
    val w = (id % 5 + 1).toInt
    val h = (id % 4 + 1).toInt
    def chan(c1: Int, c2: Int, c3: Int, x: Int, y: Int): Long =
      (id * c1 + x * c2 + y * c3) % 256
    val g = (0 until 64).map { j =>
      val sx = (j % 8) * w / 8
      val sy = (j / 8) * h / 8
      chan(7, 3, 19, sx, sy) + chan(17, 5, 11, sx, sy) + chan(31, 7, 13, sx, sy)
    }
    val total = g.sum
    var lo = 0L
    var hi = 0L
    for (j <- 0 until 64 if 64L * g(j) >= total)
      if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
    (hi, lo)
  }

  private def hashes() =
    ImageHash.aHashes(
      Multimodal.synthesizePngAssets(Tables.load(spark, Sf0001, "documents")))

  test("aHash from REAL decoded bytes == closed-form reference for every image") {
    val got = hashes().collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("ahash_hi"), r.getAs[Long]("ahash_lo")))
      .toMap
    assert(got.nonEmpty)
    got.foreach { case (id, pair) => assert(pair === refAHash(id), s"id=$id") }
    // both halves stay in [0, 2^32): no sign/overflow hazard crosses engines
    got.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
  }

  test("survivors: one row per distinct signature, sizes sum to the corpus, rep is min id") {
    val h = hashes().cache()
    val surv = ImageHash.dedupSurvivors(h).collect()
    assert(surv.map(_.getAs[Long]("n_images")).sum === h.count())
    val byHash = h.collect()
      .groupBy(r => (r.getAs[Long]("ahash_hi"), r.getAs[Long]("ahash_lo")))
    assert(surv.length === byHash.size)
    surv.foreach { r =>
      val k = (r.getAs[Long]("ahash_hi"), r.getAs[Long]("ahash_lo"))
      assert(r.getAs[Long]("rep_doc") === byHash(k).map(_.getAs[Long]("id")).min)
    }
    h.unpersist()
  }

  test("banded near-dup pairs == brute force over distinct signatures (pigeonhole complete)") {
    val h = hashes().cache()
    for (budget <- 1 to 3) {
      val banded = ImageHash.nearDupHashPairs(h, budget).collect()
        .map(r => (r.getAs[Long]("rep_a"), r.getAs[Long]("rep_b"), r.getAs[Long]("hd")))
        .toSet
      val dh = h.collect()
        .groupBy(r => (r.getAs[Long]("ahash_hi"), r.getAs[Long]("ahash_lo")))
        .map { case (k, rows) => (k, rows.map(_.getAs[Long]("id")).min) }
        .toSeq
      val brute = (for {
        (ka, ra) <- dh
        (kb, rb) <- dh
        if ka._1 < kb._1 || (ka._1 == kb._1 && ka._2 < kb._2)
        hd = java.lang.Long.bitCount(ka._1 ^ kb._1) + java.lang.Long.bitCount(ka._2 ^ kb._2)
        if hd >= 1 && hd <= budget
      } yield (ra, rb, hd.toLong)).toSet
      assert(banded === brute, s"budget=$budget")
      assert(brute.nonEmpty || budget < 2, s"fixture drifted: expected pairs at budget>=2")
    }
    h.unpersist()
  }

  test("empty corpus: every new operator returns empty / the defined zero point") {
    import SparkTestBase.spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val eh = ImageHash.aHashes(Multimodal.synthesizePngAssets(empty))
    assert(eh.collect().isEmpty)
    assert(ImageHash.dedupSurvivors(eh).collect().isEmpty)
    assert(ImageHash.nearDupHashPairs(eh).collect().isEmpty)
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(graft.operators.Cardinality
      .hllGroupedCertify(emptyDocs, col("lang"), col("text"), "lang")
      .collect().isEmpty)
    val emptyOrders = Seq.empty[(Long, java.sql.Timestamp)].toDF("o_custkey", "o_orderdate")
    val y = year(col("o_orderdate"))
    val row = graft.operators.Cardinality
      .hllOverlapCertify(emptyOrders, col("o_custkey"), y === 1996, y === 1997)
      .collect().head
    // the hllSummarize zero point: every register empty → LC serves 0.0
    assert(row.getAs[Double]("est_union") === 0.0)
    assert(row.getAs[Double]("overlap_est") === 0.0)
    assert(row.getAs[Long]("exact_overlap") === 0L)
    assert(row.getAs[Boolean]("err_ok"))
  }

  test("streaming signature log serves the exact batch survivors") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_imgsig_spec").toString + "/sigs"
    graft.streaming.StreamingViews.runImageSigsAvailableNow(spark, Sf0001, path)
    val served = ImageHash.dedupSurvivors(graft.streaming.StreamingViews.readLog(spark, path))
      .collect().map(_.toSeq)
    val batch = ImageHash.dedupSurvivors(hashes()).collect().map(_.toSeq)
    assert(served.toSeq === batch.toSeq)
  }

  test("budget outside [1, Slices-1] is rejected loudly") {
    val h = hashes()
    intercept[IllegalArgumentException](ImageHash.nearDupHashPairs(h, 0))
    intercept[IllegalArgumentException](ImageHash.nearDupHashPairs(h, ImageHash.Slices))
  }
}
