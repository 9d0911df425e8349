package graft

import graft.operators.Cardinality
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class CardinalitySpec extends AnyFunSuite {
  import SparkTestBase._

  /** Pure-Scala twin of the register derivation — md5 prefix → 60-bit
    * int → (idx, rho) — written independently of the Spark expressions.
    */
  private def refRegisters(keys: Seq[String]): Map[Long, Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    keys.foldLeft(Map.empty[Long, Int]) { (regs, k) =>
      val hex = md.digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val idx = h % 256
      val w = h >>> 8
      val rho = if (w == 0) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      regs.updated(idx, math.max(regs.getOrElse(idx, 0), rho))
    }
  }

  test("Spark register partials == independent pure-Scala reference") {
    val li = Tables.load(spark, Sf0001, "lineitem")
    val sparkRegs = Cardinality
      .hllRegisterPartials(li, col("l_orderkey"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val keys = li.select(col("l_orderkey").cast("string"))
      .collect().map(_.getString(0)).toSeq
    assert(sparkRegs === refRegisters(keys))
  }

  test("certificate: estimate within the 20% bound at the gate SF, exact is exact") {
    val li = Tables.load(spark, Sf0001, "lineitem")
    val row = Cardinality.hllCertify(li, col("l_orderkey")).collect().head
    val exact = li.select(col("l_orderkey")).distinct().count()
    assert(row.getAs[Long]("exact") === exact)
    assert(row.getAs[Boolean]("err_ok"))
    assert(math.abs(row.getAs[Double]("est") - exact) <= 0.2 * exact)
    assert(row.getAs[Long]("nonzero") > 0 && row.getAs[Long]("nonzero") <= 256)
  }

  test("linear-counting branch: 25-key domain serves m*ln(m/V), clears the certificate") {
    val cust = Tables.load(spark, Sf0001, "customer")
    val row = Cardinality.hllCertify(cust, col("c_nationkey")).collect().head
    val exact = row.getAs[Long]("exact")
    assert(exact <= 25L, "fixture drifted: nation keys should be <= 25")
    // the raw harmonic estimator is invalid down here — the served
    // value must be the LC closed form over the empty-register count
    val v = 256L - row.getAs[Long]("nonzero")
    val lc = BigDecimal(256.0 * math.log(256.0 / v.toDouble))
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Double]("est") === lc, "est is not the linear-counting value")
    assert(row.getAs[Boolean]("err_ok"))
    assert(math.abs(lc - exact) <= 0.2 * exact)
  }

  test("LC rounding is ulp-safe for every possible input: no round(256*ln(256/V), 3) near a boundary") {
    // the LC value is the sketch's ONE transcendental; V has only 255
    // possible values at m=256, so prove a last-ulp libm difference
    // between engines can never flip the 3dp-rounded gate value
    for (v <- 1 to 255) {
      val y = 256.0 * math.log(256.0 / v.toDouble)
      val scaled = y * 1000.0
      val distToBoundary = math.abs(scaled - math.floor(scaled) - 0.5)
      // a 1-ulp change in y moves `scaled` by ~2e-10 at y≈1420; demand
      // 4 orders of magnitude more margin than that
      assert(distToBoundary > 1e-6,
        s"V=$v: round(256*ln(256/$v), 3) sits ${distToBoundary} from a rounding boundary")
    }
  }

  test("registers are max-mergeable: 3-way split partials == one-shot sketch") {
    val li = Tables.load(spark, Sf0001, "lineitem")
    val parts = (0 until 3).map(i =>
      Cardinality.hllRegisterPartials(
        li.filter(pmod(col("l_linenumber") + col("l_orderkey"), lit(3)) === i),
        col("l_orderkey")))
    val mergedLog = parts.reduce(_ unionByName _)
    val merged = Cardinality
      .hllServeFromLog(mergedLog, li, col("l_orderkey"))
      .collect().head
    val oneShot = Cardinality.hllCertify(li, col("l_orderkey")).collect().head
    assert(merged.toSeq === oneShot.toSeq)
  }

  test("grouped certificate: each group's row == the global certificate of that group's slice") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val grouped = Cardinality
      .hllGroupedCertify(docs, col("lang"), col("text"), "lang")
      .collect()
    assert(grouped.nonEmpty)
    grouped.foreach { row =>
      val lang = row.getAs[String]("lang")
      val solo = Cardinality
        .hllCertify(docs.filter(col("lang") === lang), col("text"))
        .collect().head
      // same register derivation, same estimator: the grouped row must
      // equal the single-group certificate column for column
      assert(row.getAs[Long]("nonzero") === solo.getAs[Long]("nonzero"), lang)
      assert(row.getAs[Long]("denom") === solo.getAs[Long]("denom"), lang)
      assert(row.getAs[Double]("est") === solo.getAs[Double]("est"), lang)
      assert(row.getAs[Long]("exact") === solo.getAs[Long]("exact"), lang)
      assert(row.getAs[Boolean]("err_ok"), lang)
    }
  }

  test("overlap certificate: exact panel is exact, per-side/union ests match solo sketches") {
    val orders = Tables.load(spark, Sf0001, "orders")
    val y = year(col("o_orderdate"))
    val row = Cardinality
      .hllOverlapCertify(orders, col("o_custkey"), y === 1996, y === 1997)
      .collect().head
    val a = orders.filter(y === 1996).select(col("o_custkey")).distinct()
    val b = orders.filter(y === 1997).select(col("o_custkey")).distinct()
    assert(row.getAs[Long]("exact_a") === a.count())
    assert(row.getAs[Long]("exact_b") === b.count())
    assert(row.getAs[Long]("exact_union") === a.unionByName(b).distinct().count())
    assert(row.getAs[Long]("exact_overlap") === a.intersect(b).count())
    // the union sketch is a MAX-MERGE of the two sides' registers —
    // prove it serves the same estimate as sketching the union directly
    val soloU = Cardinality
      .hllCertify(orders.filter(y === 1996 || y === 1997), col("o_custkey"))
      .collect().head
    assert(row.getAs[Double]("est_union") === soloU.getAs[Double]("est"))
    val soloA = Cardinality.hllCertify(orders.filter(y === 1996), col("o_custkey"))
      .collect().head
    assert(row.getAs[Double]("est_a") === soloA.getAs[Double]("est"))
    // inclusion-exclusion identity over the served (rounded) values
    val ie = BigDecimal(
      row.getAs[Double]("est_a") + row.getAs[Double]("est_b") -
        row.getAs[Double]("est_union"))
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getAs[Double]("overlap_est") === ie)
    assert(row.getAs[Boolean]("err_ok"))
  }

  test("streaming register log serves the exact batch certificate") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_hll_spec").toString + "/registers"
    graft.streaming.StreamingViews.runHllRegistersAvailableNow(spark, Sf0001, path)
    val served = Cardinality
      .hllServeFromLog(
        graft.streaming.StreamingViews.readLog(spark, path),
        Tables.load(spark, Sf0001, "lineitem"),
        col("l_orderkey"))
      .collect().head
    val batch = Cardinality
      .hllCertify(Tables.load(spark, Sf0001, "lineitem"), col("l_orderkey"))
      .collect().head
    assert(served.toSeq === batch.toSeq)
  }
}
