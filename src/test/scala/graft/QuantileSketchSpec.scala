package graft

import graft.operators.QuantileSketch
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QuantileSketchSpec extends AnyFunSuite {
  import SparkTestBase._

  test("bin counts == independent pure-Scala fold; sentinels count out-of-domain mass") {
    import spark.implicits._
    val vals = Seq(-3.5, 0.0, 0.25, 0.49, 0.5, 511.99, 512.0, 600.0, 123.456)
    val df = vals.toDF("value")
    val got = QuantileSketch.binCounts(df, col("value"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = vals
      .groupBy(v =>
        if (v < 0.0) -1L
        else if (v >= 512.0) 1024L
        else math.floor(v / 0.5).toLong)
      .map { case (b, xs) => b -> xs.size.toLong }
    assert(got === want)
    assert(got(-1L) === 1L && got(1024L) === 2L)
  }

  test("certificate panel: 5 rows, estimates within tolerance, exact matches percentile") {
    val ev = Tables.load(spark, Sf0001, "events")
    val rows = QuantileSketch.quantileCertify(ev).collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Boolean]("err_ok")))
    val values = ev.select(col("value")).collect().map(_.getDouble(0)).sorted
    rows.foreach { r =>
      val q = r.getAs[Double]("q")
      // R-7 interpolation twin of Spark's percentile
      val h = q * (values.length - 1)
      val lo = values(h.toInt)
      val hi = values(math.min(h.toInt + 1, values.length - 1))
      val exact = lo + (h - h.toInt) * (hi - lo)
      assert(math.abs(r.getAs[Double]("exact_pct") - exact) < 1e-5, s"q=$q")
      assert(math.abs(r.getAs[Double]("est") - exact) <= QuantileSketch.Tolerance)
    }
  }

  test("per-metric geometry: doc-length certificate over [0,1024) at width 1.0") {
    val docs = Tables.load(spark, Sf0001, "documents")
    val rows = QuantileSketch
      .quantileCertifyExpr(docs, "length(text)", bins = 1024, width = 1.0)
      .collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Boolean]("err_ok")))
    val values = docs.selectExpr("CAST(length(text) AS DOUBLE)")
      .collect().map(_.getDouble(0)).sorted
    rows.foreach { r =>
      val q = r.getAs[Double]("q")
      val h = q * (values.length - 1)
      val lo = values(h.toInt)
      val hi = values(math.min(h.toInt + 1, values.length - 1))
      val exact = lo + (h - h.toInt) * (hi - lo)
      assert(math.abs(r.getAs[Double]("exact_pct") - exact) < 1e-5, s"q=$q")
      assert(math.abs(r.getAs[Double]("est") - exact) <= QuantileSketch.Tolerance)
    }
  }

  test("counts are additive: 3-way split sum == one-shot sketch; serve identical") {
    val ev = Tables.load(spark, Sf0001, "events")
    val parts = (0 until 3).map(i =>
      QuantileSketch.binCounts(ev.filter(pmod(col("event_id"), lit(3)) === i), col("value")))
    val merged = parts.reduce(_ unionByName _)
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    val a = QuantileSketch.serveQuantiles(merged, ev, "value").collect().map(_.toSeq)
    val b = QuantileSketch.quantileCertify(ev).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("streaming count log serves the exact batch certificate") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_qsk_spec").toString + "/counts"
    graft.streaming.StreamingViews.runQuantileCountsAvailableNow(spark, Sf0001, path)
    val ev = Tables.load(spark, Sf0001, "events")
    val served = QuantileSketch.serveQuantiles(
      graft.streaming.StreamingViews.readLog(spark, path).groupBy(col("bin")).agg(sum(col("cnt")).as("cnt")),
      ev, "value").collect().map(_.toSeq)
    val batch = QuantileSketch.quantileCertify(ev).collect().map(_.toSeq)
    assert(served.toSeq === batch.toSeq)
  }
}
