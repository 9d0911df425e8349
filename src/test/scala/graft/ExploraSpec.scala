package graft

import java.time.Instant

import graft.operators.{ExploraQueries, ViewBuilder}
import graft.sources.SensorGrid
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EXPLORA semantics: the mergeable-summary algebra (util/Aggregator.java:
  * 18-32) and the resolution rollup hierarchy (hour == merge of its
  * minutes), plus query-layer invariants.
  */
class ExploraSpec extends AnyFunSuite {
  import SparkTestBase._

  private lazy val readings = SensorGrid.readings(spark, Sf0001).cache()

  test("view invariant: avg == sum / count, count > 0") {
    val v = ViewBuilder.build(readings, substring(col("gh12"), 1, 6), "min")
    val bad = v.filter(col("cnt") <= 0 || abs(col("avg_val") - col("sum_val") / col("cnt")) > 1e-9)
    assert(bad.count() === 0)
  }

  test("rollup hierarchy: hour view == minute view re-merged (Σcount, Σsum)") {
    val vMin = ViewBuilder.build(readings, substring(col("gh12"), 1, 6), "min")
    val vHour = ViewBuilder.build(readings, substring(col("gh12"), 1, 6), "hour")
    val rolled = vMin
      .groupBy(col("metric"), col("geo"), date_trunc("hour", col("ts")).as("ts"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_val")).as("sum_val"))
    val joined = vHour.alias("h").join(
      rolled.alias("r"),
      Seq("metric", "geo", "ts"),
      "full_outer")
    assert(joined.filter(col("h.cnt").isNull || col("r.cnt").isNull).count() === 0)
    assert(joined
      .filter(col("h.cnt") =!= col("r.cnt") ||
        abs(col("h.sum_val") - col("r.sum_val")) > 1e-6).count() === 0)
  }

  test("history spatial collapse conserves mass (Σcnt over cells == Σcnt in result window)") {
    val v = ViewBuilder.build(readings, substring(col("gh12"), 1, 6), "day").cache()
    val from = Instant.parse("2024-01-05T00:00:00Z")
    val to = Instant.parse("2024-01-20T00:00:00Z")
    val h = ExploraQueries.history(v, "click", ExploraQueries.prefixPredicate(Seq("u")), from, to, "count")
    val total = h.agg(sum(col("cnt"))).head.getLong(0)
    val direct = readings
      .filter(col("metric") === "click" &&
        col("ts") >= timestamp_seconds(lit(from.getEpochSecond)) &&
        col("ts") < timestamp_seconds(lit(to.getEpochSecond)))
      .count()
    assert(total === direct)
  }

  /** Geo keys shorter than, equal to and longer than the prefixes
    * below, a null and the empty key; geohash and quadkey alphabets,
    * quadkeys with leading zeros. One partition that is not a local
    * relation, so the predicates run in generated code, as in a probe.
    */
  private lazy val geos = {
    import spark.implicits._
    Seq("u", "u1", "u15", "u155", "u1555j", "u156", "u15z", "u16", "u2", "v", "", "0", "00",
      "02", "03", "0320", "03201", "0321", "033", "1", "12", "3", null)
      .toDF("geo").repartition(1)
  }

  private def assertAgree(got: Column, want: Column, clue: String): Unit =
    geos.select(col("geo"), got.as("got"), want.as("want")).collect().foreach { r =>
      assert(r.get(1) == r.get(2), s"$clue: geo=${r.get(0)} got ${r.get(1)}, want ${r.get(2)}")
    }

  test("prefixPredicate equals the startsWith OR-chain, world cover and leading zeros included") {
    val covers = Seq(Seq("u15"), Seq("u16", "u15"), Seq("u155", "u15z"), Seq("u"), Seq(""),
      Seq("03", "00", "02"), Seq("0320"), Seq("0", "1", "3"))
    for (ps <- covers)
      assertAgree(
        ExploraQueries.prefixPredicate(ps),
        ps.map(p => col("geo").startsWith(p)).reduce(_ || _),
        ps.mkString("[", ",", "]"))
  }

  test("cellsPredicate equals isin, the empty list included") {
    for (cells <- Seq(Nil, Seq("u155"), Seq("u1555j", "0320", "03", "x")))
      assertAgree(
        ExploraQueries.cellsPredicate(cells), col("geo").isin(cells: _*), cells.mkString("[", ",", "]"))
  }

  test("prefixPredicate rejects a mixed-length, empty or non-ASCII prefix list") {
    intercept[IllegalArgumentException](ExploraQueries.prefixPredicate(Seq("u1", "u15")))
    intercept[IllegalArgumentException](ExploraQueries.prefixPredicate(Seq("", "0")))
    intercept[IllegalArgumentException](ExploraQueries.prefixPredicate(Nil))
    intercept[IllegalArgumentException](ExploraQueries.prefixPredicate(Seq("u\u00e9")))
  }

  test("truncateTS matches reference semantics incl. calendar month") {
    val t = Instant.parse("2024-03-17T15:42:31Z")
    assert(ExploraQueries.truncateTs(t, "min") === Instant.parse("2024-03-17T15:42:00Z"))
    assert(ExploraQueries.truncateTs(t, "hour") === Instant.parse("2024-03-17T15:00:00Z"))
    assert(ExploraQueries.truncateTs(t, "day") === Instant.parse("2024-03-17T00:00:00Z"))
    assert(ExploraQueries.truncateTs(t, "month") === Instant.parse("2024-03-01T00:00:00Z"))
    assert(ExploraQueries.truncateTs(t, "year") === Instant.parse("2024-01-01T00:00:00Z"))
  }

  test("getFromDate calendar arithmetic (1month is calendar, not 30 days)") {
    val to = Instant.parse("2024-03-31T10:00:00Z")
    assert(ExploraQueries.fromInstant(to, "1month") === Instant.parse("2024-02-29T10:00:00Z"))
    assert(ExploraQueries.fromInstant(to, "1week") === Instant.parse("2024-03-24T10:00:00Z"))
    assert(ExploraQueries.fromInstant(to, "5min") === Instant.parse("2024-03-31T09:55:00Z"))
  }

  test("interval table matches AppConfig.java:16-23") {
    assert(ExploraQueries.IntervalResolution === Map(
      "5min" -> "min", "1hour" -> "min", "1day" -> "hour",
      "1week" -> "hour", "1month" -> "day", "all" -> "day"))
  }
}
