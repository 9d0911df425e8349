package graft.operators

import java.time.{Instant, ZoneOffset, ZonedDateTime}

import scala.collection.immutable.HashSet

import graft.functions.TimestampParam
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.unsafe.types.UTF8String

/** The reference's two query classes over the materialized views, plus
  * the interval→resolution planning table.
  *
  * Behavioral reference: querying/QueryingController.java —
  * solveSpatialQuery/solveSpatioTemporalQuery (:49-98, history),
  * solveTimeQuery (:100-121, snapshot), getFromDate (:284-308),
  * truncateTS (:310-332); interval table util/AppConfig.java:16-23.
  *
  * Everything the reference distributes by hand (instance metadata,
  * scatter-gather HTTP RPC, TreeMap partial merges —
  * QueryingController.java:123-210, util/Aggregator.java) is deleted:
  * a filter + groupBy over the view IS the scatter-gather, and Spark's
  * partial/final HashAggregate IS the merge. Time range convention is
  * standardized to half-open [from, to) (the reference's RocksDB range
  * scan is end-inclusive despite its docs — SURVEY §3.2).
  *
  * Probe values reach the generated code by reference, never as text.
  * Spark's codegen cache keys on the generated Java source, and Spark
  * writes long and timestamp literals into that source (`<micros>L`),
  * while strings and `InSet` sets go through `ctx.addReferenceObj`.
  * So the `ts` bounds are [[graft.functions.TimestampParam]]s and the
  * geo predicates are one `InSet` whatever the list length: two GETs
  * of one shape that differ only in their time, cells or box plan the
  * same source, and the second one compiles nothing.
  */
object ExploraQueries {

  /** interval → view resolution it is answered from (AppConfig.java:16-23). */
  val IntervalResolution: Map[String, String] = Map(
    "5min" -> "min",
    "1hour" -> "min",
    "1day" -> "hour",
    "1week" -> "hour",
    "1month" -> "day",
    "all" -> "day")

  val SupportedAggregates: Seq[String] = Seq("avg", "sum", "count")

  /** Output column per aggregate name (reference reflects the field off
    * `Aggregate` — QueryingService.java:238; here it's just a column).
    */
  def aggColumn(agg: String): String = agg match {
    case "avg"   => "avg_val"
    case "sum"   => "sum_val"
    case "count" => "cnt"
    case other   => throw new IllegalArgumentException(
      s"aggregate '$other' not in ${SupportedAggregates.mkString(",")}")
  }

  /** `to − interval` with calendar arithmetic in UTC
    * (getFromDate, QueryingController.java:284-308; "all" = 30 years,
    * default = 5 minutes).
    */
  def fromInstant(to: Instant, interval: String): Instant = {
    val z = ZonedDateTime.ofInstant(to, ZoneOffset.UTC)
    (interval match {
      case "1hour"  => z.minusHours(1)
      case "1day"   => z.minusDays(1)
      case "1week"  => z.minusDays(7)
      case "1month" => z.minusMonths(1)
      case "all"    => z.minusYears(30)
      case _        => z.minusMinutes(5)
    }).toInstant
  }

  /** truncateTS (QueryingController.java:310-332) in UTC. */
  def truncateTs(ts: Instant, resolution: String): Instant = {
    val z = ZonedDateTime.ofInstant(ts, ZoneOffset.UTC)
    (resolution match {
      case "min"   => z.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
      case "hour"  => z.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
      case "day"   => z.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
      case "month" => z.truncatedTo(java.time.temporal.ChronoUnit.DAYS).withDayOfMonth(1)
      case "year"  => z.truncatedTo(java.time.temporal.ChronoUnit.DAYS).withDayOfYear(1)
      case _       => z
    }).toInstant
  }

  /** Merge view cells along the spatial axis: one Aggregate per view
    * timestamp (history — QueryingController.java:212-230). `geoPred`
    * is the spatial predicate (IN-list of cells or prefix ranges).
    * Returns (ts_s, <agg>) ordered by time, ts as epoch seconds.
    */
  def history(
      view: DataFrame,
      metric: String,
      geoPred: Column,
      from: Instant,
      to: Instant,
      agg: String): DataFrame = {
    val out = aggColumn(agg)
    historyAll(view, metric, geoPred, from, to)
      .select(col("ts_s"), round(col(out), 6).as(out))
  }

  /** [[history]] with the FULL Aggregate per timestamp — (ts_s, cnt,
    * sum_val, avg_val) — the shape the reference serializes in
    * `local` mode (the raw `Map<Long, Aggregate>`,
    * QueryingService.java:258-261 / model/Aggregate.java:3-14).
    */
  def historyAll(
      view: DataFrame,
      metric: String,
      geoPred: Column,
      from: Instant,
      to: Instant): DataFrame =
    view
      .filter(col("metric") === metric && geoPred)
      .filter(col("ts") >= TimestampParam.seconds(from.getEpochSecond) &&
        col("ts") < TimestampParam.seconds(to.getEpochSecond))
      .groupBy(col("ts"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_val")).as("sum_val"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))
      .select(col("ts").cast("long").as("ts_s"), col("cnt"), col("sum_val"), col("avg_val"))
      .orderBy(col("ts_s"))

  /** One Aggregate per spatial cell at a single truncated instant
    * (snapshot — QueryingController.java:232-282). The reference's
    * 32^k geohash enumeration / per-quadkey point gets become a single
    * pushable predicate.
    */
  def snapshot(
      view: DataFrame,
      metric: String,
      geoPred: Column,
      ts: Instant,
      resolution: String,
      agg: String): DataFrame = {
    val out = aggColumn(agg)
    snapshotAll(view, metric, geoPred, ts, resolution)
      .select(col("geo"), round(col(out), 6).as(out))
  }

  /** [[snapshot]] with the FULL Aggregate per cell — (geo, cnt,
    * sum_val, avg_val) — the reference's `local`-mode
    * `Map<String, Aggregate>` shape (QueryingService.java:258-261).
    */
  def snapshotAll(
      view: DataFrame,
      metric: String,
      geoPred: Column,
      ts: Instant,
      resolution: String): DataFrame = {
    val t = truncateTs(ts, resolution)
    view
      .filter(col("metric") === metric && geoPred)
      .filter(col("ts") === TimestampParam.seconds(t.getEpochSecond))
      .groupBy(col("geo"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_val")).as("sum_val"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))
      .select(col("geo"), col("cnt"), col("sum_val"), col("avg_val"))
      .orderBy(col("geo"))
  }

  /** Spatial predicate from an exact cell list (quadkey cover at view
    * zoom, or geohash list at view precision): `geo IN cells` as one
    * `InSet`, which the file source still receives as a pushed `In`.
    */
  def cellsPredicate(cells: Seq[String]): Column = inSet(col("geo"), cells)

  /** Spatial predicate from coarser prefixes (geohashing mode): the
    * pushdown-friendly replacement for the reference's exponential
    * extension enumeration (QueryingController.java:269-271).
    *
    * `substring(geo, 1, len) IN prefixes`, ANDed with the string range
    * `[min prefix, successor of the max prefix)` on `geo` — the part
    * the file source can push, so row groups of the geo-sorted views
    * outside the cover are skipped. Every cover producer
    * (`GeoHash`/`QuadKey.coverPrefixes`, `coverBoundingBox`) emits
    * prefixes of one length, which is what lets a single `substring`
    * test them all; a mixed-length list is rejected.
    */
  def prefixPredicate(prefixes: Seq[String]): Column = {
    require(prefixes.nonEmpty, "prefixPredicate needs at least one prefix")
    val len = prefixes.head.length
    require(prefixes.forall(_.length == len),
      s"prefixes must share one length, got lengths ${prefixes.map(_.length).distinct.sorted.mkString(",")}")
    // ASCII keys sort the same as Java strings and as Spark's UTF-8 bytes
    require(prefixes.forall(_.forall(_ < 0x7f)), "prefixes must be ASCII geo keys")
    val geo = col("geo")
    val lower = geo >= prefixes.min
    val max = prefixes.max
    // every key under the largest prefix sorts below it with its last
    // character bumped; "" (the world cover) has no upper bound
    val range = if (len == 0) lower else lower && geo < max.init + (max.last + 1).toChar
    range && inSet(substring(geo, 1, len), prefixes)
  }

  /** `e IN values` as one `InSet`. Always a `HashSet`: the generated
    * code casts the set to its runtime class, and Scala's own sets of
    * up to four elements are classes of their own (`Set1`…`Set4`).
    */
  private def inSet(e: Column, values: Seq[String]): Column =
    Shim.column(InSet(Shim.expression(e), HashSet.from[Any](values.map(UTF8String.fromString))))
}
