package graft.operators

import java.time.{Instant, ZoneOffset, ZonedDateTime}

import graft.functions.{Slot, TimestampParam}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim

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
  *
  * Shape and bound values: [[query]] is the one body, and what varies
  * between two requests of one shape enters it as a Column — the
  * metric, the `ts` bounds, the cells or prefixes of the geo `InSet`
  * and a prefix cover's range bounds. What stays fixed is the shape:
  * the route, the aggregate column (or the full Aggregate) and the
  * cover kind, an exact cell list or prefixes of one length (the world
  * cover `""` is length 0). [[history]], [[snapshot]] and their `All`
  * forms pass values; `ExploraService` passes `graft.functions.Slot`s,
  * so that one analysis of the body serves every request of a shape.
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

  /** What a query groups the probed cells by: one row per view
    * timestamp (history, keyed `ts_s` in epoch seconds) or one row per
    * cell (snapshot, keyed `geo`).
    */
  sealed abstract class Route(val group: String, val key: String, val keyColumn: Column)
  case object History extends Route("ts", "ts_s", col("ts").cast("long").as("ts_s"))
  case object Snapshot extends Route("geo", "geo", col("geo"))

  /** The one query body behind both routes: the view rows of `metric`
    * that pass `geoPred` and `tsPred`, merged per [[Route]] key in key
    * order as (key, cnt, sum_val, avg_val), or as (key, <agg column>)
    * rounded to 6 places when `agg` is set. The reference's
    * scatter-gather and TreeMap merges (QueryingController.java:123-230)
    * are this filter + groupBy.
    *
    * Every input that varies between two requests of one shape is a
    * Column: `metric`, the `ts` bounds inside `tsPred` ([[during]],
    * [[at]]) and the set and range bounds inside `geoPred`
    * ([[cellsPredicate]], [[prefixPredicate]]). Direct callers pass
    * values; `ExploraService` passes `graft.functions.Slot`s, analyzes
    * the body once per shape and binds each request's values into it.
    */
  def query(
      view: DataFrame,
      route: Route,
      metric: Column,
      geoPred: Column,
      tsPred: Column,
      agg: Option[String]): DataFrame = {
    val full = view
      .filter(col("metric") === metric && geoPred)
      .filter(tsPred)
      .groupBy(col(route.group))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_val")).as("sum_val"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))
      .select(route.keyColumn, col("cnt"), col("sum_val"), col("avg_val"))
      .orderBy(col(route.key))
    agg.fold(full) { a =>
      val out = aggColumn(a)
      full.select(col(route.key), round(col(out), 6).as(out))
    }
  }

  /** `from <= ts < to`: the half-open window of a history. */
  def during(from: Column, to: Column): Column = col("ts") >= from && col("ts") < to

  /** `ts = t`: the one view timestamp of a snapshot. */
  def at(t: Column): Column = col("ts") === t

  private def second(t: Instant): Column = TimestampParam.seconds(t.getEpochSecond)

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
      agg: String): DataFrame =
    query(view, History, lit(metric), geoPred, during(second(from), second(to)), Some(agg))

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
    query(view, History, lit(metric), geoPred, during(second(from), second(to)), None)

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
      agg: String): DataFrame =
    query(view, Snapshot, lit(metric), geoPred, at(second(truncateTs(ts, resolution))), Some(agg))

  /** [[snapshot]] with the FULL Aggregate per cell — (geo, cnt,
    * sum_val, avg_val) — the reference's `local`-mode
    * `Map<String, Aggregate>` shape (QueryingService.java:258-261).
    */
  def snapshotAll(
      view: DataFrame,
      metric: String,
      geoPred: Column,
      ts: Instant,
      resolution: String): DataFrame =
    query(view, Snapshot, lit(metric), geoPred, at(second(truncateTs(ts, resolution))), None)

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
    val (lower, upper) = prefixRange(prefixes)
    prefixPredicate(prefixes.head.length, lit(lower), upper.map(lit), inSet(_, prefixes))
  }

  /** [[prefixPredicate]] over Columns: `geo >= lower`, `geo < upper`
    * unless the cover is the world (`len` 0), and `in` applied to the
    * keys' `len`-character prefix.
    */
  def prefixPredicate(len: Int, lower: Column, upper: Option[Column], in: Column => Column): Column = {
    val geo = col("geo")
    val range = upper.fold(geo >= lower)(u => geo >= lower && geo < u)
    range && in(substring(geo, 1, len))
  }

  /** The `geo` range of a prefix cover: its least prefix, and its
    * greatest with the last character bumped — every key under it sorts
    * below that — or None for the world cover `""`.
    */
  def prefixRange(prefixes: Seq[String]): (String, Option[String]) = {
    require(prefixes.nonEmpty, "prefixPredicate needs at least one prefix")
    val len = prefixes.head.length
    require(prefixes.forall(_.length == len),
      s"prefixes must share one length, got lengths ${prefixes.map(_.length).distinct.sorted.mkString(",")}")
    // ASCII keys sort the same as Java strings and as Spark's UTF-8 bytes
    require(prefixes.forall(_.forall(_ < 0x7f)), "prefixes must be ASCII geo keys")
    val max = prefixes.max
    (prefixes.min, if (len == 0) None else Some(max.init + (max.last + 1).toChar))
  }

  private def inSet(e: Column, values: Seq[String]): Column =
    Shim.column(Slot.stringSet(Shim.expression(e), values))
}
