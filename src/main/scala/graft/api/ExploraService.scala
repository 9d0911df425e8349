package graft.api

import java.time.Instant

import graft.geo.{GeoHash, QuadKey}
import graft.operators.{ExploraQueries, QueryValidation, ViewBuilder}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._

/** The reference's query-service surface as a library API: the same
  * parameters and routing as the REST facade
  * (querying/QueryingService.java — history :38-135, snapshot
  * :137-230), minus HTTP. A serving layer maps routes onto these two
  * methods 1:1; every branch the reference routes on (resolution vs
  * interval, src=tiles vs raw, geohashing vs quadtiling) is here.
  *
  * Views are built once per (geoIndex, precision, resolution) and
  * persisted — the in-process analogue of the reference's RocksDB
  * stores; scatter-gather/metadata/RPC are Spark's shuffle.
  */
final case class HistoryParams(
    metricId: String,
    aggregate: String,
    geohashes: Seq[String],
    precision: Int,
    resolution: Option[String] = None,
    interval: Option[String] = None,
    fromMs: Option[Long] = None,
    toMs: Long,
    src: String = "tiles")

final case class SnapshotParams(
    metricId: String,
    aggregate: String,
    tsMs: Long,
    north: Double,
    west: Double,
    south: Double,
    east: Double,
    precision: Int,
    resolution: String,
    geoIndex: String = "quadtiling")

/** @param viewStore when set, views are MATERIALIZED to parquet under
  *   this path, partitioned by the first `geoPartLen` characters of the
  *   geo key (`geo_part`) — the 100 TB layout: a snapshot/history probe
  *   carries a `geo_part` predicate, so the scan prunes to the probed
  *   partitions at the FILE level (PartitionFilters, asserted in
  *   ExploraServiceSpec) instead of reading the whole view. `geo_part`
  *   is read as the string it was written as: inference would type
  *   quadtiling's all-digit directories (`00`…`33`) as integers, and a
  *   prefix such as `"03"` would then compare against `3`.
  *
  *   One split, one job: when the `geo_part` directories a probe
  *   selects pack into ONE input split — decided with Spark's own
  *   packing (`FilePartition.maxSplitBytes`, then the open-cost
  *   bin-packing of `FilePartition.getFilePartitions`) over the file
  *   index the view already holds, so deciding plans nothing — the
  *   pruned slice is `coalesce(1)`-ed. Its single partition satisfies
  *   the distribution the query's `groupBy` and `orderBy` require, so
  *   the probe runs as one job of one task with no hash or range
  *   exchange, instead of a scan stage plus exchange stages and their
  *   per-job driver overhead. This is safe because the scan was one
  *   task anyway: the coalesce removes only the exchanges, never scan
  *   parallelism, and the rows are the same. A slice spanning several
  *   splits (the 100 TB case) keeps the parallel plan unchanged.
  *
  *   When None, views are kept as in-process persisted DataFrames
  *   (harness mode), also unchanged by the one-split rule.
  */
class ExploraService(
    readings: DataFrame,
    viewStore: Option[String] = None,
    geoPartLen: Int = 2) {
  import ExploraService.{Once, View}

  // TrieMap.getOrElseUpdate may evaluate its default in every thread
  // that races on a key; caching a once-only holder means only the
  // holder that won the insert builds — and writes — the view
  private val viewCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, String), Once[View]]

  private def geoExpr(geoIndex: String, precision: Int) = geoIndex match {
    // prefix property: substring of a finer key IS the coarser key,
    // for both geohashes and quadkeys (GeoKernelSpec)
    case "quadtiling" => substring(col("qk14"), 1, precision)
    case _            => substring(col("gh12"), 1, precision)
  }

  private def view(geoIndex: String, precision: Int, resolution: String): View =
    viewCache.getOrElseUpdate(
      (geoIndex, precision, resolution),
      new Once(viewStore match {
        case Some(base) =>
          val spark = readings.sparkSession
          val path = s"$base/${geoIndex}_p${precision}_$resolution"
          val p = new org.apache.hadoop.fs.Path(path)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val built = ViewBuilder.build(readings, geoExpr(geoIndex, precision), resolution)
            .withColumn("geo_part", substring(col("geo"), 1, geoPartLen))
          if (!fs.exists(p))
            built
              // cluster rows by geo inside each partition so parquet
              // row-group min/max statistics on `geo` line up with the
              // probe's geo predicate (a cell IN-list, or a prefix
              // cover's string range): a probe then skips whole row
              // groups, not just whole partitions — the layout that
              // matters once a geo_part partition holds many row groups
              // at 100 TB. `ts` follows in the sort but skips nothing:
              // it is written as INT96 (Spark's default
              // outputTimestampType), which has no min/max statistics.
              // geo_part LEADS the sort: the
              // partitioned writer requires ordering by the partition
              // column, and a sort that doesn't satisfy it as a prefix
              // gets a SECOND planner-inserted sort on geo_part alone —
              // wasted work, and a spill-merge there interleaves equal
              // keys and silently destroys the (geo, ts) clustering
              .sortWithinPartitions(col("geo_part"), col("geo"), col("ts"))
              .write
              .mode("overwrite")
              .partitionBy("geo_part")
              .parquet(path)
          // the written schema, geo_part a string (class scaladoc)
          val df = spark.read.schema(built.schema).parquet(path)
          val index = df.queryExecution.analyzed.collectFirst {
            case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
          }.get
          // a null geo_part (no geo key) lies under no probe prefix
          val parts = index.listFiles(Nil, Nil).collect {
            case d if !d.values.isNullAt(0) => d.values.getString(0) -> d
          }
          View(df, Some(parts.toMap))
        case None =>
          View(
            ViewBuilder.build(readings, geoExpr(geoIndex, precision), resolution)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
            None)
      })).value

  /** Partition-level pre-filter: the `geo_part` partitions under the
    * geo probe prefixes (a SUPERSET of the row-level geo predicate,
    * which still applies afterwards), coalesced to one partition when
    * their files are one input split (class scaladoc). No-op for
    * in-process views.
    */
  private def partPruned(v: View, prefixes: Seq[String]): DataFrame =
    v.parts match {
      case Some(parts) if prefixes.nonEmpty =>
        // a prefix coarser than the partition key selects every partition under it
        val qs = prefixes.map(_.take(geoPartLen)).distinct
        val selected = parts.filter { case (part, _) => qs.exists(part.startsWith) }
        val pruned = v.df.filter(col("geo_part").isin(selected.keys.toSeq: _*))
        if (Tables.splitCount(readings.sparkSession, selected.values.toSeq) <= 1) pruned.coalesce(1)
        else pruned
      case _ => v.df
    }

  /** GET …/history equivalent (QueryingService.java:38-135). */
  def history(p: HistoryParams): DataFrame = {
    val (source, geoPred, from, to) = resolveHistory(p)
    ExploraQueries.history(source, p.metricId, geoPred, from, to, p.aggregate)
  }

  /** [[history]] with the full Aggregate per timestamp — the
    * `local=true` payload shape (QueryingService.java:258-261).
    */
  def historyFull(p: HistoryParams): DataFrame = {
    val (source, geoPred, from, to) = resolveHistory(p)
    ExploraQueries.historyAll(source, p.metricId, geoPred, from, to)
  }

  private def resolveHistory(
      p: HistoryParams): (DataFrame, org.apache.spark.sql.Column, Instant, Instant) = {
    QueryValidation.validateHistory(
      p.geohashes,
      p.precision,
      p.aggregate,
      p.resolution,
      p.interval,
      p.fromMs.getOrElse(0L),
      p.toMs,
      // the REAL clock, not p.toMs: the reference compares fromDate
      // against System.currentTimeMillis (QueryingService.java:86-104),
      // and conflating now with an explicit past `to` would fire the
      // from-in-future text where the reference reports from≥to
      // (ADVICE r12)
      nowMs = System.currentTimeMillis())
    val res = p.resolution.getOrElse(ExploraQueries.IntervalResolution(p.interval.get))
    val to = Instant.ofEpochMilli(p.toMs)
    val from = p.fromMs
      .map(Instant.ofEpochMilli)
      .getOrElse(ExploraQueries.fromInstant(to, p.interval.getOrElse("5min")))
    val geoPred = ExploraQueries.cellsPredicate(p.geohashes)
    val source =
      if (p.src == "raw") rawAsView(p.precision, res) // reference's src=raw branch (dead there, real here)
      else partPruned(view("geohashing", p.precision, res), p.geohashes)
    (source, geoPred, from, to)
  }

  /** GET …/snapshot equivalent (QueryingService.java:137-230). */
  def snapshot(p: SnapshotParams): DataFrame = {
    val (source, geoPred, ts) = resolveSnapshot(p)
    ExploraQueries.snapshot(source, p.metricId, geoPred, ts, p.resolution, p.aggregate)
  }

  /** [[snapshot]] with the full Aggregate per cell — the `local=true`
    * payload shape (QueryingService.java:258-261).
    */
  def snapshotFull(p: SnapshotParams): DataFrame = {
    val (source, geoPred, ts) = resolveSnapshot(p)
    ExploraQueries.snapshotAll(source, p.metricId, geoPred, ts, p.resolution)
  }

  private def resolveSnapshot(
      p: SnapshotParams): (DataFrame, org.apache.spark.sql.Column, Instant) = {
    QueryValidation.validateSnapshot(
      p.tsMs, p.north, p.west, p.south, p.east, p.precision, p.aggregate, p.resolution)
    val ts = Instant.ofEpochMilli(p.tsMs)
    // bounded prefix covers work for ANY bbox size: full-length prefixes
    // are exact cell matches, auto-coarsened prefixes are the pushable
    // superset predicate (replaces the reference's 32^k enumeration)
    val prefixes = p.geoIndex match {
      case "quadtiling" =>
        QuadKey.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
      case _ =>
        GeoHash.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
    }
    (
      partPruned(view(p.geoIndex, p.precision, p.resolution), prefixes),
      ExploraQueries.prefixPredicate(prefixes),
      ts)
  }

  /** Polygon-region snapshot: the [[snapshot]] routing with an
    * arbitrary boundary instead of a bbox — exact-precision cell
    * IN-list from the point-in-polygon cover (GeoHash/QuadKey
    * .coverPolygon; no bbox over-selection), same view cache and
    * partition pruning. The reference's clients approximate regions by
    * hand-picking geohash lists for the history endpoint
    * (QueryingService.java:46-114); this derives the list from the
    * boundary itself.
    */
  def snapshotPolygon(
      polygon: Seq[(Double, Double)],
      metricId: String,
      aggregate: String,
      tsMs: Long,
      precision: Int,
      resolution: String,
      geoIndex: String = "quadtiling"): DataFrame = {
    // geoIndex default matches SnapshotParams — the two snapshot entry
    // points must not silently query different index families
    val (latMin, latMax, lonMin, lonMax) = graft.geo.Geometry.bboxOf(polygon)
    QueryValidation.validateSnapshot(
      tsMs, latMax, lonMin, latMin, lonMax, precision, aggregate, resolution)
    // exact polygon cells when the cover fits the cap; a polygon too
    // large for an exact fine-precision cover DEGRADES to the bounded
    // bbox prefix cover (the same over-selection the bbox snapshot and
    // the reference's geohash mode accept) instead of throwing. ONLY
    // the cap condition degrades — any other argument error propagates
    val (pred, prefixes) =
      try {
        val cells = geoIndex match {
          case "quadtiling" => QuadKey.coverPolygon(polygon, precision)
          case _            => GeoHash.coverPolygon(polygon, precision)
        }
        (ExploraQueries.cellsPredicate(cells), cells)
      } catch {
        case _: graft.geo.CoverTooLargeException =>
          val p = geoIndex match {
            case "quadtiling" => QuadKey.coverPrefixes(latMax, lonMin, latMin, lonMax, precision)
            case _            => GeoHash.coverPrefixes(latMax, lonMin, latMin, lonMax, precision)
          }
          (ExploraQueries.prefixPredicate(p), p)
      }
    ExploraQueries.snapshot(
      partPruned(view(geoIndex, precision, resolution), prefixes),
      metricId,
      pred,
      Instant.ofEpochMilli(tsMs),
      resolution,
      aggregate)
  }

  /** `src=raw`: aggregate straight from unaggregated readings at query
    * time — same result as the view path, without the materialization
    * (the trade the reference's raw stores would have made).
    */
  private def rawAsView(precision: Int, resolution: String): DataFrame =
    ViewBuilder.build(readings, substring(col("gh12"), 1, precision), resolution)
}

object ExploraService {

  /** A cached view. `parts` lists a disk view's files by `geo_part`
    * value, taken once from the view's own file index (None in-process).
    */
  private final case class View(df: DataFrame, parts: Option[Map[String, PartitionDirectory]])

  /** Evaluates `build` at most once, on the first `value`. */
  private final class Once[A](build: => A) {
    lazy val value: A = build
  }
}
