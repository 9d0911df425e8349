package graft.api

import java.time.Instant

import graft.functions.{Binding, Slot, TimestampParam}
import graft.geo.{GeoHash, QuadKey}
import graft.operators.{ExploraQueries, QueryValidation, ViewBuilder}
import graft.operators.ExploraQueries.{History, Route, Snapshot}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{
  FilePartition, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

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
  *   this path, partitioned by `metric` and then by the first
  *   `geoPartLen` characters of the geo key (`geo_part`) — the 100 TB
  *   layout: a probe names one metric and carries a `geo_part`
  *   predicate, so the scan prunes to that metric's probed partitions
  *   at the FILE level (PartitionFilters, asserted in
  *   ExploraServiceSpec) instead of reading the whole view. Both are
  *   read as the strings they were written as: inference would type
  *   quadtiling's all-digit directories (`00`…`33`) as integers, and a
  *   prefix such as `"03"` would then compare against `3`.
  *
  *   One split, one task: when the `geo_part` directories a probe
  *   selects pack into ONE input split — decided with Spark's own
  *   packing (`FilePartition.maxSplitBytes`, then the open-cost
  *   bin-packing of `FilePartition.getFilePartitions`) over the file
  *   index the view already holds, so deciding plans nothing — the
  *   pruned slice is `coalesce(1)`-ed. Its single partition satisfies
  *   the distribution the query's `groupBy` and `orderBy` require, so
  *   the probe is one task with no hash or range exchange, instead of a
  *   scan stage plus exchange stages and their per-job driver overhead
  *   (a DataFrame runs it as a one-task Spark job; the HTTP
  *   facade runs it on its handler thread, below). This is safe
  *   because the scan was one task anyway: the coalesce removes only
  *   the exchanges, never scan parallelism, and the rows are the same.
  *   A slice spanning several splits (the 100 TB case) keeps the
  *   parallel plan unchanged.
  *
  *   When None, views are kept as in-process persisted DataFrames
  *   (harness mode), also unchanged by the one-split rule.
  *
  * Each request binds its values into plans prepared once for its
  * shape. The shape is what fixes the plan: the view (geo index,
  * precision, resolution, `src`), the route, the aggregate column (or
  * the full Aggregate), the cover kind — an exact cell list, or
  * prefixes of one length, the world cover `""` being length 0 — and
  * whether the slice is one split; disk or in-process is fixed per
  * service. Everything else is a bound value: the metric, the `ts`
  * bounds, the cells or prefixes, the prefix range bounds and the
  * selected `geo_part`s. The first request of a shape runs
  * [[ExploraQueries.query]] over `graft.functions.Slot`s and keeps its
  * plans; a request replaces the slots with its own values at one of
  * two levels:
  *
  *   - Logical, for every shape: the ANALYZED plan is prepared. Each
  *     DataFrame this class returns binds it, so a request is not
  *     analyzed again, but it is still optimized and planned (with
  *     AQE) when it runs. A multi-split GET runs this frame too, so
  *     that the exchanges of the 100 TB case stay adaptive.
  *   - Physical, for a one-split shape on a disk view, when the HTTP
  *     facade runs it: the shape's analyzed plan is also optimized and
  *     planned once into a NON-adaptive physical plan (Spark's own
  *     preparation of a subquery's plan; the session and its AQE
  *     setting are unchanged), and that plan, still over slots, is
  *     executed once into the shape's kept in-thread pipeline
  *     ([[Shim.keptPipeline]]): its code is generated and compiled, its
  *     closures cleaned and its Hadoop conf broadcast once, and its file
  *     scan is a leaf that reads whatever the current run hands it. A
  *     GET hands the pipeline a [[graft.functions.Binding]]: its slot
  *     values, which the generated code reads once per run; the one
  *     input split its probe packed; and the shape's data filters with
  *     its values in place, translated by Spark into the filters pushed
  *     to Parquet's row-group and page filters. It runs the pipeline's
  *     one partition on the calling thread, as a task of its own
  *     without a Spark job ([[Shim.runOnePartition]]). No plan copy,
  *     `execute()`, code generation, broadcast, closure clean,
  *     optimizer, planner, AQE wrapper, SQL execution event, row
  *     encoder, scheduler, task serialization or task-binary broadcast
  *     runs per request. What the in-thread run gives up: it posts no
  *     job events (the HTTP facade posts its own per-GET event), and no
  *     job group can cancel it, so a request deadline needs its own
  *     check on this path.
  *
  * A view store is read once (its file listing is kept in
  * `View.parts`), so a prepared plan never needs to outlive it;
  * anything that rewrites a served view must drop the listing and the
  * shapes' analyzed plans and kept pipelines (with the Hadoop-conf
  * broadcast each pipeline holds) in one step.
  */
class ExploraService(
    readings: DataFrame,
    viewStore: Option[String] = None,
    geoPartLen: Int = 2) {
  import ExploraService.{Cells, Cover, Once, Prefixes, Prepared, Request, Shape, View, ViewKey}

  private def spark: SparkSession = readings.sparkSession

  // TrieMap.getOrElseUpdate may evaluate its default in every thread
  // that races on a key; caching a once-only holder means only the
  // holder that won the insert builds — and writes — the view
  private val viewCache = scala.collection.concurrent.TrieMap.empty[ViewKey, Once[View]]

  // one set of prepared plans per shape, held the same way; shapes are finite
  private val plans = scala.collection.concurrent.TrieMap.empty[Shape, Once[Prepared]]

  private def geoExpr(geoIndex: String, precision: Int) = geoIndex match {
    // prefix property: substring of a finer key IS the coarser key,
    // for both geohashes and quadkeys (GeoKernelSpec)
    case "quadtiling" => substring(col("qk14"), 1, precision)
    case _            => substring(col("gh12"), 1, precision)
  }

  private def view(key: ViewKey): View =
    viewCache.getOrElseUpdate(
      key,
      new Once(if (key.raw) View(rawAsView(key.precision, key.resolution), None) else viewStore match {
        case Some(base) =>
          val ViewKey(geoIndex, precision, resolution, _) = key
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
              // matters once a partition holds many row groups
              // at 100 TB. `ts` follows in the sort but skips nothing:
              // it is written as INT96 (Spark's default
              // outputTimestampType), which has no min/max statistics.
              // The partition columns LEAD the sort: the
              // partitioned writer requires ordering by the partition
              // columns, and a sort that doesn't satisfy it as a prefix
              // gets a SECOND planner-inserted sort on them alone —
              // wasted work, and a spill-merge there interleaves equal
              // keys and silently destroys the (geo, ts) clustering
              .sortWithinPartitions(col("metric"), col("geo_part"), col("geo"), col("ts"))
              .write
              .mode("overwrite")
              .partitionBy("metric", "geo_part")
              .parquet(path)
          // the written schema, metric and geo_part strings (class scaladoc)
          val df = spark.read.schema(built.schema).parquet(path)
          val index = df.queryExecution.analyzed.collectFirst {
            case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
          }.get
          val Seq(m, g) = Seq("metric", "geo_part").map(index.partitionSchema.fieldIndex)
          // a null geo_part (no geo key) lies under no probe prefix,
          // and no probe names a null metric
          val parts = index.listFiles(Nil, Nil).filterNot(d => d.values.isNullAt(m) || d.values.isNullAt(g))
          View(df, Some(parts.groupBy(_.values.getString(m)).map { case (metric, ds) =>
            metric -> ds.map(d => d.values.getString(g) -> d)
          }))
        case None =>
          View(
            ViewBuilder.build(readings, geoExpr(key.geoIndex, key.precision), key.resolution)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
            None)
      })).value

  /** Bind one request's values into the prepared plans of its shape
    * (class scaladoc). `times` are the `ts` bounds: (from, to) for a
    * history, the truncated instant for a snapshot. On a disk view the
    * slice read is `metric`'s `geo_part` partitions under the cover (a
    * SUPERSET of the row-level geo predicate, which still applies),
    * coalesced to one partition when their files are one input split,
    * which is then the split a one-split request's run reads.
    */
  private def probe(
      key: ViewKey,
      route: Route,
      agg: Option[String],
      metric: String,
      times: Seq[Instant],
      cover: Cover): Request = {
    val v = view(key)
    val (keys, prefixLen, bounds) = cover match {
      case Cells(cells) => (cells, None, Map.empty[String, Expression])
      case Prefixes(prefixes) =>
        val (lower, upper) = ExploraQueries.prefixRange(prefixes)
        (prefixes, Some(prefixes.head.length),
          Map("lower" -> Literal(lower)) ++ upper.map(u => "upper" -> Literal(u)))
    }
    val (parts, split) = v.parts match {
      case Some(byMetric) =>
        // a prefix coarser than the partition key selects every partition
        // under it; the file index's order is kept, and with it Spark's
        // file order within the split, which float sums depend on
        val qs = keys.map(_.take(geoPartLen)).distinct
        val selected = byMetric.getOrElse(metric, Nil).filter { case (part, _) => qs.exists(part.startsWith) }
        (selected.map(_._1), Tables.filePartitions(spark, selected.map(_._2)) match {
          case Seq()    => Some(FilePartition(0, Array.empty))
          case Seq(one) => Some(one)
          case _        => None
        })
      case None => (Nil, None)
    }
    val shape = Shape(key, route, agg, prefixLen, oneSplit = split.isDefined)
    val values = Map[String, Expression]("metric" -> Literal(metric)) ++ bounds ++
      tsSlots(route).zip(times.map(t => TimestampParam.ofSecond(t.getEpochSecond)))
    new Request(spark, plans.getOrElseUpdate(shape, new Once(prepare(shape, v))).value,
      values, Map("geo" -> keys, "geo_part" -> parts), split)
  }

  private def tsSlots(route: Route): Seq[String] = route match {
    case History  => Seq("from", "to")
    case Snapshot => Seq("at")
  }

  /** The prepared plans of [[ExploraQueries.query]] for `shape`, over slots. */
  private def prepare(shape: Shape, v: View): Prepared = {
    def slot(name: String, t: DataType): Column = Slot.column(name, t)
    val source = v.parts match {
      case Some(_) =>
        val pruned = v.df.filter(Slot.in(col("geo_part"), "geo_part"))
        if (shape.oneSplit) pruned.coalesce(1) else pruned
      case None => v.df
    }
    val geoPred = shape.prefixLen match {
      case None => Slot.in(col("geo"), "geo")
      case Some(len) =>
        ExploraQueries.prefixPredicate(
          len, slot("lower", StringType), Option.when(len > 0)(slot("upper", StringType)), Slot.in(_, "geo"))
    }
    val tsPred = tsSlots(shape.route).map(slot(_, TimestampType)) match {
      case Seq(from, to) => ExploraQueries.during(from, to)
      case Seq(at)       => ExploraQueries.at(at)
    }
    new Prepared(spark,
      ExploraQueries.query(source, shape.route, slot("metric", StringType), geoPred, tsPred, shape.agg)
        .queryExecution.analyzed,
      shape.oneSplit)
  }

  /** GET …/history equivalent (QueryingService.java:38-135). */
  def history(p: HistoryParams): DataFrame = historyRequest(p, Some(p.aggregate)).frame

  /** [[history]] with the full Aggregate per timestamp — the
    * `local=true` payload shape (QueryingService.java:258-261).
    */
  def historyFull(p: HistoryParams): DataFrame = historyRequest(p, None).frame

  /** A history GET bound to its values: [[history]] with `agg`, or
    * [[historyFull]] when `agg` is None.
    */
  private[graft] def historyRequest(p: HistoryParams, agg: Option[String]): Request = {
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
    // the branch validation dispatched on: an invalid `res` beside a
    // valid `interval` answers from the interval's view, never from a
    // view named by the invalid value
    val res = QueryValidation.historyBranch(p.resolution, p.interval).get
      .fold(identity, ExploraQueries.IntervalResolution)
    val to = Instant.ofEpochMilli(p.toMs)
    val from = p.fromMs
      .map(Instant.ofEpochMilli)
      .getOrElse(ExploraQueries.fromInstant(to, p.interval.getOrElse("5min")))
    // src=raw: the reference's branch, dead there, real here
    probe(ViewKey("geohashing", p.precision, res, raw = p.src == "raw"), History, agg,
      p.metricId, Seq(from, to), Cells(p.geohashes))
  }

  /** GET …/snapshot equivalent (QueryingService.java:137-230). */
  def snapshot(p: SnapshotParams): DataFrame = snapshotRequest(p, Some(p.aggregate)).frame

  /** [[snapshot]] with the full Aggregate per cell — the `local=true`
    * payload shape (QueryingService.java:258-261).
    */
  def snapshotFull(p: SnapshotParams): DataFrame = snapshotRequest(p, None).frame

  /** A snapshot GET bound to its values: [[snapshot]] with `agg`, or
    * [[snapshotFull]] when `agg` is None.
    */
  private[graft] def snapshotRequest(p: SnapshotParams, agg: Option[String]): Request = {
    QueryValidation.validateSnapshot(
      p.tsMs, p.north, p.west, p.south, p.east, p.precision, p.aggregate, p.resolution)
    // bounded prefix covers work for ANY bbox size: full-length prefixes
    // are exact cell matches, auto-coarsened prefixes are the pushable
    // superset predicate (replaces the reference's 32^k enumeration)
    val prefixes = p.geoIndex match {
      case "quadtiling" =>
        QuadKey.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
      case _ =>
        GeoHash.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
    }
    snapshotAt(p.geoIndex, p.precision, p.resolution, agg, p.metricId, p.tsMs, Prefixes(prefixes))
  }

  private def snapshotAt(
      geoIndex: String,
      precision: Int,
      resolution: String,
      agg: Option[String],
      metric: String,
      tsMs: Long,
      cover: Cover): Request =
    probe(ViewKey(geoIndex, precision, resolution), Snapshot, agg, metric,
      Seq(ExploraQueries.truncateTs(Instant.ofEpochMilli(tsMs), resolution)), cover)

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
      geoIndex: String = "quadtiling"): DataFrame =
    snapshotPolygonRequest(polygon, metricId, aggregate, tsMs, precision, resolution, geoIndex).frame

  /** [[snapshotPolygon]] bound to its values. */
  private[graft] def snapshotPolygonRequest(
      polygon: Seq[(Double, Double)],
      metricId: String,
      aggregate: String,
      tsMs: Long,
      precision: Int,
      resolution: String,
      geoIndex: String): Request = {
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
    val cover =
      try Cells(geoIndex match {
        case "quadtiling" => QuadKey.coverPolygon(polygon, precision)
        case _            => GeoHash.coverPolygon(polygon, precision)
      })
      catch {
        case _: graft.geo.CoverTooLargeException =>
          Prefixes(geoIndex match {
            case "quadtiling" => QuadKey.coverPrefixes(latMax, lonMin, latMin, lonMax, precision)
            case _            => GeoHash.coverPrefixes(latMax, lonMin, latMin, lonMax, precision)
          })
      }
    snapshotAt(geoIndex, precision, resolution, Some(aggregate), metricId, tsMs, cover)
  }

  /** `src=raw`: aggregate straight from unaggregated readings at query
    * time — same result as the view path, without the materialization
    * (the trade the reference's raw stores would have made).
    */
  private def rawAsView(precision: Int, resolution: String): DataFrame =
    ViewBuilder.build(readings, substring(col("gh12"), 1, precision), resolution)
}

object ExploraService {

  /** A view: (geo index, precision, resolution), read from the raw
    * readings at query time when `raw`.
    */
  private final case class ViewKey(geoIndex: String, precision: Int, resolution: String, raw: Boolean = false)

  /** A cached view. `parts` lists a disk view's files by `metric`, then
    * by `geo_part` value in the file index's order, taken once from the
    * view's own file index (None in-process and raw).
    */
  private final case class View(df: DataFrame, parts: Option[Map[String, Seq[(String, PartitionDirectory)]]])

  /** A request's spatial cover: exact cells, or prefixes of one length. */
  private sealed trait Cover
  private final case class Cells(cells: Seq[String]) extends Cover
  private final case class Prefixes(prefixes: Seq[String]) extends Cover

  /** What fixes a prepared plan (class scaladoc); `prefixLen` is None
    * for an exact cell cover.
    */
  private final case class Shape(
      view: ViewKey,
      route: Route,
      agg: Option[String],
      prefixLen: Option[Int],
      oneSplit: Boolean)

  /** The prepared plans of a shape: the analyzed plan of
    * [[ExploraQueries.query]] over slots and, for a one-split shape, its
    * kept in-thread pipeline, built from it on first use (class
    * scaladoc).
    */
  private final class Prepared(spark: SparkSession, val analyzed: LogicalPlan, val oneSplit: Boolean) {
    lazy val pipeline: Option[Shim.Pipeline] = Option.when(oneSplit)(Shim.keptPipeline(spark, analyzed))
  }

  /** One request: its values, bound on demand into its shape's plans,
    * and, for a one-split shape, the one input split it reads.
    */
  private[graft] final class Request private[ExploraService] (
      val spark: SparkSession,
      prepared: Prepared,
      values: Map[String, Expression],
      sets: Map[String, Seq[String]],
      split: Option[FilePartition]) {

    /** The DataFrame of the bound analyzed plan: it is optimized and
      * planned when it runs, like any frame.
      */
    def frame: DataFrame = Shim.analyzedFrame(spark, Slot.bind(prepared.analyzed, values, sets))

    /** For a one-split shape, the physical plan it runs: its shape's
      * plan over slots, shared by every request of the shape; None for
      * any other shape.
      */
    def physicalPlan: Option[SparkPlan] = prepared.pipeline.map(_.plan)

    /** For a one-split shape, this request's run of its shape's pipeline:
      * the slot values, the split and the filters pushed to Parquet
      * (the shape's data filters with the values in place); None for
      * any other shape.
      */
    lazy val binding: Option[Binding] = prepared.pipeline.map(p =>
      Binding(values, sets, split.get, Shim.pushedFilters(p.dataFilters.map(Slot.bind(_, values, sets)))))

    /** Whether [[collect]] runs on the calling thread: a one-split shape. */
    def inThread: Boolean = prepared.oneSplit

    /** The rows the in-thread run's scan produced in [[collect]]; -1 for
      * a request collected as a Spark job.
      */
    def rowsRead: Long = binding.fold(-1L)(_.rowsRead)

    /** The result rows as Scala values, strings as `String`. A one-split
      * request runs the one partition of its shape's kept pipeline on
      * the calling thread, under its [[binding]]
      * ([[Shim.runOnePartition]]: no plan copy, `execute()`, code
      * generation or broadcast, and no Spark job, so no job event and
      * no job-group cancel), and reads the values straight from the
      * `InternalRow`s; any other request collects its frame, as a Spark
      * job.
      */
    def collect(): Seq[Seq[Any]] = prepared.pipeline match {
      case Some(p) =>
        val types = p.plan.output.map(_.dataType)
        Binding.run(binding.get)(Shim.runOnePartition(p.rdd)).toSeq.map { r =>
          types.indices.map { i =>
            if (r.isNullAt(i)) null
            else r.get(i, types(i)) match {
              case s: UTF8String => s.toString
              case v             => v
            }
          }
        }
      case None => frame.collect().toSeq.map(_.toSeq)
    }
  }

  /** Evaluates `build` at most once, on the first `value`. */
  private final class Once[A](build: => A) {
    lazy val value: A = build
  }
}
