package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import graft.api.{ExploraService, HistoryParams, SnapshotParams}
import graft.functions.{Slot, TimestampParam}
import graft.geo.{GeoHash, QuadKey}
import graft.operators.{ExploraQueries, ViewBuilder}
import graft.sources.SensorGrid
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit, round, substring, sum, timestamp_seconds}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{StringType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** The service facade: same routing as the reference's REST endpoints. */
class ExploraServiceSpec extends AnyFunSuite {
  import SparkTestBase._
  import ExploraFixtures.{worldPoints, worldReadings}

  private lazy val svc = new ExploraService(SensorGrid.readings(spark, Sf0001).cache())

  private val gh6 = SensorGrid.cellGeo.map(_._2.substring(0, 6)).distinct.sorted
  private val from = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val to = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** Every node of an executed plan. AQE wraps the plan and its
    * QueryStageExec nodes are LEAVES, so both adaptive layers are
    * unwrapped recursively.
    */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] =
    p.collect {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec        => q +: planNodes(q.plan)
      case n                        => Seq(n)
    }.flatten

  private def scansOf(df: DataFrame): Seq[FileSourceScanExec] =
    planNodes(df.queryExecution.executedPlan).collect { case f: FileSourceScanExec => f }

  private def shufflesOf(df: DataFrame): Seq[ShuffleExchangeExec] =
    planNodes(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }

  /** `df.collect()` and the number of Spark jobs it started. Jobs are
    * told apart by a job group; listener events arrive asynchronously
    * but in order, so a marker job run afterwards under another group
    * flushes them: once its end is seen, every earlier event has been.
    */
  private def collectCountingJobs(df: DataFrame): (Array[Row], Int) = {
    val sc = spark.sparkContext
    val group = s"explora-probe-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val probeJobs = ConcurrentHashMap.newKeySet[Int]()
    val markerDone = new CountDownLatch(1)
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`)  => probeJobs.add(e.jobId)
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _              =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      val rows = df.collect()
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      (rows, probeJobs.size)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Same rows in the same order; doubles may differ in the last bits,
    * because the disk and in-process plans sum in different orders.
    */
  private def assertSameRows(got: Array[Row], want: Array[Row], clue: String): Unit = {
    assert(got.length === want.length, clue)
    got.zip(want).foreach { case (g, w) =>
      assert(g.length === w.length, clue)
      g.toSeq.zip(w.toSeq).foreach {
        case (a: Double, b: Double) =>
          assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"$clue: $g vs $w")
        case (a, b) => assert(a === b, s"$clue: $g vs $w")
      }
    }
  }

  test("history with explicit resolution returns an ordered time series") {
    val df = svc.history(HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"), fromMs = Some(from), toMs = to))
    val ts = df.collect().map(_.getLong(0))
    assert(ts.nonEmpty && ts.sameElements(ts.sorted))
  }

  test("history with interval derives window + resolution from the table") {
    val df = svc.history(HistoryParams(
      "click", "count", gh6, 6, interval = Some("1month"), toMs = to))
    assert(df.columns.toSeq === Seq("ts_s", "cnt"))
    assert(df.count() > 0) // 1month → day resolution over January
  }

  test("src=raw equals the view path (same algebra, no materialization)") {
    val p = HistoryParams(
      "error", "sum", gh6, 6, resolution = Some("hour"), fromMs = Some(from), toMs = to)
    val viaView = svc.history(p).collect().map(_.toSeq).sortBy(_.mkString)
    val viaRaw = svc.history(p.copy(src = "raw")).collect().map(_.toSeq).sortBy(_.mkString)
    assert(viaRaw.sameElements(viaView))
  }

  test("snapshot routes quadtiling (exact cover) and geohashing (prefix cover) consistently") {
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val quad = svc.snapshot(SnapshotParams(
      "signup", "avg", ts, 51.31, 4.31, 51.17, 4.50, 14, "day", geoIndex = "quadtiling"))
    val gh = svc.snapshot(SnapshotParams(
      "signup", "avg", ts, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing"))
    // different cell systems, same underlying mass: Σcnt must agree
    import org.apache.spark.sql.functions.sum
    val quadRows = svc.snapshot(SnapshotParams(
      "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, 14, "day", geoIndex = "quadtiling"))
    val ghRows = svc.snapshot(SnapshotParams(
      "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing"))
    val quadTotal = quadRows.agg(sum("cnt")).head.get(0)
    val ghTotal = ghRows.agg(sum("cnt")).head.get(0)
    assert(quadTotal === ghTotal, s"quad=$quadTotal gh=$ghTotal")
    assert(quad.columns.toSeq === Seq("geo", "avg_val") && gh.columns.toSeq === Seq("geo", "avg_val"))
  }

  test("snapshotPolygon: polygon cells are a subset of the bbox snapshot, both geo indexes") {
    // sf0.01: the day×cell grid at sf0.001 is too sparse for a
    // polygon-restricted single-day probe to be reliably non-empty
    val denseSvc = new ExploraService(SensorGrid.readings(spark, Sf001))
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val tri = Seq((51.31, 4.31), (51.31, 4.50), (51.17, 4.405))
    for ((idx, prec) <- Seq(("geohashing", 6), ("quadtiling", 14))) {
      val poly = denseSvc.snapshotPolygon(tri, "signup", "count", ts, prec, "day", geoIndex = idx)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val bbox = denseSvc.snapshot(SnapshotParams(
        "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, prec, "day", geoIndex = idx))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(poly.nonEmpty, idx)
      // every polygon cell appears in the bbox result with the same count
      poly.foreach { case (geo, cnt) => assert(bbox.get(geo).contains(cnt), s"$idx $geo") }
      // and the polygon mass is bounded by the bbox mass
      assert(poly.values.sum <= bbox.values.sum, idx)
    }
  }

  test("snapshotPolygon degrades to the bounded prefix cover instead of throwing on huge polygons") {
    // a continent-sized polygon at gh12 would need >> 65k exact cells;
    // the service must fall back to the bbox prefix superset, not fail
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val big = Seq((71.0, -10.0), (71.0, 40.0), (36.0, 15.0))
    val r = svc.snapshotPolygon(big, "signup", "count", ts, 12, "day", geoIndex = "geohashing")
    assert(r.columns.toSeq === Seq("geo", "cnt")) // planned, not thrown
  }

  test("coarser quad precision via key prefix (zoom 10 view from zoom 14 keys)") {
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    val z10 = svc.snapshot(SnapshotParams(
      "signup", "count", ts, 51.31, 4.31, 51.17, 4.50, 10, "day", geoIndex = "quadtiling"))
    val rows = z10.collect()
    assert(rows.nonEmpty && rows.forall(_.getString(0).length == 10))
  }

  test("disk-backed view store: snapshot probe prunes geo_part partitions at file level") {
    val tmp = tempDir("graft-viewstore")
    // geoPartLen 5: the sf0.001 grid is all one Antwerp geohash-4 cell
    // (u155…), so partitions only separate at the 5th character
    val disk = new ExploraService(
      SensorGrid.readings(spark, Sf0001).cache(), viewStore = Some(tmp), geoPartLen = 5)
    val ts = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
    // probe a small box around the one cell that HAS signup data that
    // day at sf0.001 (u1555j): covers a strict subset of the geo_part
    // partitions (pruning observable), and the non-empty result keeps
    // AQE from collapsing the scan to EmptyRelation
    val (clat, clon) = graft.geo.GeoHash.decode("u1555j")
    val params = SnapshotParams(
      "signup", "count", ts, clat + 0.01, clon - 0.01, clat - 0.01, clon + 0.01,
      6, "day", geoIndex = "geohashing")

    val probe = disk.snapshot(params)
    // same answer as the in-process service
    val mem = svc.snapshot(params).collect().map(_.toSeq).sortBy(_.mkString)
    assert(mem.nonEmpty, "probe bbox/date has no data — pick one that does")
    assert(probe.collect().map(_.toSeq).sortBy(_.mkString).sameElements(mem))

    // the scan must prune on the partition column, not read-all-then-filter
    val scans = scansOf(probe)
    assert(scans.nonEmpty, "expected a parquet file scan under the disk-backed service")
    val pf = scans.head.metadata.getOrElse("PartitionFilters", "")
    assert(pf.contains("geo_part"), s"no geo_part partition filter in scan: $pf")
    // pruning is effective: fewer (metric, geo_part) dirs touched than
    // the probed metric alone has, so geo_part prunes within the metric
    val allParts = new java.io.File(s"$tmp/geohashing_p6_day/metric=signup")
      .listFiles().count(_.getName.startsWith("geo_part="))
    assert(scans.head.selectedPartitions.partitionCount < allParts,
      s"probe read all $allParts signup partitions — no geo_part pruning")
  }

  // one disk store per geo_part length, shared by the plan-shape tests:
  // at geoPartLen 2 the whole sf0.001 grid (Antwerp, u1…) is one
  // partition of one file, so every probe is one input split; at 5 the
  // Antwerp box spans several partitions, one file each. The readings
  // need a plan of their own: over `svc`'s readings, Spark's cache
  // manager would write `svc`'s persisted four-partition views, four
  // files to every partition
  private lazy val storeReadings = SensorGrid.readings(spark, Sf0001).repartition(1).cache()
  private lazy val disk2 = new ExploraService(storeReadings, viewStore = Some(tempDir("graft-vs2")))
  private lazy val disk5Store = tempDir("graft-vs5")
  private lazy val disk5 = new ExploraService(storeReadings, viewStore = Some(disk5Store), geoPartLen = 5)

  private val snapTs = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli
  private val (u1555jLat, u1555jLon) = graft.geo.GeoHash.decode("u1555j")
  // a small box around the one cell with signup data that day at sf0.001
  private val smallBox = SnapshotParams(
    "signup", "count", snapTs, u1555jLat + 0.01, u1555jLon - 0.01, u1555jLat - 0.01,
    u1555jLon + 0.01, 6, "day", geoIndex = "geohashing")
  private val antwerpBox = SnapshotParams(
    "signup", "count", snapTs, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing")
  private val januaryHistory = HistoryParams(
    "click", "avg", gh6, 6, resolution = Some("day"), fromMs = Some(from), toMs = to)

  private val oneSplitProbes: Seq[(String, ExploraService => DataFrame)] = Seq(
    "snapshot geohashing" -> (_.snapshot(smallBox)),
    "snapshot quadtiling" -> (_.snapshot(antwerpBox.copy(precision = 14, geoIndex = "quadtiling"))),
    "history" -> (_.history(januaryHistory)),
    "snapshotFull (local=true)" -> (_.snapshotFull(antwerpBox)),
    "historyFull (local=true)" -> (_.historyFull(januaryHistory)),
    "snapshotPolygon" -> (_.snapshotPolygon(
      Seq((u1555jLat + 0.02, u1555jLon - 0.02), (u1555jLat + 0.02, u1555jLon + 0.02),
        (u1555jLat - 0.02, u1555jLon)),
      "signup", "count", snapTs, 6, "day", geoIndex = "geohashing")))

  for ((name, probe) <- oneSplitProbes)
    test(s"disk-backed view store: a one-split $name probe is one Spark job with no exchange") {
      val want = probe(svc).collect()
      probe(disk2).collect() // the first probe of a view also writes it
      val fresh = probe(disk2)
      val (rows, jobs) = collectCountingJobs(fresh)
      assertSameRows(rows, want, name)
      assert(jobs === 1, s"$name ran $jobs Spark jobs")
      assert(shufflesOf(fresh).isEmpty, s"$name planned an exchange:\n${fresh.queryExecution.executedPlan}")
      // the coalesce keeps the partition pruning
      val scans = scansOf(fresh)
      assert(scans.size === 1 &&
        scans.head.metadata.getOrElse("PartitionFilters", "").contains("geo_part"), name)
    }

  test("one-split probes return data (the equalities above are not vacuous)") {
    for ((name, probe) <- oneSplitProbes) assert(probe(svc).collect().nonEmpty, name)
  }

  /** A probe planned in the forms the service used before its values
    * went to the generated code by reference: `ts` bounds as timestamp
    * literals, cells as `isin`, a cover as a `startsWith` OR-chain —
    * over the same view, rebuilt from the store's readings.
    */
  private def literalView(geoIndex: String, precision: Int, resolution: String): DataFrame =
    ViewBuilder.build(
      storeReadings,
      substring(col(if (geoIndex == "quadtiling") "qk14" else "gh12"), 1, precision),
      resolution)

  private def literalSnapshot(p: SnapshotParams): Array[Row] = {
    val cover =
      if (p.geoIndex == "quadtiling") QuadKey.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
      else GeoHash.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
    val t = ExploraQueries.truncateTs(java.time.Instant.ofEpochMilli(p.tsMs), p.resolution)
    literalView(p.geoIndex, p.precision, p.resolution)
      .filter(col("metric") === p.metricId && cover.map(col("geo").startsWith(_)).reduce(_ || _))
      .filter(col("ts") === timestamp_seconds(lit(t.getEpochSecond)))
      .groupBy(col("geo"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_val")).as("sum_val"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))
      .select(col("geo"), round(col(ExploraQueries.aggColumn(p.aggregate)), 6))
      .orderBy(col("geo"))
      .collect()
  }

  private def literalHistory(p: HistoryParams): Array[Row] =
    literalView("geohashing", p.precision, p.resolution.get)
      .filter(col("metric") === p.metricId && col("geo").isin(p.geohashes: _*))
      .filter(col("ts") >= timestamp_seconds(lit(Math.floorDiv(p.fromMs.get, 1000L))) &&
        col("ts") < timestamp_seconds(lit(Math.floorDiv(p.toMs, 1000L))))
      .groupBy(col("ts"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_val")).as("sum_val"))
      .withColumn("avg_val", col("sum_val") / col("cnt"))
      .select(col("ts").cast("long"), round(col(ExploraQueries.aggColumn(p.aggregate)), 6))
      .orderBy(col("ts"))
      .collect()

  test("a repeated GET shape compiles nothing: a new ts, window, cell list or box reuses the generated code") {
    val day = 86400000L
    val ghCover = antwerpBox.copy(aggregate = "avg")
    val quadCover = antwerpBox.copy(aggregate = "sum", precision = 14, geoIndex = "quadtiling")
    val ghRerun = ghCover.copy(tsMs = snapTs + 2 * day, west = 4.36, east = 4.55)
    val quadRerun = quadCover.copy(tsMs = snapTs - day, west = 4.33, east = 4.48)
    val histRerun = januaryHistory.copy(
      geohashes = gh6.drop(2).take(20), fromMs = Some(from + 3 * day), toMs = to - 2 * day)
    // a rerun keeps its cover's shape (one prefix length) but not its list
    for ((a, b) <- Seq(ghCover -> ghRerun, quadCover -> quadRerun)) {
      val Seq(ca, cb) = Seq(a, b).map(p =>
        if (p.geoIndex == "quadtiling") QuadKey.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
        else GeoHash.coverPrefixes(p.north, p.west, p.south, p.east, p.precision))
      assert(ca !== cb)
      assert((ca ++ cb).map(_.length).distinct.size === 1)
    }
    assert(GeoHash.coverPrefixes(51.31, 4.31, 51.17, 4.50, 6).head.length < 6,
      "the geohash box should take the coarsened prefix cover")

    disk2.snapshot(ghCover).collect()
    disk2.snapshot(quadCover).collect()
    disk2.history(januaryHistory).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = Seq(
      "geohash prefix-cover snapshot" -> disk2.snapshot(ghRerun).collect(),
      "quadtiling exact-cover snapshot" -> disk2.snapshot(quadRerun).collect(),
      "history" -> disk2.history(histRerun).collect())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0, s"a repeated GET shape compiled $compiled classes")

    val want = Seq(literalSnapshot(ghRerun), literalSnapshot(quadRerun), literalHistory(histRerun))
    got.zip(want).foreach { case ((name, rows), w) =>
      assert(w.nonEmpty, s"$name: the rerun selects no rows, so the equality shows nothing")
      assertSameRows(rows, w, name)
    }
  }

  test("a prefix-cover snapshot pushes its geo range to the file source") {
    assert(GeoHash.coverPrefixes(51.31, 4.31, 51.17, 4.50, 6).head.length < 6)
    val df = disk2.snapshot(antwerpBox)
    assert(df.collect().nonEmpty)
    val pushed = scansOf(df).head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(geo,") && pushed.contains("LessThan(geo,"), pushed)
  }

  // ---- prepared plans: one analysis per shape, values bound per request

  private def coverOf(p: SnapshotParams): Seq[String] =
    if (p.geoIndex == "quadtiling") QuadKey.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)
    else GeoHash.coverPrefixes(p.north, p.west, p.south, p.east, p.precision)

  private def viewOf(readings: DataFrame, geoIndex: String, precision: Int, resolution: String): DataFrame =
    ViewBuilder.build(
      readings, substring(col(if (geoIndex == "quadtiling") "qk14" else "gh12"), 1, precision), resolution)

  /** The direct `ExploraQueries` answers to a request, over its view
    * rebuilt in process from `readings`.
    */
  private def directSnapshot(readings: DataFrame, p: SnapshotParams, full: Boolean): Array[Row] = {
    val v = viewOf(readings, p.geoIndex, p.precision, p.resolution)
    val (pred, ts) = (ExploraQueries.prefixPredicate(coverOf(p)), java.time.Instant.ofEpochMilli(p.tsMs))
    (if (full) ExploraQueries.snapshotAll(v, p.metricId, pred, ts, p.resolution)
     else ExploraQueries.snapshot(v, p.metricId, pred, ts, p.resolution, p.aggregate)).collect()
  }

  private def directHistory(p: HistoryParams, full: Boolean): Array[Row] = {
    val v = viewOf(storeReadings, "geohashing", p.precision, p.resolution.get)
    val (pred, from, to) = (ExploraQueries.cellsPredicate(p.geohashes),
      java.time.Instant.ofEpochMilli(p.fromMs.get), java.time.Instant.ofEpochMilli(p.toMs))
    (if (full) ExploraQueries.historyAll(v, p.metricId, pred, from, to)
     else ExploraQueries.history(v, p.metricId, pred, from, to, p.aggregate)).collect()
  }

  private def directPolygon(poly: Seq[(Double, Double)], p: SnapshotParams): Array[Row] =
    ExploraQueries.snapshot(
      viewOf(storeReadings, p.geoIndex, p.precision, p.resolution), p.metricId,
      ExploraQueries.cellsPredicate(GeoHash.coverPolygon(poly, p.precision)),
      java.time.Instant.ofEpochMilli(p.tsMs), p.resolution, p.aggregate).collect()

  private def triangle(lat: Double, lon: Double, r: Double): Seq[(Double, Double)] =
    Seq((lat + r, lon - r), (lat + r, lon + r), (lat - r, lon))

  private val worldBox = SnapshotParams(
    "signup", "count", snapTs, 80.0, -180.0, -60.0, 180.0, 14, "day", geoIndex = "quadtiling")
  private lazy val worldDisk =
    new ExploraService(worldReadings, viewStore = Some(tempDir("graft-vs-qk")), geoPartLen = 5)

  test("prepared plans: a warmed shape rebound with new values answers like the direct query") {
    val day = 86400000L
    val (cLat, cLon) = (u1555jLat, u1555jLon)
    val poly = triangle(cLat, cLon, 0.02)
    val polyParams = smallBox.copy(aggregate = "count")
    // a sliver inside one p6 cell that holds no cell centre: no cells
    val (eLat, eLon) = GeoHash.decode("u1555k")
    val empty = Seq((eLat + 0.001, eLon + 0.001), (eLat + 0.001, eLon + 0.0011), (eLat + 0.0009, eLon + 0.001))
    assert(GeoHash.coverPolygon(empty, 6).isEmpty && GeoHash.coverPolygon(poly, 6).nonEmpty)
    val histRerun = januaryHistory.copy(
      aggregate = "sum", geohashes = gh6.drop(3).take(7), fromMs = Some(from + 5 * day), toMs = to - day)
    val quad = antwerpBox.copy(aggregate = "sum", precision = 14, geoIndex = "quadtiling")
    val west = worldBox.copy(east = 0.0)
    // (name, warm-up, rerun of the same shape with other values, direct answer)
    val cases: Seq[(String, () => DataFrame, () => DataFrame, () => Array[Row])] = Seq(
      ("history", () => disk2.history(januaryHistory), () => disk2.history(histRerun),
        () => directHistory(histRerun, full = false)),
      ("historyFull", () => disk2.historyFull(januaryHistory), () => disk2.historyFull(histRerun),
        () => directHistory(histRerun, full = true)),
      ("geohash prefix cover", () => disk2.snapshot(antwerpBox),
        () => disk2.snapshot(antwerpBox.copy(tsMs = snapTs + day, west = 4.35, east = 4.55)),
        () => directSnapshot(storeReadings, antwerpBox.copy(tsMs = snapTs + day, west = 4.35, east = 4.55), full = false)),
      ("snapshotFull", () => disk2.snapshotFull(antwerpBox),
        () => disk2.snapshotFull(antwerpBox.copy(metricId = "click")),
        () => directSnapshot(storeReadings, antwerpBox.copy(metricId = "click"), full = true)),
      ("quadtiling exact cover", () => disk2.snapshot(quad),
        () => disk2.snapshot(quad.copy(tsMs = snapTs - day, west = 4.33, east = 4.48)),
        () => directSnapshot(storeReadings, quad.copy(tsMs = snapTs - day, west = 4.33, east = 4.48), full = false)),
      ("polygon cells, rebound with none",
        () => disk2.snapshotPolygon(poly, "signup", "count", snapTs, 6, "day", "geohashing"),
        () => disk2.snapshotPolygon(empty, "signup", "count", snapTs, 6, "day", "geohashing"),
        () => directPolygon(empty, polyParams)),
      ("polygon cells", () => disk2.snapshotPolygon(empty, "signup", "count", snapTs, 6, "day", "geohashing"),
        () => disk2.snapshotPolygon(poly, "signup", "count", snapTs, 6, "day", "geohashing"),
        () => directPolygon(poly, polyParams)),
      ("several geo_parts, several splits", () => disk5.snapshot(antwerpBox),
        () => disk5.snapshot(antwerpBox.copy(metricId = "click", north = 51.28, south = 51.2)),
        () => directSnapshot(storeReadings, antwerpBox.copy(metricId = "click", north = 51.28, south = 51.2), full = false)),
      ("one geo_part, one split", () => disk5.snapshot(smallBox),
        () => disk5.snapshot(smallBox.copy(tsMs = snapTs + 3 * day)),
        () => directSnapshot(storeReadings, smallBox.copy(tsMs = snapTs + 3 * day), full = false)),
      ("leading-zero quadkeys", () => worldDisk.snapshot(worldBox), () => worldDisk.snapshot(west),
        () => directSnapshot(worldReadings, west, full = false)))
    // each rerun keeps its warm-up's shape: the same cover length
    for ((a, b) <- Seq(
        antwerpBox -> antwerpBox.copy(west = 4.35, east = 4.55),
        antwerpBox -> antwerpBox.copy(north = 51.28, south = 51.2),
        quad -> quad.copy(west = 4.33, east = 4.48),
        worldBox -> west))
      assert(coverOf(a).map(_.length).distinct === coverOf(b).map(_.length).distinct, b)
    assert(coverOf(west).exists(_.startsWith("0")))
    val answered = cases.map { case (name, warm, rerun, direct) =>
      warm().collect()
      val rows = rerun().collect()
      assertSameRows(rows, direct(), name)
      name -> rows.length
    }
    // every case but the empty cover selects rows, so the equalities show something
    answered.foreach { case (name, n) =>
      assert((n == 0) === name.endsWith("with none"), s"$name returned $n rows")
    }
  }

  test("prepared plans: a world cover \"\" bound into the slot body equals the direct query") {
    val v = viewOf(storeReadings, "geohashing", 6, "day")
    val t = ExploraQueries.truncateTs(java.time.Instant.ofEpochMilli(snapTs), "day")
    val slots = ExploraQueries.query(
      v, ExploraQueries.Snapshot, Slot.column("metric", StringType),
      ExploraQueries.prefixPredicate(0, Slot.column("lower", StringType), None, Slot.in(_, "geo")),
      ExploraQueries.at(Slot.column("at", TimestampType)), Some("count"))
    val bound = Slot.bind(
      slots.queryExecution.analyzed,
      Map("metric" -> Literal("signup"), "lower" -> Literal(""), "at" -> TimestampParam.ofSecond(t.getEpochSecond)),
      Map("geo" -> Seq("")))
    val want = ExploraQueries.snapshot(v, "signup", ExploraQueries.prefixPredicate(Seq("")), t, "day", "count").collect()
    assert(want.nonEmpty)
    assertSameRows(Shim.analyzedFrame(spark, bound).collect(), want, "world cover")
  }

  test("prepared plans: 8 threads binding distinct values into one shape each get their own answer") {
    val day = 86400000L
    val params = (0 until 8).map(i => januaryHistory.copy(
      geohashes = gh6.drop(i).take(3 + i), fromMs = Some(from + i * day), toMs = to - (7 - i) * day))
    disk2.history(januaryHistory).collect()
    val go = new CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = params.map(p => pool.submit(new java.util.concurrent.Callable[Array[Row]] {
        def call(): Array[Row] = { go.await(); disk2.history(p).collect() }
      }))
      go.countDown()
      val got = futures.map(_.get(120, TimeUnit.SECONDS))
      got.zip(params).zipWithIndex.foreach { case ((rows, p), i) =>
        assertSameRows(rows, directHistory(p, full = false), s"thread $i")
      }
      assert(got.map(_.toSeq).distinct.size === params.size, "two threads' values gave one answer")
    } finally pool.shutdown()
  }

  test("prepared plans: a warmed GET shape runs no analyzer rule") {
    val day = 86400000L
    val rerun = Seq[ExploraService => DataFrame](
      _.history(januaryHistory.copy(geohashes = gh6.take(4), fromMs = Some(from + day))),
      _.snapshot(antwerpBox.copy(tsMs = snapTs + day, west = 4.35)),
      _.snapshotFull(antwerpBox.copy(precision = 14, geoIndex = "quadtiling", tsMs = snapTs - day)))
    disk2.history(januaryHistory).collect()
    disk2.snapshot(antwerpBox).collect()
    disk2.snapshotFull(antwerpBox.copy(precision = 14, geoIndex = "quadtiling")).collect()
    for ((probe, i) <- rerun.zipWithIndex) {
      val before = RuleExecutor.getCurrentMetrics().numRuns
      val df = probe(disk2)
      val runs = RuleExecutor.getCurrentMetrics().numRuns - before
      assert(runs === 0, s"probe $i ran $runs analyzer rules building its frame")
      assert(df.collect().nonEmpty, s"probe $i")
    }
  }

  // ---- prepared physical plans: a one-split request runs its shape's kept pipeline

  // the HTTP facade's specs compare the GET bodies of both paths; a
  // polygon snapshot (cells, not prefixes) has no route
  test("prepared physical plans: a one-split polygon snapshot's bound plan answers exactly like its frame") {
    val (eLat, eLon) = GeoHash.decode("u1555k")
    val none = Seq((eLat + 0.001, eLon + 0.001), (eLat + 0.001, eLon + 0.0011), (eLat + 0.0009, eLon + 0.001))
    for ((polygon, rows) <- Seq(triangle(u1555jLat, u1555jLon, 0.02) -> "some", none -> "none")) {
      val r = disk2.snapshotPolygonRequest(polygon, "signup", "count", snapTs, 6, "day", "geohashing")
      assert(r.physicalPlan.isDefined, s"$rows: not a one-split request")
      val want = r.frame.collect().toSeq.map(_.toSeq)
      assert(want.isEmpty === (rows == "none"), s"$rows: ${want.size} rows")
      assert(r.collect() === want, rows)
    }
  }

  test("prepared physical plans: the bound scan prunes geo_part partitions and pushes the geo predicates") {
    /** The `(metric, geo_part)` directory names of each file of a run's split. */
    def dirsOf(r: ExploraService.Request): Seq[(String, String)] =
      r.binding.get.split.files.toSeq.map { f =>
        val dir = f.toPath.getParent
        (dir.getParent.getName, dir.getName)
      }
    def pushedOf(r: ExploraService.Request): String = r.binding.get.filters.mkString("[", ", ", "]")
    // a box inside the cell u1555j: one geo_part of several at geoPartLen 5
    val cellBox = smallBox.copy(
      north = u1555jLat + 0.002, west = u1555jLon - 0.002, south = u1555jLat - 0.002, east = u1555jLon + 0.002)
    assert(coverOf(cellBox) === Seq("u1555j"))
    val snap = disk5.snapshotRequest(cellBox, Some("count"))
    val snapDirs = dirsOf(snap)
    assert(snapDirs.nonEmpty && snapDirs.forall(_ == ("metric=signup", "geo_part=u1555")), snapDirs)
    // the split is every file of the selected directory, and only those
    val selected = new java.io.File(s"$disk5Store/geohashing_p6_day/metric=signup/geo_part=u1555")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(snapDirs.size === selected)
    val allParts = new java.io.File(s"$disk5Store/geohashing_p6_day/metric=signup")
      .listFiles().count(_.getName.startsWith("geo_part="))
    assert(snapDirs.distinct.size < allParts, "the run reads every signup partition")
    val pushedRange = pushedOf(snap)
    assert(pushedRange.contains("GreaterThanOrEqual(geo,") && pushedRange.contains("LessThan(geo,"), pushedRange)
    val hist = disk2.historyRequest(januaryHistory, Some("avg"))
    assert(dirsOf(hist).nonEmpty && dirsOf(hist).forall(_._1 == "metric=click"), dirsOf(hist))
    assert(pushedOf(hist).contains("In(geo,"), pushedOf(hist))
  }

  test("prepared physical plans: Parquet pushdown reaches the in-thread run, which reads what the frame scan reads") {
    // the view store written as the service writes it, but with row
    // groups of at most 10 rows, so the geo predicate can skip some
    val base = tempDir("graft-vs-rowgroups")
    ViewBuilder.build(storeReadings, substring(col("gh12"), 1, 6), "day")
      .withColumn("geo_part", substring(col("geo"), 1, 2))
      .sortWithinPartitions(col("metric"), col("geo_part"), col("geo"), col("ts"))
      .write.option("parquet.block.row.count.limit", 10L)
      .partitionBy("metric", "geo_part").parquet(s"$base/geohashing_p6_day")
    val small = new ExploraService(storeReadings, viewStore = Some(base))
    val p = januaryHistory.copy(geohashes = gh6.slice(10, 12))
    val r = small.historyRequest(p, Some("avg"))
    assert(r.inThread)
    val rows = r.collect()
    assert(rows.nonEmpty)
    val frame = r.frame
    assert(frame.collect().toSeq.map(_.toSeq) === rows)
    val scanned = scansOf(frame).head.metrics("numOutputRows").value
    val partitionRows = spark.read.parquet(s"$base/geohashing_p6_day/metric=click/geo_part=u1").count()
    assert(r.rowsRead === scanned, s"the run read ${r.rowsRead} rows, the frame scan $scanned")
    assert(r.rowsRead < partitionRows, s"the run read all $partitionRows rows of its partition")
  }

  test("disk-backed view store: a probe spanning several input splits keeps its exchanges") {
    val df = disk5.snapshot(antwerpBox)
    val rows = df.collect()
    val scans = scansOf(df)
    assert(scans.size === 1 && scans.head.selectedPartitions.partitionCount > 1,
      "the Antwerp box should select several geo_part partitions at geoPartLen 5")
    assert(shufflesOf(df).nonEmpty, s"multi-split probe lost its exchanges:\n${df.queryExecution.executedPlan}")
    val want = svc.snapshot(antwerpBox).collect()
    assert(want.nonEmpty)
    assertSameRows(rows, want, "multi-split snapshot")
  }

  test("disk-backed quadtiling store: geo_part is a string, so leading-zero coarse covers keep their partitions") {
    val cover = coverOf(worldBox)
    assert(cover.forall(_.length < 5) && cover.exists(_.startsWith("0")),
      s"the box must coarsen below zoom 5 with leading-zero prefixes: ${cover.take(8)}")

    val probe = worldDisk.snapshot(worldBox)
    val rows = probe.collect()
    val want = new ExploraService(worldReadings).snapshot(worldBox).collect()
    assert(want.length === worldPoints.size)
    assertSameRows(rows, want, "leading-zero quadtiling cover")
    val partType = scansOf(probe).head.relation.partitionSchema("geo_part").dataType
    assert(partType === StringType)
  }

  test("invalid parameters are rejected before any Spark work") {
    intercept[IllegalArgumentException] {
      svc.history(HistoryParams("click", "median", gh6, 6, Some("day"), None, Some(from), to))
    }
    intercept[IllegalArgumentException] {
      svc.history(HistoryParams("click", "avg", gh6, 6, None, None, Some(from), to))
    }
    intercept[IllegalArgumentException] {
      svc.snapshot(SnapshotParams("x", "avg", 0, 51.17, 4.31, 51.31, 4.50, 6, "day"))
    }
  }
}
