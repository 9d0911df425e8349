package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{ExploraGet, ExploraHttpServer, ExploraService, HistoryParams, SnapshotParams}
import graft.geo.{GeoHash, QuadKey}
import graft.sources.SensorGrid
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.graftshim.Shim
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Drives REAL HTTP GETs against a live [[ExploraHttpServer]] and
  * checks the payloads — both the success envelopes (row-for-row equal
  * to the library facade the gate oracles already certify) and the
  * reference's 400 error paths (querying/QueryingService.java:46-230).
  */
class HttpFacadeSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestBase._

  private val mapper = new ObjectMapper()
  private lazy val svc = new ExploraService(SensorGrid.readings(spark, Sf0001).cache())
  private lazy val httpServer = new ExploraHttpServer(svc)
  private lazy val base = s"http://127.0.0.1:${httpServer.start()}"

  // servers started by the prepared-path specs below
  private val servers = new java.util.concurrent.ConcurrentLinkedQueue[ExploraHttpServer]()

  override def afterAll(): Unit = {
    httpServer.stop()
    servers.forEach(_.stop())
  }

  private def serve(service: ExploraService): String = {
    val server = new ExploraHttpServer(service)
    servers.add(server)
    s"http://127.0.0.1:${server.start()}"
  }

  private def getRaw(baseUrl: String, pathAndQuery: String): (Int, String) = {
    val conn = URI.create(baseUrl + pathAndQuery).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  private def get(pathAndQuery: String): (Int, JsonNode) = {
    val (code, body) = getRaw(base, pathAndQuery)
    (code, mapper.readTree(body))
  }

  private val gh6 = SensorGrid.cellGeo.map(_._2.substring(0, 6)).distinct.sorted
  private val fromMs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
  private val toMs = java.time.Instant.parse("2024-02-01T00:00:00Z").toEpochMilli
  private val snapTsMs = java.time.Instant.parse("2024-01-15T07:00:00Z").toEpochMilli

  test("history GET returns the Message envelope, rows equal to the library facade") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.mkString(",")}" +
        s"&res=day&from=$fromMs&to=$toMs&gh_precision=6")
    assert(code === 200)
    assert(json.get("columns").get(0).asText === "timestamp")
    assert(json.get("columns").get(1).asText === "avg")
    assert(json.get("metadata").get("metric_id").asText === "click")
    val viaHttp = {
      val d = json.get("data")
      (0 until d.size).map(i => (d.get(i).get(0).asLong, d.get(i).get(1).asDouble))
    }
    val viaApi = svc.history(HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"),
      fromMs = Some(fromMs), toMs = toMs))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaHttp.nonEmpty && viaHttp === viaApi)
  }

  test("snapshot GET with the sim_api_load.sh query shape (ts, src, res, gh_precision, bbox)") {
    // same parameter shape as the reference's load script, over our grid
    val (code, json) = get(
      s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
        s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50")
    assert(code === 200)
    assert(json.get("columns").get(0).asText === "geohash")
    val viaHttp = {
      val d = json.get("data")
      (0 until d.size).map(i => (d.get(i).get(0).asText, d.get(i).get(1).asDouble))
    }
    val viaApi = svc.snapshot(SnapshotParams(
      "signup", "avg", snapTsMs, 51.31, 4.31, 51.17, 4.50, 6, "day",
      geoIndex = "geohashing"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(viaHttp.nonEmpty && viaHttp === viaApi)
  }

  test("quadtiling snapshot via geo_index param matches the facade") {
    val (code, json) = get(
      s"/api/airquality/signup/aggregate/count/snapshot?ts=$snapTsMs" +
        s"&res=day&gh_precision=14&geo_index=quadtiling&bbox=51.31,4.31,51.17,4.50")
    assert(code === 200)
    val viaHttp = {
      val d = json.get("data")
      (0 until d.size).map(i => (d.get(i).get(0).asText, d.get(i).get(1).asLong))
    }
    val viaApi = svc.snapshot(SnapshotParams(
      "signup", "count", snapTsMs, 51.31, 4.31, 51.17, 4.50, 14, "day",
      geoIndex = "quadtiling"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaHttp.nonEmpty && viaHttp === viaApi)
  }

  test("local=true returns the raw {key: {count, sum, avg}} map (Aggregate shape)") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.mkString(",")}" +
        s"&res=day&from=$fromMs&to=$toMs&local=true")
    assert(code === 200)
    val viaApi = svc.historyFull(HistoryParams(
      "click", "avg", gh6, 6, resolution = Some("day"),
      fromMs = Some(fromMs), toMs = toMs)).collect()
    assert(json.size === viaApi.length && viaApi.nonEmpty)
    viaApi.foreach { r =>
      val node = json.get(r.getLong(0).toString)
      assert(node != null, s"missing key ${r.getLong(0)}")
      assert(node.get("count").asLong === r.getLong(1))
      assert(math.abs(node.get("sum").asDouble - r.getDouble(2)) < 1e-9)
      assert(math.abs(node.get("avg").asDouble - r.getDouble(3)) < 1e-9)
    }
  }

  test("history interval mode routes like the library (interval table)") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/count/history?geohashes=${gh6.mkString(",")}" +
        s"&interval=1month&to=$toMs")
    assert(code === 200)
    assert(json.get("data").size > 0)
  }

  test("an invalid res beside a valid interval answers from the interval's view and writes no other") {
    val store = java.nio.file.Files.createTempDirectory("graft-res-store").toString
    val server = new ExploraHttpServer(new ExploraService(SensorGrid.readings(spark, Sf0001), viewStore = Some(store)))
    val storeBase = s"http://127.0.0.1:${server.start()}"
    try {
      val path = s"/api/airquality/click/aggregate/count/history?geohashes=${gh6.mkString(",")}" +
        s"&interval=1month&to=$toMs"
      val (code, body) = getRaw(storeBase, path)
      assert(code === 200)
      assert(mapper.readTree(body).get("data").size > 0, "the interval-only GET selects no rows")
      for (res <- Seq("week", "foo")) {
        assert(getRaw(storeBase, s"$path&res=$res") === (200, body), s"res=$res")
        assert(!new java.io.File(s"$store/geohashing_p6_$res").exists, s"res=$res wrote a view")
      }
    } finally server.stop()
  }

  test("each GET's Spark job carries the description explora:<route>") {
    val sc = spark.sparkContext
    val descriptions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val marker = s"label-marker-${java.util.UUID.randomUUID()}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Option(p.getProperty("spark.job.description")).foreach(descriptions.add)
          if (p.getProperty("spark.jobGroup.id") == marker) markerSeen.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val (h, _) = get(s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.mkString(",")}" +
        s"&res=day&from=$fromMs&to=$toMs")
      val (s, _) = get(s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
        "&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50")
      assert(h === 200 && s === 200)
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(descriptions.contains("explora:history") && descriptions.contains("explora:snapshot"),
        descriptions.toString)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("400: missing geohashes, with the reference's error text") {
    val (code, json) = get("/api/airquality/click/aggregate/avg/history?res=day")
    assert(code === 400)
    assert(json.get("errorCode").asInt === 400)
    assert(json.get("errorMessage").asText.contains("comma-separated geohash prefixes"))
  }

  test("400: unsupported aggregate") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/median/history?geohashes=${gh6.head}&res=day&to=$toMs")
    assert(code === 400)
    assert(json.get("errorMessage").asText.toLowerCase.contains("aggregate"))
  }

  test("400: neither resolution nor interval") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.head}&to=$toMs")
    assert(code === 400)
    assert(json.get("errorCode").asInt === 400)
  }

  test("400: from after to") {
    val (code, _) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.head}" +
        s"&res=day&from=$toMs&to=$fromMs")
    assert(code === 400)
  }

  test("400: non-numeric gh_precision") {
    val (code, _) = get(
      s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.head}" +
        s"&res=day&to=$toMs&gh_precision=six")
    assert(code === 400)
  }

  test("400: snapshot without ts, with the reference's error text") {
    val (code, json) = get(
      "/api/airquality/click/aggregate/avg/snapshot?bbox=51.31,4.31,51.17,4.50&res=day")
    assert(code === 400)
    assert(json.get("errorMessage").asText.contains("valid timestamp in milliseconds"))
  }

  test("400: snapshot without bbox") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/snapshot?ts=$snapTsMs&res=day")
    assert(code === 400)
    assert(json.get("errorMessage").asText.contains("bounding box"))
  }

  test("400: snapshot with non-numeric bbox coordinates") {
    val (code, json) = get(
      s"/api/airquality/click/aggregate/avg/snapshot?ts=$snapTsMs&res=day&bbox=a,b,c,d")
    assert(code === 400)
    assert(json.get("errorMessage").asText.contains("valid double values"))
  }

  test("404: unknown route") {
    val (code, json) = get("/api/airquality/click/nope")
    assert(code === 404)
    assert(json.get("errorCode").asInt === 404)
  }

  test("the server turns Nagle off: a 404 round trip is not held for the client's delayed ACK") {
    val request = java.net.http.HttpRequest.newBuilder(URI.create(s"$base/api/airquality/click/nope"))
      .GET().build()
    assert(System.getProperty("sun.net.httpserver.nodelay") === "true")
    // one kept-alive connection, as a real client holds it: a fresh
    // connection starts in quick-ACK mode and would not show the stall
    val client = java.net.http.HttpClient.newBuilder()
      .version(java.net.http.HttpClient.Version.HTTP_1_1).build()
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      val code = client.send(request, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode
      assert(code === 404)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    info(f"404 round trip: median $median%.1f ms of 20")
    // the JDK server sends headers and body separately; with Nagle on,
    // the body waits for the client's delayed ACK (~40 ms on Linux)
    assert(median < 20.0, f"404 round trip median $median%.1f ms: a delayed-ACK stall")
  }

  test("500: the body is a fixed message, never the exception's text") {
    // a view store "directory" that is a file: building a view fails
    val notADir = java.nio.file.Files.createTempFile("graft-store", ".file").toString
    val broken = new ExploraService(SensorGrid.readings(spark, Sf0001), viewStore = Some(notADir))
    val params = SnapshotParams(
      "signup", "avg", snapTsMs, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing")
    val detail = String.valueOf(intercept[Exception](broken.snapshot(params).collect()).getMessage)
    val server = new ExploraHttpServer(broken)
    val brokenBase = s"http://127.0.0.1:${server.start()}"
    try {
      val (code, body) = getRaw(brokenBase,
        s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
          "&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50")
      assert(code === 500)
      val json = mapper.readTree(body)
      assert(json.get("errorCode").asInt === 500)
      assert(json.get("errorMessage").asText === ExploraHttpServer.InternalErrorText)
      assert(!body.contains(detail) && !body.contains(notADir), s"500 body leaks: $body")
    } finally server.stop()
  }

  test("concurrent first GETs of an unbuilt disk view build and write it once") {
    val store = java.nio.file.Files.createTempDirectory("graft-cold-store").toString
    val cold = new ExploraService(SensorGrid.readings(spark, Sf0001), viewStore = Some(store))
    val server = new ExploraHttpServer(cold)
    val coldBase = s"http://127.0.0.1:${server.start()}"
    val sc = spark.sparkContext
    // view writes into this store; events arrive in order, so once the
    // marker job's start is seen every write before it has been counted
    val writes = new java.util.concurrent.atomic.AtomicInteger()
    val marker = s"cold-store-marker-${java.util.UUID.randomUUID()}"
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
              s.physicalPlanDescription.contains(store) =>
          writes.incrementAndGet()
        case _ =>
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          markerDone.countDown()
    }
    sc.addSparkListener(listener)
    val path = s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
      "&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val go = new java.util.concurrent.CountDownLatch(1)
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Int, String)] {
          def call(): (Int, String) = { go.await(); getRaw(coldBase, path) }
        })
      }
      go.countDown()
      val results = futures.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(results.map(_._1).distinct === Seq(200), results.map(_._1))
      assert(results.map(_._2).distinct.size === 1, "concurrent cold GETs returned different bodies")
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(writes.get === 1, s"the view was written ${writes.get} times")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      pool.shutdown()
      server.stop()
    }
  }

  test("concurrent serving: 200 GETs at concurrency 10 return one consistent envelope (sim_api_load.sh shape)") {
    // the reference's load protocol (sim_api_load.sh:1-5): 200 identical
    // snapshot GETs fanned out 10-wide against ONE server. Every
    // response must be byte-identical — the facade is stateless over an
    // immutable cached frame, so concurrency may not perturb a payload
    // (a torn write, a shared-buffer race, or an executor rejection
    // would each surface as a differing body or a non-200).
    val path =
      s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
        s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50"
    val (c0, expected) = get(path) // warm: JIT + first Spark job untimed
    assert(c0 === 200)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    val t0 = System.nanoTime()
    val futures = (1 to 200).map { _ =>
      pool.submit(new java.util.concurrent.Callable[(Int, JsonNode)] {
        def call(): (Int, JsonNode) = get(path)
      })
    }
    val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    val sec = (System.nanoTime() - t0) / 1e9
    pool.shutdown()
    assert(results.forall(_._1 == 200))
    assert(results.forall(_._2 == expected), "a concurrent response diverged from the sequential envelope")
    val rps = 200.0 / sec
    info(f"200 requests, concurrency 10: $sec%.2f s -> $rps%.1f req/s")
    // generous floor: catches an accidental serialization of the pool
    // (e.g. a global lock making concurrency-10 run 1-wide at seconds
    // per request), not a perf target for the multi-tenant box
    assert(rps > 1.0, f"throughput collapsed: $rps%.2f req/s")
  }

  test("concurrent serving from the DISK-backed view store at sf0.1: 200@10, PartitionFilters retained under load") {
    // VERDICT r9 #8: the 200@10 proof above runs on a cached sf0.001
    // frame; this is the PRODUCTION shape — the server answering from
    // the geo_part-partitioned parquet view store at sf0.1, while the
    // probe plan's partition pruning is inspected CONCURRENTLY with the
    // HTTP load (a pruning regression under contention would read the
    // whole view on every request).
    val store = java.nio.file.Files.createTempDirectory("graft-http-store").toString
    val svcDisk = new ExploraService(
      SensorGrid.readings(spark, Sf01), viewStore = Some(store))
    val serverDisk = new ExploraHttpServer(svcDisk)
    val baseDisk = s"http://127.0.0.1:${serverDisk.start()}"
    try {
      def getDisk(pathAndQuery: String): (Int, JsonNode) = {
        val (code, body) = getRaw(baseDisk, pathAndQuery)
        (code, mapper.readTree(body))
      }
      val path =
        s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs" +
          s"&src=tiles&res=day&gh_precision=6&bbox=51.31,4.31,51.17,4.50"
      val (c0, expected) = getDisk(path) // warm: view build + first scan untimed
      assert(c0 === 200)
      assert(expected.get("data").size > 0, "sf0.1 probe returned no rows")

      val params = SnapshotParams(
        "signup", "avg", snapTsMs, 51.31, 4.31, 51.17, 4.50, 6, "day",
        geoIndex = "geohashing")
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
        p.collect {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scansOf(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
        }.flatten
      def assertPruned(): Boolean = {
        val scans = scansOf(svcDisk.snapshot(params).queryExecution.executedPlan)
        scans.nonEmpty &&
          scans.head.metadata.getOrElse("PartitionFilters", "").contains("geo_part")
      }

      val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
      val t0 = System.nanoTime()
      val gets = (1 to 200).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Int, JsonNode)] {
          def call(): (Int, JsonNode) = getDisk(path)
        })
      }
      // plan inspections interleaved WITH the load on the same pool
      val pruneChecks = (1 to 10).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = assertPruned()
        })
      }
      val results = gets.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      val pruned = pruneChecks.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      val sec = (System.nanoTime() - t0) / 1e9
      pool.shutdown()
      assert(results.forall(_._1 == 200))
      assert(results.forall(_._2 == expected),
        "a concurrent disk-served response diverged from the sequential envelope")
      assert(pruned.forall(identity),
        "a probe plan lost its geo_part PartitionFilters under concurrent load")
      val rps = 200.0 / sec
      info(f"disk-backed sf0.1: 200 requests, concurrency 10: $sec%.2f s -> $rps%.1f req/s")
      assert(rps > 1.0, f"throughput collapsed: $rps%.2f req/s")
    } finally serverDisk.stop()
  }

  test("405: a non-GET request to a route runs nothing and answers with Allow: GET") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val marker = s"method-marker-${java.util.UUID.randomUUID()}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    val history = s"/api/airquality/click/aggregate/avg/history?geohashes=${gh6.mkString(",")}" +
      s"&res=day&from=$fromMs&to=$toMs"
    val snapshot = s"/api/airquality/signup/aggregate/avg/snapshot?ts=$snapTsMs&res=day&bbox=51.31,4.31,51.17,4.50"
    assert(get(history)._1 === 200 && get(snapshot)._1 === 200) // warm: views built before counting
    sc.addSparkListener(listener)
    try {
      for (path <- Seq(history, snapshot); method <- Seq("POST", "DELETE", "PUT")) {
        val conn = URI.create(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod(method)
        assert(conn.getResponseCode === 405, s"$method $path")
        val body = new String(conn.getErrorStream.readAllBytes(), StandardCharsets.UTF_8)
        assert(conn.getHeaderField("Allow") === "GET", s"$method $path")
        val json = mapper.readTree(body)
        assert(json.get("errorCode").asInt === 405 && json.get("errorMessage").asText.contains(method), body)
        conn.disconnect()
      }
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.get === 0, s"non-GET requests ran ${jobs.get} Spark jobs")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  // ---- the prepared path: a one-split GET runs a bound physical plan

  // a disk store at geoPartLen 2: the whole sf0.001 grid (u1…) is one
  // partition of one file, so every GET is one split. The readings need
  // a plan of their own: over `svc`'s, Spark's cache manager would
  // write `svc`'s persisted four-partition views, four files to a
  // partition
  private lazy val disk = new ExploraService(
    SensorGrid.readings(spark, Sf0001).repartition(1),
    viewStore = Some(java.nio.file.Files.createTempDirectory("graft-http-prepared").toString))
  private lazy val diskBase = serve(disk)
  // quadtiles of the world at geoPartLen 1: the north-west quadrant (0…) is one partition
  private lazy val world = new ExploraService(
    ExploraFixtures.worldReadings.repartition(1),
    viewStore = Some(java.nio.file.Files.createTempDirectory("graft-http-world").toString), geoPartLen = 1)
  private lazy val worldBase = serve(world)

  private def historyPath(p: HistoryParams): String =
    s"/api/airquality/${p.metricId}/aggregate/${p.aggregate}/history?geohashes=${p.geohashes.mkString(",")}" +
      s"&gh_precision=${p.precision}&res=${p.resolution.get}&from=${p.fromMs.get}&to=${p.toMs}"

  private def snapshotPath(p: SnapshotParams): String =
    s"/api/airquality/${p.metricId}/aggregate/${p.aggregate}/snapshot?ts=${p.tsMs}" +
      s"&bbox=${p.north},${p.west},${p.south},${p.east}&gh_precision=${p.precision}&res=${p.resolution}" +
      s"&geo_index=${p.geoIndex}"

  /** The body the facade writes for `df`'s rows: the `Message` envelope,
    * or the `local=true` map when `columns` is empty.
    */
  private def frameBody(df: DataFrame, columns: Seq[String], metricId: String): String = {
    val rows = df.collect()
    val root = mapper.createObjectNode()
    if (columns.isEmpty) rows.foreach { r =>
      val o = root.putObject(String.valueOf(r.get(0)))
      o.put("count", r.getLong(1))
      o.put("sum", r.getDouble(2))
      o.put("avg", r.getDouble(3))
    }
    else {
      val cols = root.putArray("columns")
      columns.foreach(cols.add)
      val data = root.putArray("data")
      rows.foreach { r =>
        val a = data.addArray()
        r.toSeq.foreach {
          case l: Long   => a.add(l)
          case d: Double => a.add(d)
          case s: String => a.add(s)
          case other     => fail(s"unexpected value $other")
        }
      }
      root.putObject("metadata").put("metric_id", metricId)
    }
    mapper.writeValueAsString(root)
  }

  private val january = HistoryParams(
    "click", "avg", gh6, 6, resolution = Some("day"), fromMs = Some(fromMs), toMs = toMs)
  private val antwerp = SnapshotParams(
    "signup", "avg", snapTsMs, 51.31, 4.31, 51.17, 4.50, 6, "day", geoIndex = "geohashing")

  test("a one-split GET's body is byte-identical to its DataFrame path") {
    val (nyLat, nyLon) = ExploraFixtures.worldPoints.head
    val ny = SnapshotParams("signup", "sum", ExploraFixtures.snapTs,
      nyLat + 0.02, nyLon - 0.03, nyLat - 0.02, nyLon + 0.03, 14, "day", geoIndex = "quadtiling")
    assert(QuadKey.coverPrefixes(ny.north, ny.west, ny.south, ny.east, 14).forall(c => c.length == 14 && c.startsWith("0")))
    assert(GeoHash.coverPrefixes(51.31, 4.31, 51.17, 4.50, 6).head.length < 6)
    val oneCell = january.copy(metricId = "signup", aggregate = "count", geohashes = Seq("u1555j"))
    val unknown = january.copy(metricId = "nope")
    // (name, server, path, the GET's request on its service, the envelope's columns; none for local=true)
    val cases: Seq[(String, String, String, ExploraService.Request, Seq[String])] = Seq(
      ("history", diskBase, historyPath(january), disk.historyRequest(january, Some("avg")), Seq("timestamp", "avg")),
      ("historyFull", diskBase, historyPath(january) + "&local=true", disk.historyRequest(january, None), Nil),
      ("one-cell history", diskBase, historyPath(oneCell), disk.historyRequest(oneCell, Some("count")),
        Seq("timestamp", "count")),
      ("geohash prefix cover", diskBase, snapshotPath(antwerp), disk.snapshotRequest(antwerp, Some("avg")),
        Seq("geohash", "avg")),
      ("quadtiling exact cover, leading-zero quadkeys", worldBase, snapshotPath(ny),
        world.snapshotRequest(ny, Some("sum")), Seq("geohash", "sum")),
      ("unknown metric", diskBase, historyPath(unknown), disk.historyRequest(unknown, Some("avg")),
        Seq("timestamp", "avg")))
    for ((name, server, path, request, columns) <- cases) {
      assert(request.physicalPlan.isDefined, s"$name is not a one-split GET")
      val (code, body) = getRaw(server, path)
      assert(code === 200, s"$name: $body")
      val metricId = path.split("/")(3)
      assert(body === frameBody(request.frame, columns, metricId), name)
      val json = mapper.readTree(body)
      val rows = if (columns.isEmpty) json.size else json.get("data").size
      assert((rows == 0) === (name == "unknown metric"), s"$name: $rows rows")
    }
    assert(getRaw(diskBase, historyPath(unknown))._2.contains("\"data\":[]"))
  }

  /** Runs per Catalyst rule so far, from Spark's rule metering. */
  private def ruleRuns(): Map[String, Long] =
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim.split("\\s+")).collect {
      case Array(rule, _, "/", _, _, "/", runs) => rule -> runs.toLong
    }.toMap

  test("a warmed one-split GET shape runs no optimizer or planner rule and compiles nothing") {
    val day = 86400000L
    val quad = antwerp.copy(aggregate = "sum", precision = 14, geoIndex = "quadtiling")
    val warm = Seq(historyPath(january), snapshotPath(antwerp), snapshotPath(quad))
    val reruns = Seq(
      historyPath(january.copy(geohashes = gh6.drop(2).take(20), fromMs = Some(fromMs + 3 * day), toMs = toMs - 2 * day)),
      snapshotPath(antwerp.copy(tsMs = snapTsMs + 2 * day, west = 4.36, east = 4.55)),
      snapshotPath(quad.copy(tsMs = snapTsMs - day, west = 4.33, east = 4.48)))
    // a rerun keeps its cover's shape (one prefix length) but not its list
    assert(GeoHash.coverPrefixes(51.31, 4.36, 51.17, 4.55, 6).map(_.length).distinct ===
      GeoHash.coverPrefixes(51.31, 4.31, 51.17, 4.50, 6).map(_.length).distinct)
    assert(QuadKey.coverPrefixes(51.31, 4.33, 51.17, 4.48, 14).map(_.length).distinct ===
      QuadKey.coverPrefixes(51.31, 4.31, 51.17, 4.50, 14).map(_.length).distinct)
    warm.foreach(p => assert(getRaw(diskBase, p)._1 === 200, p))
    val runs0 = ruleRuns()
    assert(runs0.size > 10, "Spark's rule metering did not parse")
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = reruns.map(getRaw(diskBase, _))
    val ran = ruleRuns().filter { case (rule, n) => n != runs0.getOrElse(rule, 0L) }.keySet
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
    got.zip(reruns).foreach { case ((code, body), p) =>
      assert(code === 200 && mapper.readTree(body).get("data").size > 0, s"$p: $body")
    }
    // executing any plan canonicalizes the expressions it generates code
    // for; every other Catalyst rule belongs to analysis, optimization or
    // (adaptive) planning
    val others = ran.filterNot(_.contains("ExpressionCanonicalizer")).toSeq.sorted
    assert(others.isEmpty, s"the reruns ran ${others.size} other Catalyst rules: ${others.take(8).mkString(", ")}, …")
    assert(compiled === 0, s"the reruns compiled $compiled classes")
  }

  /** Every broadcast id the driver's block manager holds. */
  private def broadcastIds(): Set[Long] =
    org.apache.spark.SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).collect {
      case org.apache.spark.storage.BroadcastBlockId(id, _) => id
    }.toSet

  test("warmed one-split GETs generate no code and broadcast nothing") {
    val day = 86400000L
    val quad = antwerp.copy(aggregate = "sum", precision = 14, geoIndex = "quadtiling")
    val warm = Seq(historyPath(january), snapshotPath(antwerp), snapshotPath(quad))
    val reruns = Seq(
      historyPath(january.copy(geohashes = gh6.drop(4).take(12), fromMs = Some(fromMs + 2 * day), toMs = toMs - 3 * day)),
      snapshotPath(antwerp.copy(tsMs = snapTsMs + day, west = 4.35, east = 4.52)),
      snapshotPath(quad.copy(tsMs = snapTsMs + day, west = 4.34, east = 4.47)))
    warm.foreach(p => assert(getRaw(diskBase, p)._1 === 200, p))
    val codegen0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime
    val broadcasts0 = broadcastIds()
    val got = reruns.map(getRaw(diskBase, _))
    val codegen = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime - codegen0
    val newBroadcasts = broadcastIds() -- broadcasts0
    got.zip(reruns).foreach { case ((code, body), p) =>
      assert(code === 200 && mapper.readTree(body).get("data").size > 0, s"$p: $body")
    }
    assert(codegen === 0L, s"the reruns spent $codegen ns generating whole-stage code")
    assert(newBroadcasts.isEmpty, s"the reruns broadcast ${newBroadcasts.size} values")
  }

  test("8 concurrent one-split GETs binding distinct values each get their own answer") {
    val day = 86400000L
    val params = (0 until 8).map(i => january.copy(
      geohashes = gh6.drop(i).take(3 + i), fromMs = Some(fromMs + i * day), toMs = toMs - (7 - i) * day))
    assert(params.forall(p => disk.historyRequest(p, Some("avg")).physicalPlan.isDefined))
    val want = params.map(p => frameBody(disk.history(p), Seq("timestamp", "avg"), "click"))
    assert(want.distinct.size === params.size)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = params.map(p => pool.submit(new java.util.concurrent.Callable[(Int, String)] {
        def call(): (Int, String) = { go.await(); getRaw(diskBase, historyPath(p)) }
      }))
      go.countDown()
      futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).zip(want).zipWithIndex.foreach {
        case (((code, body), w), i) => assert(code === 200 && body === w, s"thread $i")
      }
    } finally pool.shutdown()
  }

  test("an in-thread GET cleans up: a missing file answers 500, no task context, memory or reader stays behind") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-cleanup")
    val broken = new ExploraService(SensorGrid.readings(spark, Sf0001).repartition(1), viewStore = Some(store.toString))
    val brokenBase = serve(broken)
    assert(getRaw(brokenBase, historyPath(january))._1 === 200) // warm: the view is written and listed
    val request = broken.historyRequest(january, Some("avg"))
    assert(request.inThread)
    val clicks = java.nio.file.Files.walk(store.resolve("geohashing_p6_day/metric=click"))
    val parquet = try clicks.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList finally clicks.close()
    assert(parquet.nonEmpty)
    java.nio.file.Files.delete(parquet.head)
    val (code, body) = getRaw(brokenBase, historyPath(january))
    assert(code === 500, body)
    assert(mapper.readTree(body).get("errorMessage").asText === ExploraHttpServer.InternalErrorText)
    // the same run on this thread: it fails, and leaves the thread and the memory manager as it found them
    intercept[Exception](request.collect())
    assert(org.apache.spark.TaskContext.get() === null)
    assert(org.apache.spark.SparkEnv.get.memoryManager.executionMemoryUsed === 0L)

    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    // an intact store: in-thread runs leave no reader open
    (1 to 10).foreach(_ => assert(getRaw(diskBase, historyPath(january))._1 === 200))
    val fds0 = openFds()
    (1 to 200).foreach(_ => assert(getRaw(diskBase, historyPath(january))._1 === 200))
    val grown = openFds() - fds0
    assert(grown <= 16, s"200 in-thread GETs left $grown more open file descriptors")
  }

  test("a one-split GET starts no Spark job and posts one explora:<route> event") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val gets = new java.util.concurrent.ConcurrentLinkedQueue[ExploraGet]()
    val marker = s"prepared-marker-${java.util.UUID.randomUUID()}"
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker)) markerSeen.countDown()
        else jobs.add(Option(e.properties).map(_.getProperty("spark.job.description")).orNull)
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case g: ExploraGet => gets.add(g)
        case _             =>
      }
    }
    val paths = Seq(historyPath(january), snapshotPath(antwerp))
    assert(disk.historyRequest(january, Some("avg")).inThread && disk.snapshotRequest(antwerp, Some("avg")).inThread)
    paths.foreach(p => assert(getRaw(diskBase, p)._1 === 200)) // warm: views built before counting
    sc.addSparkListener(listener)
    try {
      val bodies = paths.map(getRaw(diskBase, _)._2)
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(jobs.isEmpty, s"one-split GETs started Spark jobs: $jobs")
      val got = gets.toArray(Array.empty[ExploraGet]).toSeq
      assert(got.map(_.label) === Seq("explora:history", "explora:snapshot"))
      assert(got.forall(g => g.inThread && g.durationNs > 0), got)
      assert(got.map(_.rows) === bodies.map(b => mapper.readTree(b).get("data").size))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("runOnePartition runs the partition's completion listeners, whether it succeeds or throws") {
    val completed = new java.util.concurrent.atomic.AtomicInteger()
    val listening = org.apache.spark.sql.functions.udf { (x: Long) =>
      org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => completed.incrementAndGet())
      if (x < 0) throw new IllegalStateException(s"row $x fails")
      x
    }
    def onePartition(from: Long) = spark.range(from, from + 1, 1, 1)
      .select(listening(org.apache.spark.sql.functions.col("id"))).queryExecution.executedPlan.execute()
    assert(Shim.runOnePartition(onePartition(1)).map(_.getLong(0)).toSeq === Seq(1L))
    assert(completed.get === 1, "a run that succeeds did not run its completion listener")
    intercept[Exception](Shim.runOnePartition(onePartition(-1)))
    assert(completed.get === 2, "a run that throws did not run its completion listener")
    assert(org.apache.spark.TaskContext.get() === null)
  }

  test("an explora:<route> event splits its GET into resolve, run and envelope, and counts the rows read") {
    val sc = spark.sparkContext
    val gets = new java.util.concurrent.ConcurrentLinkedQueue[ExploraGet]()
    val markers = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CountDownLatch]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).flatMap(id => Option(markers.get(id)))
          .foreach(_.countDown())
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case g: ExploraGet => gets.add(g)
        case _             =>
      }
    }
    // every event posted before a marker job is delivered before its start
    def flush(): Unit = {
      val marker = s"layers-marker-${java.util.UUID.randomUUID()}"
      val seen = new java.util.concurrent.CountDownLatch(1)
      markers.put(marker, seen)
      sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    // two in-thread GETs, and one over the in-process views, a Spark job
    val paths = Seq(diskBase -> historyPath(january), diskBase -> snapshotPath(antwerp), base -> historyPath(january))
    sc.addSparkListener(listener)
    try {
      paths.foreach { case (b, p) => assert(getRaw(b, p)._1 === 200) } // warm
      flush()
      gets.clear()
      paths.foreach { case (b, p) => assert(getRaw(b, p)._1 === 200) }
      flush()
      val got = gets.toArray(Array.empty[ExploraGet]).toSeq
      assert(got.map(_.inThread) === Seq(true, true, false), got)
      got.foreach { g =>
        assert(g.resolveNs > 0 && g.runNs > 0 && g.envelopeNs > 0, g)
        assert(g.resolveNs + g.runNs + g.envelopeNs <= g.durationNs, g)
        assert(g.rows > 0, g)
        if (g.inThread) assert(g.rowsRead >= g.rows, g) else assert(g.rowsRead === -1L, g)
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("concurrent one-split GETs of three shapes, each binding its own values, each get their frame's body") {
    val day = 86400000L
    val quad = antwerp.copy(aggregate = "sum", precision = 14, geoIndex = "quadtiling")
    // (path, the frame body it must equal): 8 bindings of each shape
    val requests: Seq[(String, String)] = (0 until 8).flatMap { i =>
      val h = january.copy(geohashes = gh6.drop(i).take(3 + 2 * i), fromMs = Some(fromMs + i * day), toMs = toMs - (7 - i) * day)
      val g = antwerp.copy(tsMs = snapTsMs + (i - 4) * day, west = 4.31 + 0.005 * i, east = 4.50 + 0.005 * i)
      val q = quad.copy(tsMs = snapTsMs + (i - 4) * day, north = 51.31 - 0.004 * i, south = 51.17 - 0.004 * i)
      Seq(
        historyPath(h) -> frameBody(disk.history(h), Seq("timestamp", "avg"), "click"),
        snapshotPath(g) -> frameBody(disk.snapshot(g), Seq("geohash", "avg"), "signup"),
        snapshotPath(q) -> frameBody(disk.snapshot(q), Seq("geohash", "sum"), "signup"))
    }
    assert(requests.map(_._2).distinct.size === requests.size, "two bindings share an answer")
    assert(requests.count(r => mapper.readTree(r._2).get("data").size > 0) >= requests.size / 2)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // each thread walks all shapes and bindings from its own offset
      val futures = (0 until 8).map(t => pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = {
          go.await()
          (0 until 25).flatMap { k =>
            val (path, want) = requests((t * 5 + k) % requests.size)
            val (code, body) = getRaw(diskBase, path)
            Option.when(code != 200 || body != want)(s"thread $t, $path: $code")
          }
        }
      }))
      go.countDown()
      val wrong = futures.flatMap(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(wrong.isEmpty, wrong.take(5).mkString("; "))
    } finally pool.shutdown()
  }
}
