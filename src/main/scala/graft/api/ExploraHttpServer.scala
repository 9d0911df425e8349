package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.graftshim.Shim

/** The reference's REST entry point, re-expressed over the library
  * facade: a JDK `com.sun.net.httpserver` listener (no extra
  * dependencies) mapping
  *
  *   GET /api/airquality/{metricId}/aggregate/{agg}/history
  *   GET /api/airquality/{metricId}/aggregate/{agg}/snapshot
  *
  * onto [[ExploraService.history]]/[[ExploraService.snapshot]] with the
  * same query parameters, defaults, validation order and response
  * envelopes as querying/QueryingService.java:38-230:
  *
  *   - success → `Message{columns, data, metadata}`
  *     (model/Message.java:7-16): `columns` is
  *     `["timestamp", <agg>]` for history and `["geohash", <agg>]` for
  *     snapshot, `data` is a list of `[key, value]` pairs, `metadata`
  *     carries `metric_id`;
  *   - `local=true` → the raw `{key: {count, sum, avg}}` map
  *     (QueryingService.java:258-261, model/Aggregate.java:3-14) —
  *     here served from the same distributed plan (there is no
  *     "this instance only" partial state to expose; Spark's shuffle
  *     replaced scatter-gather, SURVEY §0);
  *   - validation failure → HTTP 400 with
  *     `ErrorMessage{errorMessage, errorCode}` (model/ErrorMessage.java);
  *   - a method other than GET on either route → HTTP 405 with an
  *     `Allow: GET` header and the `ErrorMessage` envelope, as the
  *     reference's JAX-RS `@GET` resources answer; nothing runs;
  *   - any other failure → HTTP 500 with a fixed `ErrorMessage` text;
  *     the exception itself goes to stderr, never into the body (it can
  *     carry store paths and planner internals).
  *
  * Timestamp keys are epoch SECONDS (`ts_s` — the library-wide
  * presentation convention), where the reference emits the view's epoch
  * millis; values are identical.
  *
  * Collecting the result is the API boundary, not a plan step: history
  * and snapshot results are per-timestamp / per-cell aggregates already
  * reduced by the distributed plan, the same cardinality the reference
  * serializes from its TreeMap. A one-split GET (its probed slice is one
  * input split, [[ExploraService]]) runs the one partition of its
  * shape's kept pipeline, under its own values and split, on the
  * handler thread itself: no Spark job, scheduler round trip or
  * executor hand-off. The envelope is written from the `InternalRow`s. Any other
  * GET collects its DataFrame as a Spark job under the
  * `explora:<route>` job description. Both write the same bytes. The
  * in-thread run gives up Spark's job events, replaced by one
  * [[ExploraGet]] listener event per 200 GET, and cancelling by job
  * group: a request deadline needs its own check on that path.
  *
  * Replicas (the reference runs 3 — kubernetes/explora-kafka-
  * deployment.yaml): the reference NEEDS its replicas to co-own query
  * state, so each instance scatter-gathers the others
  * (QueryingController.java:123-210). Here the server is STATELESS over
  * the shared view store ([[ExploraService]] reads the partitioned
  * parquet views; streaming maintenance is a separate writer job), so
  * horizontal scale is N independent drivers each running
  * `new ExploraHttpServer(service).start()` behind any HTTP load
  * balancer — no peer discovery, no instance-metadata service
  * (util/MetadataService.java:40-44 has no equivalent by design), no
  * cross-instance fan-out. Any replica answers any key; consistency is
  * the view store's snapshot isolation (parquet files are immutable,
  * MERGE upserts swap whole partition directories). `local=true` is
  * honored with the full answer because no instance holds partial
  * state.
  *
  * TCP_NODELAY: the JDK server writes a response's headers and its
  * body as two sends. With Nagle's algorithm on, the body waits until
  * the client ACKs the headers, and a client that delays its ACK
  * (Linux: up to 40 ms) stalls every response by that much — a bare 404
  * round trip took ~47 ms instead of ~4 ms. [[start]] therefore sets
  * `sun.net.httpserver.nodelay=true` unless the operator already set
  * it. The JDK reads the property once, when its server class is first
  * loaded, so it is set before the first `HttpServer.create`.
  */
class ExploraHttpServer(service: ExploraService, requestedPort: Int = 0) {
  import ExploraHttpServer.NoDelay

  private val mapper = new ObjectMapper()
  @volatile private var server: HttpServer = _

  /** Bound port (ephemeral when requestedPort == 0). */
  def port: Int = server.getAddress.getPort

  def start(): Int = synchronized {
    require(server == null, "server already started")
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    server = HttpServer.create(new InetSocketAddress(requestedPort), 0)
    server.createContext("/", (ex: HttpExchange) => route(ex))
    server.setExecutor(Executors.newFixedThreadPool(8))
    server.start()
    port
  }

  def stop(): Unit = synchronized {
    if (server != null) {
      // HttpServer.stop does NOT shut down a user-supplied executor;
      // its idle non-daemon workers would keep the JVM alive after
      // main returns (observed: Verify hung in DestroyJavaVM)
      val exec = server.getExecutor
      server.stop(0)
      exec match {
        case es: java.util.concurrent.ExecutorService => es.shutdown()
        case _                                        =>
      }
      server = null
    }
  }

  // ---- routing -------------------------------------------------------

  private def route(ex: HttpExchange): Unit =
    try {
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toSeq
      segs match {
        case Seq("api", "airquality", _, "aggregate", _, "history" | "snapshot") if ex.getRequestMethod != "GET" =>
          ex.getResponseHeaders.set("Allow", "GET")
          respond(ex, 405, errorJson(s"method ${ex.getRequestMethod} is not allowed, only GET", 405))
        case Seq("api", "airquality", metric, "aggregate", agg, "history") =>
          history(ex, dec(metric), dec(agg).toLowerCase)
        case Seq("api", "airquality", metric, "aggregate", agg, "snapshot") =>
          snapshot(ex, dec(metric), dec(agg).toLowerCase)
        case _ =>
          respond(ex, 404, errorJson(s"no route for ${ex.getRequestURI.getPath}", 404))
      }
    } catch {
      case e: IllegalArgumentException => respond(ex, 400, errorJson(e.getMessage, 400))
      case e: Exception =>
        System.err.println(s"[ExploraHttpServer] 500 for ${ex.getRequestURI}: $e")
        respond(ex, 500, errorJson(ExploraHttpServer.InternalErrorText, 500))
    } finally ex.close()

  /** GET …/history (QueryingService.java:38-135): same parameter names,
    * defaults and early-out error texts.
    */
  private def history(ex: HttpExchange, metricId: String, agg: String): Unit = {
    val start = System.nanoTime()
    val q = queryParams(ex)
    val geohashes = q.getOrElse("geohashes", "").toLowerCase
    if (geohashes.isEmpty)
      return respond(ex, 400, errorJson(
        "[getAirQualityHistory] You need to provide a list of comma-separated geohash prefixes", 400))

    // aggregate BEFORE the numeric parses: the reference checks it
    // second (QueryingService.java:57-84), so a request with both a
    // bad aggregate and a non-numeric parameter must surface the
    // aggregate error (ADVICE r12 — the parse used to run first)
    if (!graft.operators.ExploraQueries.SupportedAggregates.contains(agg))
      return respond(ex, 400, errorJson(
        s"[getAirQualityHistory] aggregate $agg is not yet supported", 400))

    val resolution = q.getOrElse("res", "").toLowerCase
    val interval = q.getOrElse("interval", "").toLowerCase
    val src = q.getOrElse("src", "tiles").toLowerCase
    val local = q.getOrElse("local", "false").toBoolean
    val (precision, fromMs, toMs) =
      try {
        (
          q.getOrElse("gh_precision", "6").toInt,
          q.getOrElse("from", "-1").toLong,
          q.getOrElse("to", "-1").toLong)
      } catch {
        case e: NumberFormatException =>
          return respond(ex, 400, errorJson(e.getMessage, 400))
      }

    val params = HistoryParams(
      metricId,
      agg,
      geohashes.split(",").toIndexedSeq,
      precision,
      resolution = Some(resolution).filter(_.nonEmpty),
      interval = Some(interval).filter(_.nonEmpty),
      fromMs = Some(fromMs).filter(_ >= 0),
      // reference default toDate=-1 means "up to now"
      toMs = if (toMs > 0) toMs else System.currentTimeMillis(),
      src = src)

    try {
      // local: Map<ts, Aggregate{count,sum,avg}> (QueryingService.java:258-261)
      run(ex, "history", start, service.historyRequest(params, Option.when(!local)(agg))) { rows =>
        if (local) localJson(rows) else messageJson(columns = Seq("timestamp", agg), data = rows, metricId = metricId)
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, errorJson(s"[getAirQualityHistory] ${e.getMessage}", 400))
    }
  }

  /** GET …/snapshot (QueryingService.java:137-230): `ts` and `bbox`
    * (N,W,S,E — the sim_api_load.sh shape) are required; `geo_index`
    * (extension) selects geohashing (default, geohash cell keys like
    * the reference) or quadtiling.
    */
  private def snapshot(ex: HttpExchange, metricId: String, agg: String): Unit = {
    val start = System.nanoTime()
    val q = queryParams(ex)

    val tsMs =
      try q.getOrElse("ts", "-1").toLong
      catch { case _: NumberFormatException => -1L }
    if (tsMs <= 0)
      return respond(ex, 400, errorJson(
        "[getAirQualitySnapshot] You need to provide a valid timestamp in milliseconds", 400))

    val bbox = q.getOrElse("bbox", "")
    if (bbox.isEmpty)
      return respond(ex, 400, errorJson(
        "[getAirQualitySnapshot] You need to provide a set of coordinates corresponding to a valid bounding box: (N,W,S,E)", 400))
    val coords =
      try bbox.split(",").map(_.trim.toDouble)
      catch {
        case _: NumberFormatException =>
          return respond(ex, 400, errorJson(
            "[getAirQualitySnapshot] You need to provide valid double values for the bounding box coordinates", 400))
      }
    if (coords.length != 4)
      return respond(ex, 400, errorJson(
        "[getAirQualitySnapshot] You need to provide a set of coordinates corresponding to a valid bounding box: (N,W,S,E)", 400))

    // aggregate before the precision parse — the reference's
    // statement order (ts → bbox → aggregate → precision)
    if (!graft.operators.ExploraQueries.SupportedAggregates.contains(agg))
      return respond(ex, 400, errorJson(
        s"[getAirQualitySnapshot] aggregate $agg is not yet supported", 400))

    val resolution = q.getOrElse("res", "").toLowerCase
    val geoIndex = q.getOrElse("geo_index", "geohashing").toLowerCase
    val local = q.getOrElse("local", "false").toBoolean
    val precision =
      try q.getOrElse("gh_precision", "6").toInt
      catch {
        case e: NumberFormatException =>
          return respond(ex, 400, errorJson(e.getMessage, 400))
      }

    val params = SnapshotParams(
      metricId, agg, tsMs,
      north = coords(0), west = coords(1), south = coords(2), east = coords(3),
      precision = precision, resolution = resolution, geoIndex = geoIndex)

    try {
      run(ex, "snapshot", start, service.snapshotRequest(params, Option.when(!local)(agg))) { rows =>
        if (local) localJson(rows) else messageJson(columns = Seq("geohash", agg), data = rows, metricId = metricId)
      }
    } catch {
      case e: IllegalArgumentException =>
        respond(ex, 400, errorJson(s"[getAirQualitySnapshot] ${e.getMessage}", 400))
    }
  }

  /** Answer 200 with `envelope` of the rows of `resolve`'s request,
    * collected under the job description `explora:<route>`, so that a
    * listener or the UI can tell a GET's job from others. The handler
    * threads are pooled and a local property stays with its thread, so
    * the description is cleared again whatever happens. An in-thread
    * GET starts no job, so every 200 GET also posts one [[ExploraGet]]
    * on the listener bus, with its time split into layers from `start`,
    * when the handler began parsing; it is posted before the response
    * is written, so a client that has its answer can count on the event
    * being queued.
    */
  private def run(ex: HttpExchange, route: String, start: Long, resolve: => ExploraService.Request)(
      envelope: Seq[Seq[Any]] => String): Unit = {
    val label = s"explora:$route"
    val request = resolve
    val resolved = System.nanoTime()
    val sc = request.spark.sparkContext
    sc.setJobDescription(label)
    val rows =
      try request.collect()
      finally sc.setJobDescription(null)
    val ran = System.nanoTime()
    val body = envelope(rows)
    val end = System.nanoTime()
    Shim.postEvent(request.spark, ExploraGet(label, request.inThread, rows.size, end - start,
      resolveNs = resolved - start, runNs = ran - resolved, envelopeNs = end - ran, rowsRead = request.rowsRead))
    respond(ex, 200, body)
  }

  // ---- envelopes -----------------------------------------------------

  /** `Message{columns, data, metadata}` (model/Message.java:7-16). */
  private def messageJson(columns: Seq[String], data: Seq[Seq[Any]], metricId: String): String = {
    val root = mapper.createObjectNode()
    val cols = root.putArray("columns")
    columns.foreach(cols.add)
    val d = root.putArray("data")
    data.foreach { row =>
      val r = d.addArray()
      row.foreach(v => addValue(r, v))
    }
    root.putObject("metadata").put("metric_id", metricId)
    mapper.writeValueAsString(root)
  }

  /** `{key: {count, sum, avg}}` — local-mode raw map
    * (QueryingService.java:258-261, Aggregate.java:3-14). Input rows are
    * (key, cnt, sum_val, avg_val).
    */
  private def localJson(rows: Seq[Seq[Any]]): String = {
    val root = mapper.createObjectNode()
    rows.foreach { r =>
      val o = root.putObject(String.valueOf(r(0)))
      o.put("count", r(1).asInstanceOf[Long])
      o.put("sum", r(2).asInstanceOf[Double])
      o.put("avg", r(3).asInstanceOf[Double])
    }
    mapper.writeValueAsString(root)
  }

  /** `ErrorMessage{errorMessage, errorCode}` (model/ErrorMessage.java). */
  private def errorJson(msg: String, code: Int): String = {
    val root = mapper.createObjectNode()
    root.put("errorMessage", msg)
    root.put("errorCode", code)
    mapper.writeValueAsString(root)
  }

  private def addValue(arr: com.fasterxml.jackson.databind.node.ArrayNode, v: Any): Unit =
    v match {
      case null       => arr.addNull()
      case l: Long    => arr.add(l)
      case i: Int     => arr.add(i)
      case d: Double  => arr.add(d)
      case s: String  => arr.add(s)
      case other      => arr.add(String.valueOf(other))
    }

  // ---- plumbing ------------------------------------------------------

  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    raw.split("&").filter(_.nonEmpty).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(dec(k) -> dec(v))
        case Array(k)    => Some(dec(k) -> "")
        case _           => None
      }
    }.toMap
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes)
    finally os.close()
  }
}

/** One answered (200) GET, posted on the Spark listener bus: the
  * `explora:<route>` label its job would carry, whether it ran in-thread
  * (and so started no job), its row count, and the nanoseconds from the
  * start of parsing to the envelope being ready, split into its layers:
  * `resolveNs` parses, validates, covers, probes and packs the request;
  * `runNs` is the in-thread run, or the Spark job; `envelopeNs` writes
  * the body. `rowsRead` is the rows the in-thread run's scan produced,
  * or -1 for a job.
  */
final case class ExploraGet(
    label: String,
    inThread: Boolean,
    rows: Int,
    durationNs: Long,
    resolveNs: Long,
    runNs: Long,
    envelopeNs: Long,
    rowsRead: Long)
    extends SparkListenerEvent

object ExploraHttpServer {

  /** The `errorMessage` of every 500 response. */
  val InternalErrorText = "internal server error"

  private val NoDelay = "sun.net.httpserver.nodelay"
}
